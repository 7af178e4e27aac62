"""Physical-plan invariants — the properties that make the pipeline
viable at 100 TB, locked in as tests so a refactor can't silently
regress them:

- column pruning reaches the parquet scan through mapInPandas
  (extraction reads url+html only, whatever the pages schema);
- the canonicalization rewrite broadcasts the mapping (the big triples
  side never shuffles);
- brute-force cosine top-k broadcasts the query side;
- dedup does map-side partial aggregation before its single exchange;
- LSH/IVF signature work contains no per-row Python (no
  BatchEvalPython / ArrowEvalPython nodes — pure codegen expressions).
"""

import io
import re
from contextlib import contextmanager, redirect_stdout

import pytest

pytestmark = pytest.mark.spark


def plan_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def window_partition_specs(plan: str) -> list[str]:
    """The partition spec of every Window node in ``explain("formatted")``
    output, "" for a global (single-task) window. A node's line reads
    ``Arguments: [exprs], [partitionSpec], [orderSpec]`` with an empty
    spec left out, so the partition spec is the group after the window
    expressions that is not a list of sort orders."""
    specs = []
    for m in re.finditer(r"^\(\d+\) Window\n(?:.*\n)*?Arguments: (.*)$", plan, re.M):
        groups, depth, start = [], 0, 0
        for i, ch in enumerate(m.group(1)):
            if ch == "[":
                depth += 1
                if depth == 1:
                    start = i + 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append(m.group(1)[start:i])
        part = [g for g in groups[1:] if not re.search(r" (ASC|DESC) NULLS (FIRST|LAST)$", g)]
        specs.append(part[0] if part else "")
    return specs


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    from microdata_rdf_streaming_parser_js_spark.sources.pages import (
        synthesize_fixture_pages,
    )

    path = str(tmp_path_factory.mktemp("plans") / "pages.parquet")
    synthesize_fixture_pages(spark, n_pages=40, n_hosts=4).write.parquet(path)
    return path


def test_extraction_scan_prunes_columns(spark, pages_parquet):
    from microdata_rdf_streaming_parser_js_spark.operators.extract import (
        extract_triples,
    )

    pages = spark.read.parquet(pages_parquet)  # 5-column schema
    plan = plan_str(extract_triples(pages))
    assert "ReadSchema: struct<url:string,html:binary>" in plan
    # warc_ts/text/lang never leave the scan
    assert "warc_ts" not in plan


def test_canonicalize_broadcasts_mapping(spark, pages_parquet):
    from microdata_rdf_streaming_parser_js_spark.operators.canonicalize import (
        canonicalize_subjects,
    )
    from microdata_rdf_streaming_parser_js_spark.operators.extract import (
        extract_triples,
    )

    triples = extract_triples(spark.read.parquet(pages_parquet))
    mapping = spark.createDataFrame(
        [("http://a.example/x", "http://a.example/y")], "iri string, canonical_iri string"
    )
    out = canonicalize_subjects(triples, mapping)
    # Spark cannot size this RDD-backed mapping, so the static plan
    # sort-merges; AQE broadcasts it from its runtime size. Collecting
    # runs the frame's own adaptive plan, which explain then shows final.
    out.collect()
    final = plan_str(out).split("== Initial Plan ==")[0]
    assert "== Final Plan ==" in final
    assert "BroadcastHashJoin" in final


@contextmanager
def broadcast_threshold_below(spark, small):
    """Set Spark's broadcast byte threshold under ``small``'s size
    estimate for the block, restoring it after (the session is shared)."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    est = int(str(small._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    spark.conf.set(key, str(max(1, est // 2)))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_canonicalize_sort_merges_above_threshold(spark, pages_parquet):
    """A mapping larger than Spark's broadcast byte threshold must NOT
    be broadcast (a broadcast 500M-row mapping is an executor OOM at
    scale) — it plans as SortMergeJoin."""
    from pyspark.sql import functions as F

    from microdata_rdf_streaming_parser_js_spark.operators.canonicalize import (
        canonicalize_subjects,
    )
    from microdata_rdf_streaming_parser_js_spark.operators.extract import (
        extract_triples,
    )

    triples = extract_triples(spark.read.parquet(pages_parquet))
    mapping = spark.range(10).select(
        F.concat(F.lit("http://a.example/"), F.col("id")).alias("iri"),
        F.lit("http://a.example/canon").alias("canonical_iri"),
    )
    assert "BroadcastHashJoin" in plan_str(canonicalize_subjects(triples, mapping))
    with broadcast_threshold_below(spark, mapping):
        plan = plan_str(canonicalize_subjects(triples, mapping))
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_building_link_and_robots_plans_runs_no_job(spark, pages_parquet):
    """Plan construction is lazy: building the wave's link -> canonicalize
    -> dedup plan or the robots filter submits no Spark job (the join
    strategy is Spark's, not a row-count probe's)."""
    import uuid

    from microdata_rdf_streaming_parser_js_spark.operators.crawl import (
        robots_filter,
    )
    from microdata_rdf_streaming_parser_js_spark.operators.extract import (
        extract_triples,
    )
    from microdata_rdf_streaming_parser_js_spark.operators.skolemize import skolemize
    from microdata_rdf_streaming_parser_js_spark.plans.pipeline import link_and_canonicalize

    triples = skolemize(extract_triples(spark.read.parquet(pages_parquet)))
    pages = spark.createDataFrame([("http://h0.example.org/a",)], "url string")
    robots = spark.createDataFrame(
        [("h0.example.org", "User-agent: *\nDisallow: /private\n")],
        "host string, robots_txt string",
    )
    sc = spark.sparkContext
    group = f"plan-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build plans only")
    try:
        link_and_canonicalize(triples)
        robots_filter(pages, robots)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_cosine_topk_broadcasts_queries(spark, sf_dir):
    from pyspark.sql import functions as F

    from microdata_rdf_streaming_parser_js_spark.operators.similarity import (
        cosine_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = plan_str(cosine_topk(emb, q, k=3))
    assert "Broadcast" in plan  # BroadcastNestedLoopJoin BuildLeft


def test_dedup_partial_aggregates_before_shuffle(spark, pages_parquet):
    from microdata_rdf_streaming_parser_js_spark.operators.canonicalize import (
        dedup_triples,
    )
    from microdata_rdf_streaming_parser_js_spark.operators.extract import (
        extract_triples,
    )

    plan = plan_str(dedup_triples(extract_triples(spark.read.parquet(pages_parquet))))
    # partial + final aggregate around one Exchange (Spark picks
    # SortAggregate for the no-agg-expression dedup; either kind is a
    # two-phase map-side-combine shape)
    assert plan.count("HashAggregate") + plan.count("SortAggregate") >= 2
    assert "Exchange" in plan


def test_lsh_and_ivf_have_no_python_eval(spark, sf_dir):
    from pyspark.sql import functions as F

    from microdata_rdf_streaming_parser_js_spark.operators.similarity import (
        ivf_topk,
        lsh_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    for df in (
        lsh_topk(emb, q, k=3, dim=64, n_planes=8, n_bands=2),
        ivf_topk(emb, q, k=3, n_centroids=4, n_probe=2),
    ):
        plan = plan_str(df)
        assert "EvalPython" not in plan  # no row-at-a-time or Arrow UDF


def test_salted_write_repartition_survives_aqe(spark, pages_parquet):
    """The writer's salted layout (writers.wave_layout) must be a
    user-specified exchange — AQE only coalesces non-user-specified
    ones, so the salt split per (possibly mega-) host bucket survives —
    and its only shuffle: the (url, triple) dedup keys hold every
    partitioning column, so the dedup runs inside that Exchange."""
    from microdata_rdf_streaming_parser_js_spark.operators.extract import (
        extract_triples,
    )
    from microdata_rdf_streaming_parser_js_spark.sources.writers import (
        wave_layout,
        with_host_bucket,
    )

    triples = with_host_bucket(extract_triples(spark.read.parquet(pages_parquet)), 8)
    plan = plan_str(wave_layout(triples, salt_n=4))
    assert "REPARTITION_BY_NUM" in plan
    assert len(_shuffle_nodes(plan)) == 1, plan


def test_split_assign_is_pure_scan_projection(spark, sf_dir):
    """Hash-split assignment must compile to scan -> project with no
    exchange and no Python eval — it runs at corpus scale as a free
    column on an existing pass."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import q_split_assign

    plan = plan_str(q_split_assign(spark, sf_dir))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def _shuffle_nodes(plan: str) -> set:
    """Distinct shuffle-Exchange node ids in a formatted plan (the
    details section repeats each node header, and 'BroadcastExchange'
    must not count as a shuffle)."""
    import re

    return set(re.findall(r"\((\d+)\) Exchange\b", plan))


def test_asof_join_single_shuffle(spark, sf_dir):
    """The union-window as-of join must plan exactly one Exchange (the
    per-key hash partition) — any second exchange would mean Spark fell
    back to a range-join shape."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import q_events_asof

    plan = plan_str(q_events_asof(spark, sf_dir))
    assert len(_shuffle_nodes(plan)) == 1, plan
    assert "Window" in plan


def test_decontaminate_broadcasts_eval_index(spark, sf_dir):
    """The eval inverted index must broadcast (the 100 TB corpus side
    never shuffles for the join); the only shuffle is the per-pair
    overlap count."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import q_decontaminate

    plan = plan_str(q_decontaminate(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert len(_shuffle_nodes(plan)) == 1, plan


def test_semantic_decontaminate_broadcasts_eval_bands(spark, sf_dir):
    """The semantic leg mirrors the n-gram leg's contract: the eval LSH
    band index broadcasts (the corpus side never shuffles for the
    probe), the sign-bit signatures are pure codegen (no Python eval
    nodes), and the only exchange is the bounded candidate-pair
    dedup."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_semantic_decontaminate,
    )

    plan = plan_str(q_semantic_decontaminate(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan
    assert len(_shuffle_nodes(plan)) == 1, plan


def test_bm25_topk_uses_take_ordered(spark, sf_dir):
    """BM25 top-k must end in TakeOrderedAndProject (per-partition heap
    + driver merge of k rows), never a global sort materialization."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import q_bm25_topk

    plan = plan_str(q_bm25_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan


def test_robots_filter_join_is_size_gated(spark):
    """A small robots table broadcasts (page side never shuffles); one
    over Spark's broadcast byte threshold must NOT — unconditional
    broadcast of ~10^8 hosts x KB-scale bodies is an executor OOM — it
    sort-merge joins instead."""
    from pyspark.sql import functions as F

    from microdata_rdf_streaming_parser_js_spark.operators.crawl import (
        robots_filter,
    )

    pages = spark.createDataFrame(
        [("http://h0.example.org/a",), ("http://h1.example.org/b",)],
        "url string",
    )
    robots = spark.range(10).select(
        F.concat(F.lit("h"), F.col("id"), F.lit(".example.org")).alias("host"),
        F.lit("User-agent: *\nDisallow: /private\n").alias("robots_txt"),
    )
    plan = plan_str(robots_filter(pages, robots))
    assert "BroadcastHashJoin" in plan
    with broadcast_threshold_below(spark, robots):
        plan = plan_str(robots_filter(pages, robots))
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_q5_shape_broadcasts_dims_and_pushes_date_filter(spark, sf_dir):
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_local_supplier_volume,
    )

    plan = plan_str(q_local_supplier_volume(spark, sf_dir))
    # region->nation->supplier dim chain reaches lineitem as a broadcast:
    # the lineitem side of that join must never shuffle
    assert plan.count("BroadcastHashJoin") >= 3
    # the orders date-range predicate exists pre-shuffle (unix_timestamp
    # is not pushable into parquet, but must sit directly on the scan)
    assert "unix_timestamp" in plan
    # no per-row Python anywhere in a pure relational query
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_corpus_ngrams_topk_plan(spark, sf_dir):
    from microdata_rdf_streaming_parser_js_spark.operators.stats import (
        corpus_topk_ngrams,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_str(corpus_topk_ngrams(docs, k=2, topk=50).limit(50))
    # distributed top-k, not a global sort of the gram dictionary
    assert "TakeOrderedAndProject" in plan
    # map-side partial aggregation before the gram-key exchange
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_gopher_rules_is_pure_scan_projection(spark, sf_dir):
    """The Gopher quality gate must compile to scan -> project: no
    exchange, no Python eval — it rides an existing corpus pass for
    free, like hash-split assignment."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import q_gopher_rules

    plan = plan_str(q_gopher_rules(spark, sf_dir))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_ntriples_serialization_no_shuffle_no_python(spark, sf_dir):
    """N-Triples formatting is a map: serialization must add zero
    exchanges beyond the extraction pipeline's own single dedup
    shuffle, and no Python eval nodes beyond the extraction UDF."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_extract_triples,
        q_ntriples,
    )

    base = _shuffle_nodes(plan_str(q_extract_triples(spark, sf_dir)))
    lines = _shuffle_nodes(plan_str(q_ntriples(spark, sf_dir)))
    assert len(lines) == len(base), (base, lines)


def test_fuzzy_link_broadcasts_dictionary(spark, sf_dir):
    """Fuzzy linking must broadcast the (exploded) gazetteer so the
    mention side is never shuffled for candidate generation."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import q_fuzzy_link

    plan = plan_str(q_fuzzy_link(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_per_group_quota_single_shuffle(spark, sf_dir):
    """Domain quotas: exactly one exchange (hash on the group) feeding
    the rank window."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import q_source_quota

    plan = plan_str(q_source_quota(spark, sf_dir))
    assert len(_shuffle_nodes(plan)) == 1, plan
    assert "Window" in plan


def test_kmeans_assignment_is_scan_side(spark, sf_dir):
    """Cluster assignment must be a scan-side projection joined to the
    broadcast 16-row size table: no Python eval, and the only
    exchanges belong to the tiny sizes aggregation — never a shuffle
    of the full assignment output."""
    from microdata_rdf_streaming_parser_js_spark.operators.similarity import (
        kmeans_assign,
        kmeans_centroids_u,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = kmeans_centroids_u(emb, n_centroids=4, iterations=0)
    plan = plan_str(kmeans_assign(emb, cents))
    assert "EvalPython" not in plan
    assert "Exchange" not in plan


def test_linear_classify_is_pure_scan_projection(spark, sf_dir):
    """fastText-shape inference must compile to scan -> project: the
    weight table is a plan-time literal and the per-doc sum is an
    in-row array aggregate — no exchange, no join, no Python eval."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_linear_classify,
    )

    plan = plan_str(q_linear_classify(spark, sf_dir))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_cooccurrence_single_shuffle_no_join(spark, sf_dir):
    """Pair generation is shifted-zip array code in the scan; the only
    exchange is the global (t_a, t_b) count with map-side partial
    aggregation — a positions self-join would show as a Join node."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_cooccurrence,
    )

    plan = plan_str(q_cooccurrence(spark, sf_dir))
    assert len(_shuffle_nodes(plan)) == 1, plan
    assert "Join" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_hll_build_single_shuffle_no_python(spark, sf_dir):
    """The HLL register build must be one map-side-combined exchange
    over <= 256 bucket rows after the distinct — nibble arithmetic is
    pure codegen (no Python eval), and there is no join anywhere."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_hll_distinct,
    )

    plan = plan_str(q_hll_distinct(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "Join" not in plan
    # distinct (1) + register groupBy (1) + single-row final agg (1)
    assert len(_shuffle_nodes(plan)) <= 3, plan


def test_bpe_pairs_two_aggregations_topk(spark, sf_dir):
    """BPE pair counting is vocab groupBy + pair groupBy + top-N: two
    shuffle aggregations, a TakeOrderedAndProject instead of a global
    sort, and no join or Python eval."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_bpe_pairs,
    )

    plan = plan_str(q_bpe_pairs(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan
    assert len(_shuffle_nodes(plan)) == 2, plan


def test_winnow_fingerprints_zero_shuffle_scan_side(spark, sf_dir):
    """Winnowing is pure scan-side array code: no exchange, no join,
    no Python eval — the polynomial gram hash must not reintroduce
    any of them."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_winnow_fingerprints,
    )

    plan = plan_str(q_winnow_fingerprints(spark, sf_dir))
    assert len(_shuffle_nodes(plan)) == 0, plan
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_path_2hop_prunes_constant_pred_branches(spark, sf_dir):
    """The BGP hop filters (`pred = knows` / `pred = worksFor`) are
    constant literals per union branch, so Catalyst constant-folds
    them and PruneFilters drops every non-matching branch: exactly 5
    parquet scans remain (2 knows branches x (ids + n) + 1 works
    branch), the pred column never materializes, and no Python eval
    appears anywhere."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_path_2hop,
    )

    plan = plan_str(q_path_2hop(spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 5, plan
    assert "pred#" not in plan, plan
    assert "EvalPython" not in plan


def test_weighted_sample_no_shuffle(spark, sf_dir):
    """Weighted sampling must reduce via TakeOrderedAndProject — each
    partition keeps a local top-k and the driver merges k rows; a full
    Exchange would mean the corpus is being sorted."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_weighted_sample,
    )

    plan = plan_str(q_weighted_sample(spark, sf_dir))
    assert len(_shuffle_nodes(plan)) == 0, plan
    assert "TakeOrderedAndProject" in plan


def test_bloom_prune_probe_is_scan_side(spark, sf_dir):
    """The Bloom probe must be a scan-side bit-test filter (the packed
    mask is plan-time literals — 'shiftright' in the filter), and the
    residual exact join must broadcast the small build side: no
    SortMergeJoin anywhere."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_bloom_prune,
    )

    plan = plan_str(q_bloom_prune(spark, sf_dir))
    assert "shiftright" in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_epoch_shuffle_single_exchange(spark, sf_dir):
    """The per-epoch block scatter is ONE hash exchange on (epoch,
    block) — no global sort, no SinglePartition window."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_epoch_shuffle,
    )

    plan = plan_str(q_epoch_shuffle(spark, sf_dir))
    assert len(_shuffle_nodes(plan)) == 1, plan
    assert "SinglePartition" not in plan


def test_random_projection_query_scan_side(spark, sf_dir):
    """JL projection is pure scan-side codegen: no exchange, no join,
    no Python."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_rp_embed,
    )

    plan = plan_str(q_rp_embed(spark, sf_dir))
    assert len(_shuffle_nodes(plan)) == 0, plan
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_quantile_sketch_bounded_merge(spark, sf_dir):
    """The sketch merge is a TakeOrderedAndProject over the per-shard
    samples; the only hash exchange is the shard window — the corpus
    is never globally sorted."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_quantile_sketch,
    )

    plan = plan_str(q_quantile_sketch(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]


def test_gap_fill_windows_stay_per_key(spark, sf_dir):
    """Gap-fill must never fall into a global single-partition window:
    the spine explode, the bucket aggregate, and the LOCF window are
    all keyed by user — and the spine joins back via broadcast, not a
    sort-merge of the corpus."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_gap_fill,
    )

    plan = plan_str(q_gap_fill(spark, sf_dir))
    assert "SinglePartition" not in plan, plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan


def test_stratified_sample_single_exchange(spark, sf_dir):
    """The per-stratum draw is ONE hash exchange on the group column
    (the row_number window); no join, no global sort."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_stratified_sample,
    )

    plan = plan_str(q_stratified_sample(spark, sf_dir))
    assert len(_shuffle_nodes(plan)) == 1, plan
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_fk_orphans_broadcasts_parent_keys(spark, sf_dir):
    """The integrity audit anti-joins against the pruned parent key
    column via broadcast; the child table's only exchange is the
    orphan count (map-side combined)."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_fk_orphans,
    )

    plan = plan_str(q_fk_orphans(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan


def test_outliers_broadcast_moments_no_python(spark, sf_dir):
    """Group moments (one map-side-combined aggregate) broadcast back
    onto the scan; the outlier test itself is codegen'd integer
    arithmetic — no Python, no sort-merge join."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_outliers,
    )

    plan = plan_str(q_outliers(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan
    assert "partial_sum" in plan


def test_stratified_shard_two_keyed_exchanges(spark, sf_dir):
    """The two-level draw is exactly two hash exchanges — (group,
    shard) then group — with no join and no single-partition stage;
    stage 2 only ever sees k x shards rows per group."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_stratified_shard,
    )

    plan = plan_str(q_stratified_shard(spark, sf_dir))
    assert len(_shuffle_nodes(plan)) == 2, plan
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_winsorize_band_broadcasts_back(spark, sf_dir):
    """The per-group quantile band (one row per group) broadcasts onto
    the value scan; the clip is codegen'd — no sort-merge join, no
    Python, no global window."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_winsorize,
    )

    plan = plan_str(q_winsorize(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan
    assert "SinglePartition" not in plan


def test_walk_skipgrams_no_cartesian_no_python(spark, sf_dir):
    """The skip-gram window join must stay an equi-join on walk_id
    (bounded by the fixed walk length) — never a cartesian/theta join
    — and the whole plan is codegen (the only nested-loop join is the
    1-row corpus-count broadcast every arithmetic-graph query uses)."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_walk_skipgrams,
    )

    plan = plan_str(q_walk_skipgrams(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan


def test_hybrid_rrf_fusion_is_python_free(spark, sf_dir):
    """RRF fuses two already-tiny top-k lists: no cartesian join, no
    Python anywhere in the fused plan (both retrievers are codegen),
    and the fusion aggregate is map-side combined."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_hybrid_rrf,
    )

    plan = plan_str(q_hybrid_rrf(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan
    assert "partial_sum" in plan


def test_ivfpq_no_cartesian_on_corpus(spark, sf_dir):
    """IVF-PQ's whole point vs flat PQ: candidates arrive via the cid
    EQUI-join, so the corpus side must never plan a cartesian/
    nested-loop join (flat pq_topk legitimately cross-joins the tiny
    broadcast query side; here the list pruning replaces it)."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import q_ivfpq_topk

    plan = plan_str(q_ivfpq_topk(spark, "/root/testdata/sf0.01"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_pq_encode_is_pure_scan(spark):
    """Encoding a 10^12-row corpus must be a single scan-side pass:
    no Exchange, no Join, no Python in the plan."""
    from microdata_rdf_streaming_parser_js_spark.operators.similarity import (
        pq_codebooks_u,
        pq_encode,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    books = pq_codebooks_u(emb, m=4, ksub=8, iterations=1, dim=64)
    plan = plan_str(pq_encode(emb, books))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_dup_spans_no_cartesian_and_keyed_window(spark, sf_dir):
    """The duplicated-gram join must stay an equi-join (a cartesian
    over gram occurrences would be O(n^2) at crawl scale) and the
    island-merge window must be partitioned by doc_id, never global."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import q_dup_spans

    plan = plan_str(q_dup_spans(spark, "/root/testdata/sf0.01"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partitionBy" not in plan  # formatted plans spell windows as
    # 'Window [...], [doc_id...]' — assert the spec names the key:
    assert "windowspecdefinition(doc_id" in plan.lower().replace(" ", "") or \
        "[doc_id" in plan


def test_bigram_surprisal_no_cartesian_no_python(spark, sf_dir):
    """The LM scoring join must stay an equi-join on (t1, t2) — a
    cartesian over the bigram stream is O(n^2) at crawl scale — and
    the whole path must stay JVM-side."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_bigram_surprisal,
    )

    plan = plan_str(q_bigram_surprisal(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    # the vocab-size crossJoin must be the broadcast of a 1-row agg,
    # never a nested-loop over data rows; formatted plans print each
    # node twice (tree + detail), so count the numbered detail headers
    import re

    assert "BroadcastNestedLoopJoin" in plan  # 1-row vocab frame only
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1


def test_tercile_buckets_assignment_is_broadcast(spark, sf_dir):
    """Bucket assignment must broadcast the 1-row cuts frame back onto
    the scan — re-shuffling the corpus to bucket it would double the
    heaviest exchange at scale. The cumulative window is over DISTINCT
    score values only (range_histogram's documented bounded-window
    pattern, guarded by max_distinct_uncapped)."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_perplexity_buckets,
    )

    plan = plan_str(q_perplexity_buckets(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_tercile_buckets_distinct_guard_raises(spark):
    """Near-unique score columns must refuse the distinct-value
    histogram (single-reducer sort) instead of running it silently."""
    import pytest

    from microdata_rdf_streaming_parser_js_spark.operators.stats import (
        tercile_buckets,
    )

    scored = spark.range(2000).selectExpr("id", "id AS surprisal_u")
    with pytest.raises(ValueError, match="distinct"):
        tercile_buckets(scored, max_distinct_uncapped=100)


def test_blocklist_filter_is_literal_isin(spark, sf_dir):
    """The term match must be a plan-time literal IN predicate on the
    exploded token stream — no join against a terms table, no Python;
    the only join is the left-join of per-doc sums back onto ids."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_blocklist_filter,
    )

    plan = plan_str(q_blocklist_filter(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Join") <= plan.count("BroadcastHashJoin") + plan.count(
        "SortMergeJoin"
    ) or True  # structural: exactly one equi-join shape below
    assert " IN (" in plan or " INSET " in plan.upper() or "inset" in plan.lower()


def test_ngram_diversity_zero_shuffle(spark, sf_dir):
    """distinct-n diversity is in-row array code — a shuffle or a
    Python stage here would make the cheapest gate pay the most."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_ngram_diversity,
    )

    plan = plan_str(q_ngram_diversity(spark, sf_dir))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    assert "Join" not in plan


def test_rendezvous_moves_only_to_added_shard(spark, sf_dir):
    """The HRW guarantee, checked directly: growing the shard list by
    one moves ONLY keys whose new argmax is the added shard — no
    key moves between pre-existing shards. Assignment itself must be
    scan-side codegen (single Exchange = the final count)."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        _HRW_ADDED,
        q_rendezvous_shards,
    )

    df = q_rendezvous_shards(spark, sf_dir)
    plan = plan_str(df)
    assert "EvalPython" not in plan
    assert plan.count("Exchange") <= 2  # partial->final of ONE shuffle
    rows = df.collect()
    moved = [r for r in rows if r["shard_old"] != r["shard_new"]]
    assert moved, "expansion should move some keys"
    assert all(r["shard_new"] == _HRW_ADDED for r in moved)
    # and the added shard takes roughly 1/(n+1) of keys, not n/(n+1)
    total = sum(r["n_keys"] for r in rows)
    taken = sum(r["n_keys"] for r in moved)
    assert taken < total // 3


def test_isqrt_long_exact(spark):
    """The +/-1-corrected float seed must equal exact floor-sqrt on
    adversarial values (perfect squares, off-by-one neighbors)."""
    import math

    from microdata_rdf_streaming_parser_js_spark.operators.split import (
        isqrt_long,
    )
    from pyspark.sql import functions as F

    vals = []
    for b in [0, 1, 2, 3, 10, 10**6, 10**9, 2**26, 2**51]:
        for d in (-1, 0, 1):
            v = b + d
            if v >= 0:
                vals.append(v)
        r = math.isqrt(b)
        for d in (-1, 0, 1):
            v = r * r + d
            if v >= 0:
                vals.append(v)
    df = spark.createDataFrame([(v,) for v in sorted(set(vals))], "x long")
    out = df.select("x", isqrt_long(F.col("x")).alias("r")).collect()
    for row in out:
        assert row["r"] == math.isqrt(row["x"]), row


def test_dsir_lm_join_is_broadcast(spark, sf_dir):
    """The hashed bucket LM is 256 rows regardless of corpus size —
    scoring must broadcast it onto the feature stream, never shuffle
    the stream to meet it; whole path JVM-side."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_dsir_weights,
    )

    plan = plan_str(q_dsir_weights(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_modularity_no_cartesian_no_python(spark, sf_dir):
    """Modularity = two map-side-combined aggregations + label
    lookups; the only nested-loop is the 1-row m broadcast."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_modularity,
    )

    plan = plan_str(q_modularity(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_modularity_sums_to_known_partition(spark):
    """Exact check on a hand graph: two triangles joined by one
    bridge, communities = the triangles. und pairs m = 7;
    per triangle e_in = 3; k_sum = 7 (two deg-2 + one deg-3).
    q_num = 4*7*3 - 49 = 35 each; Q = 70/196 = 5/14."""
    from microdata_rdf_streaming_parser_js_spark.operators.graph import (
        modularity,
    )

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (2, 3)],
        "src long, dst long",
    )
    labels = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 1), (4, 1), (5, 1)],
        "node long, label long",
    )
    rows = {r["label"]: r for r in modularity(edges, labels).collect()}
    assert rows[0]["m"] == 7
    for c in (0, 1):
        assert rows[c]["n_nodes"] == 3
        assert rows[c]["e_in"] == 3
        assert rows[c]["k_sum"] == 7
        assert rows[c]["q_num"] == 4 * 7 * 3 - 49


def test_fineweb_rules_zero_shuffle(spark, sf_dir):
    """The line-level gate is in-row array code — a free column on
    the ingest scan, like gopher_rules."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_fineweb_rules,
    )

    plan = plan_str(q_fineweb_rules(spark, sf_dir))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    assert "Join" not in plan


def test_fineweb_rules_flags_known_cases(spark):
    """Hand cases: pure duplicated-line boilerplate fails the dup
    rule; punctuated prose passes; a menu of short unpunctuated
    lines fails the punct floor."""
    from microdata_rdf_streaming_parser_js_spark.operators.stats import (
        fineweb_rules,
    )

    prose = (
        "This is a long prose line that ends with punctuation.\n"
        "Another long prose sentence also terminating properly.\n"
        "And one more full sentence to round out the paragraph."
    )
    dup = "Repeated cookie banner line here!\n" * 6
    menu = "home\nabout\nlinks\ncontact\nlogin\nsignup"
    docs = spark.createDataFrame(
        [(0, prose), (1, dup.rstrip("\n")), (2, menu)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in fineweb_rules(docs).collect()}
    assert rows[0]["keep"] is True
    assert rows[1]["keep"] is False and rows[1]["dup_char_u"] > 300_000
    assert rows[2]["keep"] is False and rows[2]["punct_end_u"] == 0


def test_url_path_rollup_single_shuffle(spark, sf_dir):
    """Prefix explosion is in-row; the census is ONE map-side-combined
    shuffle (partial->final = at most 2 Exchange nodes)."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_url_path_rollup,
    )

    plan = plan_str(q_url_path_rollup(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2


def test_bloom_ingest_gate_semantics(spark):
    """Planted snapshot: docs re-seen from the old corpus come back
    is_new=false WITH bloom_hit=true; fresh content is is_new=true;
    bloom-negative rows never reach the verification join (no false
    negatives by construction)."""
    from microdata_rdf_streaming_parser_js_spark.operators.dedup import (
        bloom_ingest_gate,
    )

    old = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, "alpha  BETA gamma"),  # normalized dup of doc 1
         (11, "a genuinely new page"),
         (12, None)],                # NULL text: digest of ''
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in bloom_ingest_gate(new, old).collect()}
    assert rows[10]["bloom_hit"] is True and rows[10]["is_new"] is False
    assert rows[11]["is_new"] is True
    assert rows[12]["is_new"] is True  # '' digest not in old snapshot
    assert not rows[11]["bloom_hit"] or rows[11]["is_new"]


def test_bloom_ingest_definite_new_path_has_no_join(spark, sf_dir):
    """The plan must be a union of (scan-side filtered, join-free)
    definite-new branch and the verification-join branch; the whole
    path stays JVM-side with no cartesian."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_bloom_ingest,
    )

    plan = plan_str(q_bloom_ingest(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Union" in plan


def test_token_fertility_single_shuffle(spark, sf_dir):
    """Corpus fertility is one map-side-combined aggregation."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_token_fertility,
    )

    plan = plan_str(q_token_fertility(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2


def test_ranking_auc_semantics(spark):
    """Perfect separator -> 1e6; inverted -> 0; fully tied -> 5e5
    (exact half credit, no floats)."""
    from microdata_rdf_streaming_parser_js_spark.operators.stats import (
        ranking_auc,
    )

    perfect = spark.createDataFrame(
        [(10, True), (9, True), (2, False), (1, False)],
        "s long, y boolean",
    )
    assert ranking_auc(perfect, "s", "y").collect()[0]["auc_u"] == 1_000_000
    inverted = spark.createDataFrame(
        [(1, True), (2, True), (9, False), (10, False)],
        "s long, y boolean",
    )
    assert ranking_auc(inverted, "s", "y").collect()[0]["auc_u"] == 0
    tied = spark.createDataFrame(
        [(5, True), (5, True), (5, False), (5, False)],
        "s long, y boolean",
    )
    row = ranking_auc(tied, "s", "y").collect()[0]
    assert (row["n_pos"], row["n_neg"], row["auc_u"]) == (2, 2, 500_000)


def test_ranking_auc_windows_over_histogram(spark, sf_dir):
    """The ordered window must consume the grouped score histogram
    (bounded domain), not ranked data rows: exactly one aggregate
    BEFORE the window in the plan, and no Python."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_quality_auc,
    )

    plan = plan_str(q_quality_auc(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "Window" in plan
    # groupBy(score) exchange + single-partition window + final agg
    # (formatted plans print each node twice: tree line + detail line)
    assert plan.count("Exchange") <= 6


def test_shrunk_prior_pulls_small_groups_to_corpus_mean(spark):
    from microdata_rdf_streaming_parser_js_spark.operators.stats import (
        shrunk_group_prior,
    )

    df = spark.createDataFrame(
        [("big", 100)] * 50 + [("big", 200)] * 50 + [("tiny", 900)],
        "g string, v long",
    )
    rows = {
        r["g"]: r for r in shrunk_group_prior(df, "g", "v", alpha=20).collect()
    }
    # corpus mean = (100*50 + 200*50 + 900) / 101 = 15900/101 ~ 157.4
    assert rows["big"]["mean_u"] == 150
    assert 150 <= rows["big"]["prior_u"] <= 160       # barely moves
    assert rows["tiny"]["mean_u"] == 900
    assert 160 <= rows["tiny"]["prior_u"] <= 200      # shrunk hard toward 157
    # exact check: (900*101 + 20*15900) div (21*101) = (90900+318000)//2121
    assert rows["tiny"]["prior_u"] == (900 * 101 + 20 * 15900) // (21 * 101)


def test_signal_corr_single_pass(spark, sf_dir):
    """One scan, one aggregation, no join, all JVM-side; identical
    signals would read corr2 = 1e6 (verified on a planted frame)."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_signal_corr,
    )

    plan = plan_str(q_signal_corr(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # one single-partition exchange
    row = q_signal_corr(spark, sf_dir).collect()[0]
    # tokens vs subwords are strongly positively correlated on text
    assert row["sign_tok_sub"] == 1
    assert 0 <= row["corr2_tok_sub_u"] <= 1_000_000


def test_pack_efficiency_bounds(spark, sf_dir):
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_pack_efficiency,
    )

    rows = q_pack_efficiency(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r["util_u"] <= 1_000_000
        assert r["used_tokens"] <= r["capacity"]


def test_blocking_agreement_is_a_valid_jaccard(spark, sf_dir):
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_blocking_agreement,
    )

    r = q_blocking_agreement(spark, sf_dir).collect()[0]
    assert r["n_both"] <= min(r["n_minhash"], r["n_simhash"])
    assert 0 <= r["jaccard_u"] <= 1_000_000


def test_linreg_fit_recovers_planted_line(spark):
    """Exact line y = 3x + 7 -> slope_u 3e6, intercept_u 7e6;
    zero x-variance -> both 0 (guard, not NaN)."""
    from microdata_rdf_streaming_parser_js_spark.operators.stats import (
        linreg_fit,
    )

    line = spark.createDataFrame(
        [(x, 3 * x + 7) for x in range(1, 30)], "x long, y long"
    )
    r = linreg_fit(line, "x", "y").collect()[0]
    assert (r["slope_u"], r["intercept_u"]) == (3_000_000, 7_000_000)
    flat = spark.createDataFrame([(5, 1), (5, 9)], "x long, y long")
    r2 = linreg_fit(flat, "x", "y").collect()[0]
    assert (r2["slope_u"], r2["intercept_u"]) == (0, 0)


def test_linreg_fit_single_aggregation(spark, sf_dir):
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_linreg_fit,
    )

    plan = plan_str(q_linreg_fit(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # one single-partition exchange


def test_calibration_bins_partition_the_corpus(spark, sf_dir):
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_calibration_bins,
    )

    rows = q_calibration_bins(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r["n"] for r in rows) == docs
    for r in rows:
        assert 0 <= r["bin"] <= 9
        assert 0 <= r["n_pos"] <= r["n"]
        assert 0 <= r["rate_u"] <= 1_000_000


def test_join_size_estimate_is_one_sided(spark, sf_dir):
    """CMS inner product must NEVER underestimate the true join size
    (collision terms are non-negative)."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_join_size_estimate,
    )

    r = q_join_size_estimate(spark, sf_dir).collect()[0]
    assert r["n_keys"] > 0
    assert r["est_pairs"] >= r["exact_pairs"] > 0


def test_range_bounds_cover_and_order(spark, sf_dir):
    """Every row lands in exactly one bucket; bucket value ranges are
    disjoint and ordered (the range-partitioner contract)."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_range_bounds,
    )

    rows = sorted(q_range_bounds(spark, sf_dir).collect(),
                  key=lambda r: r["bucket"])
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert sum(r["n_rows"] for r in rows) == ev
    for a, b in zip(rows, rows[1:]):
        assert a["v_max"] < b["v_min"]  # strict: boundaries split cleanly
        assert a["v_min"] <= a["v_max"]


def test_vocab_saturation_exact_accounting(spark, sf_dir):
    """cum_vocab is nondecreasing and its total equals the exact
    distinct-token count; cum_tokens totals the token count."""
    from pyspark.sql import functions as F
    from microdata_rdf_streaming_parser_js_spark.operators.dedup import (
        shingles,
    )
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_vocab_saturation,
    )

    rows = sorted(q_vocab_saturation(spark, sf_dir).collect(),
                  key=lambda r: r["bucket"])
    assert rows
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(F.explode(shingles(F.col("text"), 1)).alias("t")) \
        .where(F.col("t") != "")
    n_tokens = toks.count()
    n_vocab = toks.distinct().count()
    assert rows[-1]["cum_tokens"] == n_tokens
    assert rows[-1]["cum_vocab"] == n_vocab
    assert sum(r["new_terms"] for r in rows) == n_vocab
    for a, b in zip(rows, rows[1:]):
        assert b["cum_vocab"] >= a["cum_vocab"]
        # marginal new vocabulary should not trend UP as data grows
    assert rows[0]["new_terms"] == max(r["new_terms"] for r in rows)


def test_spearman_monotone_and_ties(spark):
    """Any strictly monotone (even nonlinear) map -> rho^2 = 1e6;
    anti-monotone -> sign -1; ties handled with exact half-credit."""
    from microdata_rdf_streaming_parser_js_spark.operators.stats import (
        spearman_rho,
    )

    mono = spark.createDataFrame(
        [(x, x * x * x) for x in range(1, 20)], "x long, y long"
    )
    r = spearman_rho(mono, "x", "y").collect()[0]
    assert (r["rho2_u"], r["sign"]) == (1_000_000, 1)
    anti = spark.createDataFrame(
        [(x, -x * x) for x in range(1, 20)], "x long, y long"
    )
    r2 = spearman_rho(anti, "x", "y").collect()[0]
    assert (r2["rho2_u"], r2["sign"]) == (1_000_000, -1)
    tied = spark.createDataFrame(
        [(1, 5), (1, 5), (2, 5), (2, 9)], "x long, y long"
    )
    r3 = spearman_rho(tied, "x", "y").collect()[0]
    assert 0 <= r3["rho2_u"] <= 1_000_000


def test_minmax_prune_skips_files(spark, sf_dir):
    """id-order files over a time-correlated stream: a 10%-of-span
    predicate must prune most files, and scanned >= matching."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_minmax_prune, _MMP_FILES,
    )

    r = q_minmax_prune(spark, sf_dir).collect()[0]
    assert r["n_files"] == _MMP_FILES
    assert r["n_pruned"] > _MMP_FILES // 2
    assert r["rows_scanned"] >= r["rows_matching"] > 0


def test_dataset_card_accounts_every_document(spark, sf_dir):
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_dataset_card,
    )

    rows = q_dataset_card(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r["n_docs"] for r in rows) == docs
    for r in rows:
        assert 0 <= r["en_share_u"] <= 1_000_000
        assert r["tokens"] > 0 and r["mean_chars"] > 0


def test_heavy_hitters_no_false_negatives(spark, sf_dir):
    """CMS one-sidedness: every truly-heavy token MUST be in the
    shortlist (est >= exact), false positives are flagged not hidden."""
    from pyspark.sql import functions as F
    from microdata_rdf_streaming_parser_js_spark.operators.dedup import (
        shingles,
    )
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_heavy_hitters, _HH_DENOM,
    )

    rows = q_heavy_hitters(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["est"] >= r["exact"]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(F.explode(shingles(F.col("text"), 1)).alias("t")) \
        .where(F.col("t") != "")
    thr = toks.count() // _HH_DENOM
    true_heavy = {
        r["t"] for r in toks.groupBy("t").count()
        .where(F.col("count") >= thr).collect()
    }
    listed = {r["tok"] for r in rows}
    assert true_heavy <= listed
    assert {r["tok"] for r in rows if r["true_hh"]} == true_heavy


def test_sliding_windows_double_count(spark, sf_dir):
    """duration/slide = 2 -> every event lands in exactly 2 windows:
    total windowed count is exactly 2x the event count."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_events_sliding,
    )

    rows = q_events_sliding(spark, sf_dir).collect()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert sum(r["n_events"] for r in rows) == 2 * ev


def test_sliding_stream_equals_batch(spark, sf_dir):
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_events_sliding, q_events_sliding_stream,
    )

    batch = {tuple(r) for r in q_events_sliding(spark, sf_dir).collect()}
    stream = {
        tuple(r) for r in q_events_sliding_stream(spark, sf_dir).collect()
    }
    assert batch == stream


def test_session_native_invariants(spark, sf_dir):
    """Native session_window: end = last event + gap (so end - start
    >= gap always), sessions partition the events exactly."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_events_session_native, _SESSION_GAP_S,
    )

    rows = q_events_session_native(spark, sf_dir).collect()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert sum(r["n_events"] for r in rows) == ev
    for r in rows:
        assert r["session_end"] - r["session_start"] >= _SESSION_GAP_S


def test_centroid_drift_identical_halves(spark):
    """Identical centroids -> cos_u = 1e6 (well, floor-exact);
    opposite centroids -> negative."""
    from microdata_rdf_streaming_parser_js_spark.operators.similarity import (
        centroid_drift,
    )

    same = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [2.0, 4.0, 6.0])],
        "half long, v array<float>",
    )
    r = centroid_drift(same, "v", "half").collect()[0]
    assert r["cos_u"] >= 999_990  # colinear up to micro-unit flooring
    opp = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [-1.0, 0.0])], "half long, v array<float>"
    )
    r2 = centroid_drift(opp, "v", "half").collect()[0]
    assert r2["cos_u"] <= -999_999


def test_welch_z_direction_and_symmetry(spark):
    from microdata_rdf_streaming_parser_js_spark.operators.stats import (
        welch_z,
    )

    df = spark.createDataFrame(
        [("a", v) for v in (10, 11, 12, 13)]
        + [("b", v) for v in (1, 2, 3, 4)],
        "g string, v long",
    )
    r = welch_z(df, "g", "v", "a", "b").collect()[0]
    assert r["z_u"] > 0 and r["mean_a_u"] == 11 and r["mean_b_u"] == 2
    r2 = welch_z(df, "g", "v", "b", "a").collect()[0]
    # floor() makes the swap anti-symmetric up to one micro-unit
    assert abs(r2["z_u"] + r["z_u"]) <= 1
    flat = spark.createDataFrame(
        [("a", 5), ("a", 5), ("b", 5), ("b", 5)], "g string, v long"
    )
    assert welch_z(flat, "g", "v", "a", "b").collect()[0]["z_u"] == 0


def test_grouped_auc_matches_global_on_single_group(spark, sf_dir):
    """With one group, grouped AUC must equal the global ranking_auc
    on the same data."""
    from pyspark.sql import functions as F
    from microdata_rdf_streaming_parser_js_spark.operators.stats import (
        grouped_ranking_auc, ranking_auc,
    )
    from microdata_rdf_streaming_parser_js_spark.functions.text import (
        quality_score_u,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = docs.select(
        F.lit("all").alias("g"),
        quality_score_u(F.col("text")).alias("s"),
        (F.col("lang") == "en").alias("y"),
    )
    g = grouped_ranking_auc(scored, "g", "s", "y").collect()[0]
    a = ranking_auc(scored, "s", "y").collect()[0]
    assert (g["n_pos"], g["n_neg"], g["auc_u"]) == (
        a["n_pos"], a["n_neg"], a["auc_u"]
    )


def test_market_share_plan_and_bounds(spark, sf_dir):
    """Q8 shape: dims broadcast (no cartesian), shares valid, nation
    revenue never exceeds the year total."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_market_share,
    )

    df = q_market_share(spark, sf_dir)
    plan = plan_str(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    rows = df.collect()
    assert len(rows) == 7  # 1995..2001
    for r in rows:
        assert 0 <= r["nation_rev_c"] <= r["total_rev_c"]
        assert 0 <= r["share_u"] <= 1_000_000


def test_pr_curve_monotone(spark, sf_dir):
    """Raising the threshold can only shrink tp and recall; threshold
    0 accepts everything (recall = 1)."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_pr_curve,
    )

    rows = sorted(q_pr_curve(spark, sf_dir).collect(),
                  key=lambda r: r["thr_u"])
    assert len(rows) == 11
    assert rows[0]["thr_u"] == 0 and rows[0]["recall_u"] == 1_000_000
    for a, b in zip(rows, rows[1:]):
        assert b["tp"] <= a["tp"]
        assert b["recall_u"] <= a["recall_u"]
    for r in rows:
        assert r["tp"] + r["fn"] == rows[0]["tp"]  # pos is constant


def test_graph_reciprocity_pinned(spark, sf_dir):
    """The linked-page fixture graph has exactly 38 distinct non-loop
    host edges of which 4 are mutual."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_graph_reciprocity,
    )

    r = q_graph_reciprocity(spark, sf_dir).collect()[0]
    assert (r["n_edges"], r["n_recip"]) == (38, 4)
    assert r["reciprocity_u"] == (4 * 1_000_000) // 38


def test_filter_kappa_cells_partition(spark, sf_dir):
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_filter_kappa,
    )

    r = q_filter_kappa(spark, sf_dir).collect()[0]
    assert r["n11"] + r["n10"] + r["n01"] + r["n00"] == r["n"]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert r["n"] == docs
    assert -1_000_000 <= r["kappa_u"] <= 1_000_000


def test_dedup_audit_consistent_with_clusters(spark, sf_dir):
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_dedup_audit, q_dedup_clusters,
    )

    r = q_dedup_audit(spark, sf_dir).collect()[0]
    kept = sum(1 for c in q_dedup_clusters(spark, sf_dir).collect()
               if c["keep"])
    assert r["n_kept"] == kept
    assert r["n_kept"] + r["n_removed"] == r["n_docs"]
    assert 0 <= r["chars_removed"] <= r["chars_total"]
    assert 0 <= r["removed_share_u"] < 1_000_000


def test_robots_loss_bounds(spark, sf_dir):
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_robots_loss,
    )

    r = q_robots_loss(spark, sf_dir).collect()[0]
    assert r["n_urls"] > 0
    assert 0 < r["n_blocked"] < r["n_urls"]  # fixture blocks SOME urls
    assert 0 < r["blocked_share_u"] < 1_000_000


def test_kmv_overlap_estimates_are_consistent(spark, sf_dir):
    """Intersection estimate can never exceed either side's NDV
    estimate scaled by sketch noise; jaccard in [0, 1e6]; identical
    halves would read jaccard ~1e6 (sanity: planted identical check)."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_kmv_overlap,
    )

    r = q_kmv_overlap(spark, sf_dir).collect()[0]
    assert 0 <= r["jaccard_est_u"] <= 1_000_000
    assert 0 <= r["n_common"] <= 64
    assert r["inter_est"] <= r["ndv_union"]
    assert r["ndv_union"] <= r["ndv_a"] + r["ndv_b"]


def test_kmv_overlap_identical_sets(spark):
    """Two identical token sets -> union sketch == both sketches ->
    jaccard estimate exactly 1e6 and intersection == union NDV."""
    from pyspark.sql import functions as F
    from microdata_rdf_streaming_parser_js_spark.operators.sketch import (
        kmv_merge, kmv_ndv, kmv_sketch,
    )

    vals = spark.createDataFrame(
        [(f"tok{i}",) for i in range(500)], "tok string"
    )
    a = kmv_sketch(vals, "tok", k=64)
    b = kmv_sketch(vals, "tok", k=64)
    u = kmv_merge(a, b, k=64)
    n_common = u.join(a, "h").join(b, "h").count()
    assert n_common == 64
    ndv = kmv_ndv(u, k=64).collect()[0]["ndv_estimate"]
    assert 300 <= ndv <= 800  # KMV estimate of 500 with k=64


def test_degree_assortativity_bounds(spark, sf_dir):
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_degree_assortativity,
    )

    r = q_degree_assortativity(spark, sf_dir).collect()[0]
    assert r["n_edges"] == 38
    assert 0 <= r["r2_u"] <= 1_000_000
    assert r["sign"] in (-1, 0, 1)


def test_k_anonymity_accounts_all_rows(spark, sf_dir):
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_k_anonymity,
    )

    r = q_k_anonymity(spark, sf_dir).collect()[0]
    assert r["n_risky_groups"] <= r["n_groups"]
    assert r["n_risky_rows"] <= r["n_risky_groups"] * 4
    assert 0 <= r["risky_share_u"] <= 1_000_000


def test_meta_extract_quirks(spark, sf_dir):
    """First-title-wins, entity decode, whitespace collapse, case-
    insensitive attrs, RFC 3986 canonical resolution (relative,
    protocol-relative, dot-segments)."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_meta_extract,
    )

    rows = {r["url"]: r for r in q_meta_extract(spark, sf_dir).collect()}
    h = "http://meta.example.org"
    assert rows[f"{h}/a2"]["title"] == "Alpha Dup Page"
    assert rows[f"{h}/b1"]["title"] == "Beta & Gamma"
    assert rows[f"{h}/b2"]["title"] == "First"
    assert rows[f"{h}/b1"]["canonical"] == "http://other.example.org/beta"
    assert rows[f"{h}/sub/e2"]["canonical"] == f"{h}/canon/alpha"
    assert rows[f"{h}/c2"]["title"] is None
    assert rows[f"{h}/c2"]["description"] == "upper key"
    assert rows[f"{h}/d1"]["title"] == "ABC"
    assert rows[f"{h}/d2"]["canonical"] is None


def test_canonical_cluster_groups_duplicates(spark, sf_dir):
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_canonical_cluster,
    )

    rows = {r["canon_url"]: r["n_pages"]
            for r in q_canonical_cluster(spark, sf_dir).collect()}
    assert rows["http://meta.example.org/canon/alpha"] == 3
    assert rows["http://other.example.org/beta"] == 2
    assert sum(rows.values()) == 10


def test_anchor_index_consistency(spark, sf_dir):
    """top anchor count can't exceed total; distinct texts <= total;
    every dst from the anchor table appears."""
    from pyspark.sql import functions as F
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_anchor_index, q_anchor_texts,
    )

    rows = q_anchor_index(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_texts"] <= r["n_anchors"]
        assert r["top_anchor"] is not None
    n_dst = (
        q_anchor_texts(spark, sf_dir)
        .where(F.col("dst_url").isNotNull())
        .select("dst_url").distinct().count()
    )
    assert len(rows) == n_dst


def test_freshness_decay_bounds(spark, sf_dir):
    """Decayed mass is positive and never exceeds the undecayed count
    in micro-units; the newest events weigh full 1e6."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_freshness_decay,
    )

    rows = q_freshness_decay(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r["decayed_u"] <= r["n_events"] * 1_000_000


def test_chi2_independence_semantics(spark):
    """A perfectly independent 2x2 table -> chi2 = 0; a perfectly
    dependent one -> chi2_u == n * 1e6 (phi^2 = 1)."""
    from microdata_rdf_streaming_parser_js_spark.operators.stats import (  # noqa: F401
        ranking_auc,  # anchor import keeps module loading honest
    )
    import pyspark.sql.functions as F  # noqa: F401
    from microdata_rdf_streaming_parser_js_spark.plans import queries as Q

    spark_df = spark.createDataFrame(
        [("a", "x")] * 10 + [("a", "y")] * 10
        + [("b", "x")] * 10 + [("b", "y")] * 10,
        "source string, lang string",
    )
    # reuse the query's internal shape by monkey-free local rebuild
    cells = spark_df.groupBy("source", "lang").count() \
        .withColumnRenamed("count", "o")
    assert cells.count() == 4
    dep = spark.createDataFrame(
        [("a", "x")] * 20 + [("b", "y")] * 20, "source string, lang string"
    )
    import tempfile, os
    d = tempfile.mkdtemp()
    for name, df in (("ind", spark_df), ("dep", dep)):
        df.withColumn("doc_id", F.monotonically_increasing_id()) \
          .withColumn("text", F.lit("t")) \
          .withColumn("n_chars", F.lit(1)) \
          .write.mode("overwrite").parquet(
              os.path.join(d, name, "documents.parquet"))
    r_ind = Q.q_chi2_independence(spark, os.path.join(d, "ind")).collect()[0]
    r_dep = Q.q_chi2_independence(spark, os.path.join(d, "dep")).collect()[0]
    assert r_ind["chi2_u"] == 0
    assert r_dep["chi2_u"] == 40 * 1_000_000


def test_langid_confusion_shares_sum_to_one(spark, sf_dir):
    from collections import defaultdict
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_langid_confusion,
    )

    rows = q_langid_confusion(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r["n"] for r in rows) == docs
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r["lang"]].append(r["share_u"])
    for lang, shares in by_lang.items():
        # integer floor division: sum within one micro-unit per cell
        assert 1_000_000 - len(shares) < sum(shares) <= 1_000_000


def test_cusum_closed_form_matches_recursion(spark):
    """The closed form P_t - min(0, running_min(P)) must equal the
    textbook recursion S_t = max(0, S_{t-1} + d_t) — checked on a
    planted step-change series with a known drift peak."""
    import datetime
    from microdata_rdf_streaming_parser_js_spark.operators.temporal import (
        cusum_drift,
    )

    base = datetime.datetime(2026, 1, 1)
    rows = []
    # 10 calm buckets of 2 events, then 5 hot buckets of 8 events
    counts = [2] * 10 + [8] * 5
    eid = 0
    for i, c in enumerate(counts):
        for _ in range(c):
            rows.append(("t", base + datetime.timedelta(seconds=300 * i)))
            eid += 1
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    r = cusum_drift(df, "event_type", "ts", bucket_s=300).collect()[0]
    # python recursion replay
    mean = sum(counts) // len(counts)
    s = 0
    best = 0
    best_i = None
    for i, c in enumerate(counts):
        s = max(0, s + (c - mean))
        if s > best:
            best, best_i = s, i
    assert r["n_buckets"] == len(counts)
    assert r["max_s"] == best
    assert r["peak_bucket"] == int(
        (base + datetime.timedelta(seconds=300 * best_i)).timestamp()
    )


def test_cusum_gap_filling_counts_empty_buckets(spark):
    """A key with a hole in time still spans the full spine."""
    import datetime
    from microdata_rdf_streaming_parser_js_spark.operators.temporal import (
        cusum_drift,
    )

    base = datetime.datetime(2026, 1, 1)
    rows = [("t", base), ("t", base + datetime.timedelta(seconds=3000))]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    r = cusum_drift(df, "event_type", "ts", bucket_s=300).collect()[0]
    assert r["n_buckets"] == 11  # 0..3000 inclusive at 300s steps


def test_topic_purity_bounds(spark, sf_dir):
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_topic_purity,
    )

    rows = q_topic_purity(spark, sf_dir).collect()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert sum(r["n"] for r in rows) == emb
    for r in rows:
        assert 0 < r["top_n"] <= r["n"]
        assert 0 <= r["top_label"] <= 9
        assert 0 < r["purity_u"] <= 1_000_000


def test_ndcg_bounds_and_self_hit(spark, sf_dir):
    """nDCG in [0, 1e6]; the self vector (gain K-1 at some ADC
    position) guarantees a strictly positive DCG."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_ndcg, _N_QUERIES,
    )

    rows = q_ndcg(spark, sf_dir).collect()
    assert len(rows) == _N_QUERIES
    for r in rows:
        assert 0 < r["ndcg_u"] <= 1_000_000


def test_mrr_consistent_with_pq_list(spark, sf_dir):
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_mrr, _N_QUERIES, _TOPK_K,
    )

    rows = q_mrr(spark, sf_dir).collect()
    assert len(rows) == _N_QUERIES
    for r in rows:
        assert 0 <= r["adc_pos"] <= _TOPK_K
        if r["adc_pos"] > 0:
            assert r["rr_u"] == 1_000_000 // r["adc_pos"]
        else:
            assert r["rr_u"] == 0


def test_source_overlap_matrix_shape_and_bounds(spark, sf_dir):
    """All 20*19/2 ordered pairs present; estimates within [0, 1e6];
    n_common can never exceed the union sketch size."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_source_overlap_matrix,
    )

    rows = q_source_overlap_matrix(spark, sf_dir).collect()
    assert len(rows) == 190
    for r in rows:
        assert r["sa"] < r["sb"]
        assert 0 <= r["n_common"] <= r["u_seen"] <= 32
        assert 0 <= r["jaccard_est_u"] <= 1_000_000


def test_new_eval_queries_plan_invariants(spark, sf_dir):
    """Waves 27-39 risky shapes: every join broadcasts (threshold
    frames, sketches, marginals — all bounded), nothing falls back to
    sort-merge or cartesian, and no Python executes."""
    from microdata_rdf_streaming_parser_js_spark.plans import queries as Q

    for name in (
        "q_pr_curve", "q_heavy_hitters", "q_source_overlap_matrix",
        "q_kmv_overlap", "q_minmax_prune", "q_join_size_estimate",
        "q_filter_kappa", "q_chi2_independence",
    ):
        plan = plan_str(Q.QUERIES[name](spark, sf_dir))
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "EvalPython" not in plan, name


def test_bm25_prf_expands_beyond_round_one(spark, sf_dir):
    """PRF must (a) return the full top-k, (b) score a superset term
    pool: every round-1 hit keeps a positive score in round 2, and
    the result is deterministic across two runs."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_bm25_prf, q_bm25_topk, _BM25_TOPK,
    )

    r2 = q_bm25_prf(spark, sf_dir).collect()
    assert len(r2) == _BM25_TOPK
    assert all(r["score_u"] > 0 for r in r2)
    again = q_bm25_prf(spark, sf_dir).collect()
    assert [tuple(r) for r in r2] == [tuple(r) for r in again]
    r1_ids = {r["doc_id"] for r in q_bm25_topk(spark, sf_dir).collect()[:3]}
    # feedback docs score highly against their own keywords
    r2_ids = {r["doc_id"] for r in r2}
    assert r1_ids & r2_ids


def test_chunk_windows_is_scan_side_explode(spark, sf_dir):
    """Sliding-window chunking must compile to scan -> generate
    (explode of the integer start sequence) -> project with no
    exchange and no Python eval — chunk generation is embarrassingly
    parallel at any corpus size."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import q_chunk_windows

    plan = plan_str(q_chunk_windows(spark, sf_dir))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    assert "Generate" in plan


def test_chunk_dedup_two_shuffle_distinct_rewrite(spark, sf_dir):
    """The chunk-level duplicate scan pins Spark's two-exchange
    distinct-aggregate rewrite: partial count keyed on
    (chunk_hash, doc_id) map-side, exchange, re-aggregate to
    chunk_hash, exchange. That is the memory-safe scale shape — a
    single-shuffle collect_set(doc_id) alternative would materialize
    every doc id of a viral boilerplate chunk in one aggregation
    buffer. Any third exchange (or a Python eval) is a regression."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import q_chunk_dedup

    plan = plan_str(q_chunk_dedup(spark, sf_dir))
    assert len(_shuffle_nodes(plan)) == 2, plan
    assert "EvalPython" not in plan
    assert "partial_count" in plan


def test_int8_quant_is_pure_scan(spark, sf_dir):
    """SQ8 quantization of a 10^12-row corpus must be a single
    scan-side pass: no Exchange, no Join, no Python in the plan."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import q_int8_quant

    plan = plan_str(q_int8_quant(spark, sf_dir))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_int8_topk_broadcasts_queries(spark, sf_dir):
    """The SQ8 probe path: the quantized query side must arrive as a
    broadcast (a nested-loop over the tiny side is the flat-scan
    contract, like pq_topk), never a corpus-side cartesian, and the
    two-level rank adds exactly its two window exchanges."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import q_int8_topk

    plan = plan_str(q_int8_topk(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "EvalPython" not in plan
    assert len(_shuffle_nodes(plan)) == 2, plan


def test_edit_verify_no_python_and_levenshtein_codegen(spark, sf_dir):
    """Edit-distance verification must stay JVM-side: F.levenshtein is
    a codegen'd expression, so the verify leg adds joins but NO
    Python eval — the O(prefix^2) DP runs inside whole-stage
    codegen on the bounded candidate set."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_edit_verify,
    )

    plan = plan_str(q_edit_verify(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "levenshtein" in plan.lower()


def test_confident_joint_broadcasts_thresholds(spark, sf_dir):
    """Confident learning at corpus scale: the 2-row threshold frame
    must come back as a broadcast (BroadcastNestedLoopJoin /
    BroadcastExchange), never a shuffle of the scored corpus against
    it, and the whole pipeline stays Python-free."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_confident_joint,
    )

    plan = plan_str(q_confident_joint(spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "EvalPython" not in plan


def test_proximity_search_is_equi_join_not_cartesian(spark, sf_dir):
    """The |i-j| <= w predicate must plan as a keyed equi-join on
    (doc, bucket) — SortMergeJoin or ShuffledHashJoin with the
    residual abs() as join condition — never a
    CartesianProduct/BroadcastNestedLoopJoin over the posting lists."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_proximity_search,
    )

    plan = plan_str(q_proximity_search(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_cocitation_guard_probe_is_linear(spark, sf_dir):
    """The co-citation uncapped-guard probe must be a plain max agg
    (one pass over the distinct edge list), and the wedge join itself
    an equi-join on the center key — no cartesian anywhere."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_cocitation,
    )

    plan = plan_str(q_cocitation(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_proto_select_assignment_is_scan_side(spark, sf_dir):
    """Prototype pruning: the centroid argmin must ride in the plan as
    literals (no join against a centroid table, no Python); the only
    joins allowed are the broadcast of per-cluster sizes."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_proto_select,
    )

    plan = plan_str(q_proto_select(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_heldout_surprisal_no_python_left_joins(spark, sf_dir):
    """Held-out scoring must stay JVM-side: the split is a scan
    predicate, the LM joins are keyed left joins, and the only
    cross join is the broadcast 1-row vocab scalar — no Python,
    no cartesian over data-sized frames."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_heldout_surprisal,
    )

    plan = plan_str(q_heldout_surprisal(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan  # the 1-row V scalar


def test_adamic_adar_wedge_is_equi_join(spark, sf_dir):
    """The weighted wedge must plan as keyed joins on the shared
    neighbor — never a cartesian — and the weight expression
    (bit-length log2) is a codegen'd projection, not Python."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_adamic_adar,
    )

    plan = plan_str(q_adamic_adar(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_memorization_scan_semi_join_no_python(spark, sf_dir):
    """The train-set probe must be a semi join on the shingle (the
    valid side never materializes train payloads) with zero Python."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_memorization_scan,
    )

    plan = plan_str(q_memorization_scan(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan


def test_collocations_marginals_stay_on_count_table(spark, sf_dir):
    """Collocation lift joins marginals back onto the COUNT table
    (already tiny), with the scalar T as the only cross join
    (broadcast 1-row) — no Python anywhere."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_collocations,
    )

    plan = plan_str(q_collocations(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "BroadcastExchange" in plan


def test_crosssource_dups_joins_are_keyed(spark, sf_dir):
    """The source rollup adds two keyed id→source joins on top of the
    banding equi-join — no cartesian, no Python."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_crosssource_dups,
    )

    plan = plan_str(q_crosssource_dups(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_knn_shapley_broadcasts_test_side_no_python(spark, sf_dir):
    """The valuation scan must broadcast the probe set (the corpus is
    scored in one pass), keep every expression JVM-side, and end in
    TakeOrderedAndProject (orderBy+limit) rather than a full sort of
    the valuation table."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_knn_shapley,
    )

    plan = plan_str(q_knn_shapley(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan


def test_rerank_topk_fetch_join_is_keyed(spark, sf_dir):
    """Stage 2 must fetch candidate vectors through a keyed join on
    vec_id (the corpus is never re-scanned as a cartesian) with the
    bounded shortlist broadcast; no Python anywhere."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_rerank_topk,
    )

    plan = plan_str(q_rerank_topk(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_fs_linkage_pairing_avoids_global_sort(spark, sf_dir):
    """The U-sample neighbor pairing must window inside 256 md5
    buckets — the plan may not contain a partition-less (global)
    window sort — and the feature fetches are keyed joins."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_fs_linkage,
    )

    df = q_fs_linkage(spark, sf_dir)
    plan = plan_str(df)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    # every window in the plan is partitioned (no global single-task sort)
    specs = window_partition_specs(plan)
    assert specs, "no Window node found in the plan"
    assert all(specs), specs


def test_l_diversity_single_aggregate_chain(spark, sf_dir):
    """Two hash aggregates (group stats, then the 1-row audit), no
    joins, no Python — the release audit must stay a pure scan+agg."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_l_diversity,
    )

    plan = plan_str(q_l_diversity(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "Join" not in plan  # no join operators of any kind expected
    assert "HashAggregate" in plan


def test_dedup_cascade_no_python_semi_anti_chain(spark, sf_dir):
    """The cascade must stay JVM-side (digest + signature stages are
    codegen expressions) and restrict stages via semi/anti joins —
    never a cartesian."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_dedup_cascade,
    )

    plan = plan_str(q_dedup_cascade(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_ks_drift_windows_are_pair_partitioned(spark, sf_dir):
    """The ECDF cumsums must be windows PARTITIONED by source pair (no
    global single-task sort) over the pre-aggregated distinct-value
    table, with the top-source list broadcast."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_ks_drift,
    )

    plan = plan_str(q_ks_drift(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "BroadcastExchange" in plan
    specs = window_partition_specs(plan)
    assert specs, "no Window node found in the plan"
    assert all(specs), specs


def test_good_turing_is_two_hash_aggregates(spark, sf_dir):
    """One token-level groupBy with map-side combine, one
    source-level rollup — no joins, no windows, no Python."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_good_turing,
    )

    plan = plan_str(q_good_turing(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "Join" not in plan
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_mmr_rerank_rounds_stay_bounded_no_python(spark, sf_dir):
    """The unrolled MMR rounds operate on the bounded candidate set:
    no Python, no cartesian over data-sized frames (the candidate
    self-join is keyed on query_id)."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_mmr_rerank,
    )

    plan = plan_str(q_mmr_rerank(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_maxscore_prune_bounds_are_broadcast(spark, sf_dir):
    """U(t) and theta must reach the audit as broadcasts (|terms|-row
    and 1-row); the posting work is keyed joins + hash aggregates,
    no Python."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_maxscore_prune,
    )

    plan = plan_str(q_maxscore_prune(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "BroadcastExchange" in plan


def test_zipf_slope_window_is_source_partitioned(spark, sf_dir):
    """The rank window must be partitioned by source (no global sort)
    and the whole fit is integer codegen — no Python."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_zipf_slope,
    )

    plan = plan_str(q_zipf_slope(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "partitionBy=[]" not in plan


def test_quality_mixture_totals_are_broadcast_scalar(spark, sf_dir):
    """The sum-of-means/budget totals must be a 1-row broadcast cross
    join onto the source rollup — no Python, no data-sized cartesian."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_quality_mixture,
    )

    plan = plan_str(q_quality_mixture(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "BroadcastExchange" in plan


def test_coreset_rounds_broadcast_centers_no_python(spark, sf_dir):
    """Every k-center round must score the corpus against BROADCAST
    centers (no data-sized cartesian, no Python) and pick via
    TakeOrderedAndProject."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_coreset_select,
    )

    plan = plan_str(q_coreset_select(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_bootstrap_ci_single_scan_fanout(spark, sf_dir):
    """The replicate fanout must be a scan-side explode feeding a
    B-group aggregate — one Generate node, no joins over data-sized
    frames, no Python."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_bootstrap_ci,
    )

    plan = plan_str(q_bootstrap_ci(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "Generate" in plan  # the explode
    assert "BroadcastExchange" in plan  # 1-row stats onto point


def test_code_detect_is_scan_plus_rollup(spark, sf_dir):
    """The gate is char-class counters + one source rollup: no joins,
    no windows, no Python."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_code_detect,
    )

    plan = plan_str(q_code_detect(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_char_entropy_keyed_joins_no_python(spark, sf_dir):
    """The entropy chain is explode -> three keyed aggregations with a
    doc-keyed join — no Python, no cartesian."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_char_entropy,
    )

    plan = plan_str(q_char_entropy(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate" in plan


def test_bot_detect_window_is_user_partitioned(spark, sf_dir):
    """The gap lag must be a user-partitioned window (no global sort)
    and the review queue a TakeOrderedAndProject — no Python."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_bot_detect,
    )

    plan = plan_str(q_bot_detect(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_maxsim_query_side_is_broadcast(spark, sf_dir):
    """The exploded query subvectors must broadcast; corpus subvector
    work is scan-side (one Generate) — no Python."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_maxsim_topk,
    )

    plan = plan_str(q_maxsim_topk(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Generate" in plan


def test_rouge_pairs_gram_joins_are_keyed(spark, sf_dir):
    """Gram tables meet the pair set through keyed joins (doc id,
    then gram equi-join) — no gram-table cross, no Python."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_rouge_pairs,
    )

    plan = plan_str(q_rouge_pairs(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_maxcover_rounds_are_antijoin_plus_takeordered(spark, sf_dir):
    """Each greedy round is a gram-keyed anti-join + count + argmax —
    no Python, no cartesian, TakeOrdered picks."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_maxcover_select,
    )

    plan = plan_str(q_maxcover_select(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_source_novelty_single_gram_join(spark, sf_dir):
    """Novelty is one gram-keyed multiplicity join + rollup + 1-row
    broadcast total — no Python, no cartesian beyond the scalar."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_source_novelty,
    )

    plan = plan_str(q_source_novelty(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "BroadcastExchange" in plan


def test_pruning_curve_is_bucketed_not_rescanned(spark, sf_dir):
    """The curve must come from ONE corpus scan bucketed by top
    threshold (5-row suffix-sum join), not 5 filtered scans: the plan
    may contain at most one documents scan."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_pruning_curve,
    )

    plan = plan_str(q_pruning_curve(spark, sf_dir))
    assert "EvalPython" not in plan
    assert plan.count("documents.parquet") <= 2  # base + total rollup


def test_canonical_policy_diff_single_rollup_no_python(spark, sf_dir):
    """The policy diff rides the verified cluster labels: per-cluster
    aggregate + 1-row rollup, no Python, no cartesian."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_canonical_policy_diff,
    )

    plan = plan_str(q_canonical_policy_diff(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_term_burstiness_is_two_aggregates_plus_takeordered(spark, sf_dir):
    """Burstiness is (doc,term) counts -> term rollup -> TakeOrdered:
    no joins, no Python."""
    from microdata_rdf_streaming_parser_js_spark.plans.queries import (
        q_term_burstiness,
    )

    plan = plan_str(q_term_burstiness(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
