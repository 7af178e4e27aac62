"""Driver-facing query registry: every operator exposed as a
(spark, sf_dir) -> DataFrame callable plus (where SQL-expressible) an
exactly-matching DuckDB oracle over the pre-registered parquet views
(documents, embeddings, events, ...) or over golden-fixture VALUES.

Cross-engine parity rules used throughout:
- hashing: md5 / sha256 only (identical hex in Spark + DuckDB);
- doubles: identical expression *shape* (sequential folds both sides:
  Spark ``aggregate`` with init 0.0 == DuckDB ``list_reduce`` without
  init, exact because 0.0 + x == x) so IEEE results match
  bit-for-bit; thresholds on exact rationals;
- rounding ambiguity avoided via floor(x * 1e6) integers; streaming
  aggregations sum per-row floored longs so state-store merge order
  cannot drift;
- randomized structures (LSH hyperplanes, near-dup noise) come from a
  precomputed md5 integer lattice (functions/lattice.py) embedded as
  plan-time literals on BOTH engines — never an engine-native hash;
- deterministic Python kernels (page metrics, multimodal fakes) are
  imported by their oracle builders and re-run locally into golden
  VALUES — one shared implementation, no drift surface;
- timestamps exported as epoch-second bigints (tz-free on both
  engines: raw parquet micros -> epoch).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..fixtures import FIXTURES
from ..functions.text import (
    LANG_MARKERS,
    STOPWORDS_EN,
    fingerprint,
    lang_id,
    subword_count,
    token_count,
)
from ..operators.canonicalize import dedup_triples
from ..operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from ..operators.extract import extract_triples
from ..operators.linking import detect_mentions, score_and_link
from ..operators.similarity import (
    cosine_topk,
    embedding_near_dup,
    lit_array,
    lsh_topk,
)
from ..operators.skolemize import DEFAULT_SALT, skolemize
from ..sources.pages import synthesize_oracle_pages

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB)
# ---------------------------------------------------------------------------

_NORM = r"regexp_replace(lower(trim({c})), '\s+', ' ', 'g')"
_TOKS = f"regexp_split_to_array({_NORM}, ' ')"


def _sql_str(value) -> str:
    if value is None:
        return "NULL"
    return "'" + str(value).replace("'", "''") + "'"


def _golden_values() -> str:
    """VALUES rows of the transcribed golden triples (url, subj, pred,
    obj, obj_kind, obj_lang, obj_datatype) — deduped set semantics."""
    rows = []
    seen = set()
    for f in FIXTURES:
        url = f"http://pages.example.org/{f.name}.html"
        for (s, p, o, kind, lang, dt) in f.expected:
            key = (url, s, p, o, kind, lang, dt)
            if key in seen:
                continue
            seen.add(key)
            rows.append(
                f"({_sql_str(url)}, {_sql_str(s)}, {_sql_str(p)}, {_sql_str(o)}, "
                f"{_sql_str(kind)}, {_sql_str(lang)}, {_sql_str(dt)})"
            )
    return ",\n".join(rows)


def _golden_skolemized_cte() -> str:
    """CTE 'golden' = transcribed expected triples with SQL-side
    skolemization (same salted-sha256 scheme as operators/skolemize)."""
    return f"""
golden_raw(url, subj, pred, obj, obj_kind, obj_lang, obj_datatype) AS (
  VALUES
{_golden_values()}
),
golden AS (
  SELECT
    url,
    CASE WHEN subj LIKE '\\_:%' ESCAPE '\\'
         THEN 'urn:skolem:' || sha256(url || '|{DEFAULT_SALT}|' || subj)
         ELSE subj END AS subj,
    pred,
    CASE WHEN obj_kind = 'blank'
         THEN 'urn:skolem:' || sha256(url || '|{DEFAULT_SALT}|' || obj)
         ELSE obj END AS obj,
    CASE WHEN obj_kind = 'blank' THEN 'iri' ELSE obj_kind END AS obj_kind,
    obj_lang,
    obj_datatype
  FROM golden_raw
)"""


# ---------------------------------------------------------------------------
# KG pipeline queries (golden-fixture corpus)
# ---------------------------------------------------------------------------

def q_extract_triples(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """D2+D3+D5: extract conformance corpus -> skolemize -> dedup."""
    pages = synthesize_oracle_pages(spark)
    triples = dedup_triples(skolemize(extract_triples(pages)), per_graph=True)
    return triples.select(
        "url", "subj", "pred", "obj", "obj_kind", "obj_lang", "obj_datatype"
    )


def sql_extract_triples() -> str:
    return f"""WITH {_golden_skolemized_cte()}
SELECT CAST(url AS VARCHAR) AS url, CAST(subj AS VARCHAR) AS subj,
       CAST(pred AS VARCHAR) AS pred, CAST(obj AS VARCHAR) AS obj,
       CAST(obj_kind AS VARCHAR) AS obj_kind,
       CAST(obj_lang AS VARCHAR) AS obj_lang,
       CAST(obj_datatype AS VARCHAR) AS obj_datatype
FROM golden"""


_MENTION_PREDS = ("http://example.org/prop", "http://example.org/prop1")


def q_entity_link_mapping(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """D4: mention detection + scoring + argmax over the extracted
    conformance triples -> (iri -> canonical_iri) mapping.

    The triples frame is persisted: linking reads it once for the
    frequency aggregation, and persisting keeps the Python extraction
    stage from re-running per downstream reference."""
    pages = synthesize_oracle_pages(spark)
    triples = dedup_triples(skolemize(extract_triples(pages)), per_graph=True).persist()
    mentions = detect_mentions(triples, name_preds=_MENTION_PREDS)
    return score_and_link(mentions).select("iri", "canonical_iri")


def sql_entity_link_mapping() -> str:
    preds = ", ".join(_sql_str(p) for p in _MENTION_PREDS)
    return f"""WITH {_golden_skolemized_cte()},
mentions AS (
  SELECT subj AS entity_iri,
         regexp_replace(regexp_replace(lower(trim(obj)), '[^\\p{{L}}\\p{{N}}\\s]', '', 'g'),
                        '\\s+', ' ', 'g') AS mention_key
  FROM golden
  WHERE pred IN ({preds}) AND obj_kind = 'literal'
    AND length(regexp_replace(regexp_replace(lower(trim(obj)), '[^\\p{{L}}\\p{{N}}\\s]', '', 'g'),
                              '\\s+', ' ', 'g')) > 0
),
freq AS (
  SELECT mention_key, entity_iri, COUNT(*) AS n_mentions
  FROM mentions GROUP BY mention_key, entity_iri
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY mention_key ORDER BY n_mentions DESC, entity_iri ASC
  ) AS rank FROM freq
),
canon AS (
  SELECT mention_key, entity_iri AS canonical_iri FROM ranked WHERE rank = 1
)
SELECT r.entity_iri AS iri, MIN(c.canonical_iri) AS canonical_iri
FROM ranked r JOIN canon c USING (mention_key)
WHERE r.entity_iri <> c.canonical_iri
GROUP BY r.entity_iri"""


_QUARANTINE_OK_HTML = (
    '<div itemscope itemtype="http://schema.org/Thing">'
    '<span itemprop="name">ok</span></div>'
)
_QUARANTINE_BIG = 16 * 1024 * 1024 + 1
_QUARANTINE_NOBASE_HTML = (
    '<div itemscope itemtype="http://schema.org/Thing">'
    '<a itemprop="url" href="page.html">x</a></div>'
)


def q_extract_quarantine(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """D2's crawler-hygiene property as a checked query: hostile pages
    (null html, oversized html) land in the error column — one row per
    bad page, no task failure — while good pages extract normally."""
    rows = [
        ("http://hostile.example.org/ok", bytearray(_QUARANTINE_OK_HTML.encode())),
        ("http://hostile.example.org/null", None),
        ("http://hostile.example.org/big", bytearray(b"x" * _QUARANTINE_BIG)),
        # schemeless base + relative URL property: the reference emits
        # a stream error (onTagOpen try/catch); here the page lands in
        # quarantine with the InvalidIriError (handlers.handle_url)
        ("hostile.example.org/nobase", bytearray(_QUARANTINE_NOBASE_HTML.encode())),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary").repartition(2)
    raw = extract_triples(pages, keep_errors=True)
    return raw.groupBy("url").agg(
        F.count("subj").alias("n_triples"),
        F.min("error").alias("error"),
    )


def sql_extract_quarantine() -> str:
    return f"""SELECT CAST(url AS VARCHAR) AS url,
       CAST(n_triples AS BIGINT) AS n_triples,
       CAST(error AS VARCHAR) AS error
FROM (VALUES
 ('http://hostile.example.org/ok', 2, NULL),
 ('http://hostile.example.org/null', 0, 'ValueError: null html'),
 ('http://hostile.example.org/big', 0,
  'ValueError: html too large: {_QUARANTINE_BIG} bytes'),
 ('hostile.example.org/nobase', 0,
  'InvalidIriError: Found invalid baseIRI ''hostile.example.org/nobase'' for relative IRI ''page.html''')
) t(url, n_triples, error)"""


def q_entity_link_scored(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """D4 slow-path hook: the grouped pandas-UDF scorer
    (linking.score_mentions_pandas — Arrow batch per mention block,
    character-trigram Jaccard vs the block's modal surface). Scores
    are exported as floor(score*1e6) ints; the division is a single
    int/int IEEE op so DuckDB reproduces it exactly."""
    pages = synthesize_oracle_pages(spark)
    triples = dedup_triples(skolemize(extract_triples(pages)), per_graph=True)
    mentions = detect_mentions(triples, name_preds=_MENTION_PREDS)
    from ..operators.linking import score_mentions_pandas

    scored = score_mentions_pandas(mentions)
    return scored.select(
        "mention_key", "entity_iri", "surface",
        F.floor(F.col("score") * 1e6).cast("long").alias("score_u"),
    )


def sql_entity_link_scored() -> str:
    preds = ", ".join(_sql_str(p) for p in _MENTION_PREDS)
    norm = (
        "regexp_replace(regexp_replace(lower(trim(obj)), '[^\\p{L}\\p{N}\\s]', '', 'g'), "
        "'\\s+', ' ', 'g')"
    )

    def grams(col: str) -> str:
        padded = f"'  ' || lower({col}) || '  '"
        return (
            f"list_distinct(list_transform(range(1, length({padded}) - 1), "
            f"i -> substr({padded}, CAST(i AS INTEGER), 3)))"
        )

    return f"""WITH {_golden_skolemized_cte()},
mentions AS (
  SELECT subj AS entity_iri, obj AS surface, {norm} AS mention_key
  FROM golden
  WHERE pred IN ({preds}) AND obj_kind = 'literal' AND length({norm}) > 0
),
anchors AS (
  SELECT mention_key, surface AS anchor FROM (
    SELECT mention_key, surface,
           ROW_NUMBER() OVER (PARTITION BY mention_key
                              ORDER BY COUNT(*) DESC, surface ASC) AS rn
    FROM mentions GROUP BY mention_key, surface
  ) WHERE rn = 1
),
grams AS (
  SELECT m.mention_key, m.entity_iri, m.surface,
         {grams("m.surface")} AS g, {grams("a.anchor")} AS ag
  FROM mentions m JOIN anchors a USING (mention_key)
)
SELECT mention_key, entity_iri, surface,
       CAST(floor((len(list_intersect(g, ag))
                   / len(list_distinct(list_concat(g, ag)))) * 1e6) AS BIGINT)
         AS score_u
FROM grams"""


def q_graph_nodes(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """D7 nodes derivation over the conformance graph."""
    from ..sources.writers import nodes_from_triples, with_host_bucket

    pages = synthesize_oracle_pages(spark)
    triples = with_host_bucket(
        dedup_triples(skolemize(extract_triples(pages)), per_graph=True), 8
    )
    return nodes_from_triples(triples).select("iri", "kind").distinct()


def sql_graph_nodes() -> str:
    return f"""WITH {_golden_skolemized_cte()}
SELECT DISTINCT iri, 'iri' AS kind FROM (
  SELECT subj AS iri FROM golden
  UNION ALL
  SELECT obj FROM golden WHERE obj_kind <> 'literal'
)"""


def q_graph_edges(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """D7 edges derivation (iri->iri only) over the conformance graph."""
    from ..sources.writers import edges_from_triples, with_host_bucket

    pages = synthesize_oracle_pages(spark)
    triples = with_host_bucket(
        dedup_triples(skolemize(extract_triples(pages)), per_graph=True), 8
    )
    return edges_from_triples(triples).select("subj", "pred", "obj", "url")


def sql_graph_edges() -> str:
    return f"""WITH {_golden_skolemized_cte()}
SELECT subj, pred, obj, url FROM golden WHERE obj_kind <> 'literal'"""


def q_graph_components(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Iterative min-label-propagation connected components over the
    conformance KG (operators/graph.py). The oracle expresses the same
    fixpoint as a DuckDB recursive CTE, so even the iterative operator
    is value-checked."""
    from ..operators.graph import connected_components
    from ..sources.writers import (
        edges_from_triples,
        nodes_from_triples,
        with_host_bucket,
    )

    pages = synthesize_oracle_pages(spark)
    triples = with_host_bucket(
        dedup_triples(skolemize(extract_triples(pages)), per_graph=True), 8
    ).persist()
    try:
        nodes = nodes_from_triples(triples).select("iri").distinct()
        edges = edges_from_triples(triples).select("subj", "obj")
        # the returned labels frame is materialized inside the fixpoint
        # loop, so the triples cache can be dropped before returning
        return connected_components(nodes, edges)
    finally:
        triples.unpersist()


def sql_graph_components() -> str:
    return f"""WITH RECURSIVE {_golden_skolemized_cte()},
nodes AS (
  SELECT DISTINCT iri FROM (
    SELECT subj AS iri FROM golden
    UNION ALL
    SELECT obj FROM golden WHERE obj_kind <> 'literal'
  )
),
und AS (
  SELECT subj AS a, obj AS b FROM golden WHERE obj_kind <> 'literal'
  UNION
  SELECT obj, subj FROM golden WHERE obj_kind <> 'literal'
),
reach(a, b) AS (
  SELECT iri, iri FROM nodes
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
)
SELECT a AS iri, MIN(b) AS comp FROM reach GROUP BY a"""


def q_graph_components_path(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Long-diameter stress: a synthetic path graph over the documents
    table — consecutive doc_ids chained, cut every 100 (five diameter-
    99 components at sf0.01). Plain O(diameter) min-label propagation
    needs ~99 rounds here; the large-star/small-star implementation
    (operators/graph.py) converges in O(log n). The oracle recomputes
    the same components with a DuckDB recursive CTE."""
    from ..operators.graph import connected_components

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    edges = (
        ids.select(F.col("doc_id").alias("subj"),
                   (F.col("doc_id") + F.lit(1)).alias("obj"))
        .where(F.pmod(F.col("doc_id"), F.lit(100)) != 99)
        .join(ids.select(F.col("doc_id").alias("obj")), "obj", "left_semi")
    )
    out = connected_components(ids, edges, id_col="doc_id")
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      F.col("comp").cast("long").alias("comp"))


def sql_graph_components_path() -> str:
    return """WITH RECURSIVE ids AS (SELECT doc_id FROM documents),
e AS (
  SELECT d.doc_id AS a, d.doc_id + 1 AS b
  FROM ids d JOIN ids x ON x.doc_id = d.doc_id + 1
  WHERE d.doc_id % 100 <> 99
),
und AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM ids
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
)
SELECT a AS doc_id, MIN(b) AS comp FROM reach GROUP BY a"""


def q_graph_degrees(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Degree distribution of the conformance KG (one shuffle)."""
    from ..operators.graph import degree_stats
    from ..sources.writers import edges_from_triples, with_host_bucket

    pages = synthesize_oracle_pages(spark)
    triples = with_host_bucket(
        dedup_triples(skolemize(extract_triples(pages)), per_graph=True), 8
    )
    return degree_stats(edges_from_triples(triples).select("subj", "obj"))


def sql_graph_degrees() -> str:
    return f"""WITH {_golden_skolemized_cte()},
e AS (SELECT subj, obj FROM golden WHERE obj_kind <> 'literal'),
o AS (SELECT subj AS iri, COUNT(*) AS out_deg FROM e GROUP BY 1),
i AS (SELECT obj AS iri, COUNT(*) AS in_deg FROM e GROUP BY 1)
SELECT COALESCE(o.iri, i.iri) AS iri,
       COALESCE(out_deg, 0) AS out_deg,
       COALESCE(in_deg, 0) AS in_deg,
       COALESCE(out_deg, 0) + COALESCE(in_deg, 0) AS total_deg
FROM o FULL OUTER JOIN i ON o.iri = i.iri"""


def q_extract_text(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Byte-identity invariant as a driver-checked query: distributed
    text extraction vs the synthesis-time text column."""
    from ..operators.extract import TEXT_SCHEMA, page_text
    from ..operators.rows import map_rows

    pages = synthesize_oracle_pages(spark)
    return map_rows(pages, ["url", "html"], page_text, TEXT_SCHEMA)


def sql_extract_text() -> str:
    from ..sources.pages import synthesize_oracle_pages as _sop  # noqa: F401
    from ..fixtures import FIXTURES as _FX
    from ..functions.microdata import extract_text as _et

    rows = ",\n".join(
        f"({_sql_str(f'http://pages.example.org/{f.name}.html')}, {_sql_str(_et(f.html))})"
        for f in _FX
    )
    return (
        "SELECT CAST(url AS VARCHAR) AS url, CAST(text AS VARCHAR) AS text\n"
        f"FROM (VALUES\n{rows}\n) t(url, text)"
    )


def q_page_metrics(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """S5 parse-event tap: per-page tag/text/triple counts (lineage)."""
    from ..operators.extract import page_metrics

    pages = synthesize_oracle_pages(spark)
    return page_metrics(pages)


def sql_page_metrics() -> str:
    """Golden VALUES: the identical pure-Python metrics kernel
    (operators/extract.compute_page_metrics) run locally over the same
    fixture corpus — pins the distributed tap output exactly."""
    from ..operators.extract import compute_page_metrics

    rows = []
    for f in FIXTURES:
        url = f"http://pages.example.org/{f.name}.html"
        m = compute_page_metrics(url, f.html)
        rows.append("(" + ", ".join(_sql_str(v) if i in (0, 6) else str(v)
                                    for i, v in enumerate(m)) + ")")
    values = ",\n".join(rows)
    return f"""SELECT CAST(url AS VARCHAR) AS url,
       CAST(n_tags AS BIGINT) AS n_tags,
       CAST(n_text_events AS BIGINT) AS n_text_events,
       CAST(n_text_chars AS BIGINT) AS n_text_chars,
       CAST(n_triples AS BIGINT) AS n_triples,
       CAST(n_items AS BIGINT) AS n_items,
       CAST(error AS VARCHAR) AS error
FROM (VALUES
{values}
) t(url, n_tags, n_text_events, n_text_chars, n_triples, n_items, error)"""


def q_host_stats(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Host extraction + per-host volume (the partitioning key for D6)
    over synthetic urls derived from documents."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    url = F.concat(
        F.lit("http://host"),
        F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
        F.lit(".example.org/d/"),
        F.col("doc_id").cast("string"),
    )
    return (
        docs.select(F.parse_url(url, F.lit("HOST")).alias("host"))
        .groupBy("host")
        .agg(F.count("*").alias("n_pages"))
    )


def sql_host_stats() -> str:
    return """SELECT regexp_extract('http://host' || CAST(doc_id % 7 AS VARCHAR)
         || '.example.org/d/' || CAST(doc_id AS VARCHAR), '^[a-z]+://([^/]+)', 1) AS host,
       COUNT(*) AS n_pages
FROM documents GROUP BY 1"""


# ---------------------------------------------------------------------------
# relational breadth (TPC-H-style over the stock tables; money handled
# as per-row floor(x*100) integer cents so distributed double-sum
# fold order can never drift from the oracle)
# ---------------------------------------------------------------------------

_Q1_CUTOFF_EPOCH = 904_694_400  # 1998-09-02 UTC
_Q3_SEGMENT = "BUILDING"
_Q3_TOPK = 10


def _cents(col: "F.Column") -> "F.Column":  # type: ignore[name-defined]
    return F.floor(col * 100).cast("long")


def q_pricing_summary(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """TPC-H Q1-shaped pricing summary: one scan, map-side partial
    aggregation, one exchange on the 6-group key."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    price = F.col("l_extendedprice")
    return (
        li.filter(F.unix_timestamp("l_shipdate") <= _Q1_CUTOFF_EPOCH)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_cents(F.col("l_quantity"))).alias("sum_qty_c"),
            F.sum(_cents(price)).alias("sum_base_c"),
            F.sum(_cents(price * (F.lit(1.0) - F.col("l_discount")))).alias(
                "sum_disc_c"
            ),
            F.count("*").alias("count_order"),
        )
    )


def sql_pricing_summary() -> str:
    return f"""SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
  CAST(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_c,
  CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_c,
  COUNT(*) AS count_order
FROM lineitem
WHERE epoch(l_shipdate) <= {_Q1_CUTOFF_EPOCH}
GROUP BY 1, 2"""


def q_top_revenue_orders(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """TPC-H Q3-shaped top-k: selective dim filter broadcast into the
    fact join, revenue in integer cents, deterministic rank."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_mktsegment") == _Q3_SEGMENT
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    rev = _cents(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("o_orderkey", F.unix_timestamp("o_orderdate").alias("o_epoch"))
        .agg(F.sum(rev).alias("revenue_c"))
    )
    # distributed top-k (TakeOrderedAndProject) FIRST, then the rank
    # window runs over <= k rows — an unpartitioned window over all
    # order groups would funnel everything through one task
    topk = joined.orderBy(
        F.col("revenue_c").desc(), F.col("o_orderkey").asc()
    ).limit(_Q3_TOPK)
    w = Window.orderBy(F.col("revenue_c").desc(), F.col("o_orderkey").asc())
    return topk.withColumn("rank", F.row_number().over(w).cast("long"))


def sql_top_revenue_orders() -> str:
    return f"""WITH j AS (
  SELECT o.o_orderkey, CAST(epoch(o.o_orderdate) AS BIGINT) AS o_epoch,
         CAST(SUM(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_c
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment = {_sql_str(_Q3_SEGMENT)}
  GROUP BY 1, 2
)
SELECT o_orderkey, o_epoch, revenue_c,
       ROW_NUMBER() OVER (ORDER BY revenue_c DESC, o_orderkey ASC) AS rank
FROM j QUALIFY rank <= {_Q3_TOPK}"""


# ---------------------------------------------------------------------------
# dedup family (documents)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_dedup(docs)


def sql_dedup_exact() -> str:
    return f"""SELECT md5({_NORM.format(c="text")}) AS digest,
       MIN(doc_id) AS canonical_doc_id,
       COUNT(*) AS n_dups
FROM documents GROUP BY 1"""


_MH_HASHES = 8
_MH_BANDS = 4
_MH_K = 3


def q_minhash_lsh_pairs(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_lsh_pairs(
        docs, num_hashes=_MH_HASHES, bands=_MH_BANDS, k=_MH_K
    )


def _minhash_cand_cte() -> str:
    """Shared CTE chain toks -> mh_sh -> mh_x -> sigs -> bands -> cand
    mirroring operators/dedup.minhash_lsh_pairs exactly (docs with
    fewer than _MH_K tokens produce no shingles and drop out; the
    universal-hash parameters are IMPORTED from operators/dedup._mh_ab
    so both engines share one source of truth). Used by
    sql_minhash_lsh_pairs, sql_ngram_jaccard_lsh, and the incremental/
    cluster oracles so the banding scheme lives in ONE place per
    engine."""
    from ..operators.dedup import _MH_M, _mh_ab

    rows_per_band = _MH_HASHES // _MH_BANDS
    # 48-bit md5-prefix integer, exact in BIGINT arithmetic
    nib12 = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1)"
        f" * {16 ** (11 - i)}"
        for i in range(12)
    )
    sig_exprs = ",\n    ".join(
        "list_min(list_transform(xs, x -> "
        f"({_mh_ab(j)[0]} * x + {_mh_ab(j)[1]}) % {_MH_M})) AS h{j}"
        for j in range(_MH_HASHES)
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_id, md5("
        + " || '|' || ".join(
            f"CAST(h{b * rows_per_band + r} AS VARCHAR)"
            for r in range(rows_per_band)
        )
        + ") AS band_key FROM sigs"
        for b in range(_MH_BANDS)
    )
    return f"""toks AS (
  SELECT doc_id, {_TOKS.format(c="text")} AS t FROM documents
),
mh_sh AS (
  SELECT doc_id,
         list_transform(range(0, len(t) - {_MH_K - 1}),
                        i -> array_to_string(t[i + 1 : i + {_MH_K}], ' ')) AS sh
  FROM toks WHERE len(t) >= {_MH_K}
),
mh_x AS (
  SELECT doc_id,
         list_transform(list_transform(sh, s -> md5(s)),
                        h -> {nib12}) AS xs
  FROM mh_sh
),
sigs AS (
  SELECT doc_id,
    {sig_exprs}
  FROM mh_x
),
bands AS (
{band_rows}
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_id_a, r.doc_id AS doc_id_b
  FROM bands l JOIN bands r
    ON l.band_id = r.band_id AND l.band_key = r.band_key AND l.doc_id < r.doc_id
)"""


def sql_minhash_lsh_pairs() -> str:
    return f"""WITH {_minhash_cand_cte()}
SELECT doc_id_a, doc_id_b FROM cand"""


_NJ_K = 3
_NJ_THRESHOLD = 0.8


def q_ngram_jaccard_pairs(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = ngram_jaccard_pairs(docs, k=_NJ_K, threshold=_NJ_THRESHOLD)
    return pairs.select(
        "doc_id_a",
        "doc_id_b",
        F.floor(F.col("jaccard") * 1e6).cast("long").alias("jaccard_u"),
    )


def sql_ngram_jaccard_pairs() -> str:
    return f"""WITH toks AS (
  SELECT doc_id, {_TOKS.format(c="text")} AS t FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(t) >= {_NJ_K}
                THEN list_transform(range(0, len(t) - {_NJ_K - 1}),
                                    i -> array_to_string(t[i + 1 : i + {_NJ_K}], ' '))
                ELSE [] END) AS sh
  FROM toks
),
sizes AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
inter AS (
  SELECT l.doc_id AS doc_id_a, r.doc_id AS doc_id_b, COUNT(*) AS n_inter
  FROM inv l JOIN inv r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_id_a, i.doc_id_b,
       CAST(floor((i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter)) * 1e6) AS BIGINT) AS jaccard_u
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_id_a
JOIN sizes sb ON sb.doc_id = i.doc_id_b
WHERE i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter) >= {_NJ_THRESHOLD}"""


_NJ_MAX_DF = 25


def q_ngram_jaccard_capped(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """All-pairs n-gram Jaccard with the hot-shingle document-frequency
    cap (max_shingle_df) — the guard that makes the inverted-index
    self-join callable beyond test scale: a boilerplate shingle shared
    by 1M docs would otherwise contribute 10^12 join rows. Shingles
    with df > cap are dropped from the intersection count; denominators
    stay the exact full shingle-set sizes. The oracle embeds the
    identical cap."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = ngram_jaccard_pairs(
        docs, k=_NJ_K, threshold=_NJ_THRESHOLD, max_shingle_df=_NJ_MAX_DF
    )
    return pairs.select(
        "doc_id_a",
        "doc_id_b",
        F.floor(F.col("jaccard") * 1e6).cast("long").alias("jaccard_u"),
    )


def sql_ngram_jaccard_capped() -> str:
    return f"""WITH toks AS (
  SELECT doc_id, {_TOKS.format(c="text")} AS t FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(t) >= {_NJ_K}
                THEN list_transform(range(0, len(t) - {_NJ_K - 1}),
                                    i -> array_to_string(t[i + 1 : i + {_NJ_K}], ' '))
                ELSE [] END) AS sh
  FROM toks
),
sizes AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
kept AS (SELECT shingle FROM inv GROUP BY shingle HAVING COUNT(*) <= {_NJ_MAX_DF}),
inv2 AS (SELECT i.doc_id, i.shingle FROM inv i JOIN kept k USING (shingle)),
inter AS (
  SELECT l.doc_id AS doc_id_a, r.doc_id AS doc_id_b, COUNT(*) AS n_inter
  FROM inv2 l JOIN inv2 r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_id_a, i.doc_id_b,
       CAST(floor((i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter)) * 1e6) AS BIGINT) AS jaccard_u
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_id_a
JOIN sizes sb ON sb.doc_id = i.doc_id_b
WHERE i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter) >= {_NJ_THRESHOLD}"""


_NJL_THRESHOLD = 0.7


def q_ngram_jaccard_lsh(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The scalable near-dup shape: MinHash-LSH candidate pairs, then
    exact n-gram Jaccard verification on the survivors only (the
    all-pairs inverted index of q_ngram_jaccard_pairs is the
    correctness baseline; this is what runs at 100 TB)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cands = minhash_lsh_pairs(docs, num_hashes=_MH_HASHES, bands=_MH_BANDS, k=_MH_K)
    pairs = ngram_jaccard_pairs(
        docs, k=_NJ_K, threshold=_NJL_THRESHOLD, candidates=cands
    )
    return pairs.select(
        "doc_id_a",
        "doc_id_b",
        F.floor(F.col("jaccard") * 1e6).cast("long").alias("jaccard_u"),
    )


def sql_ngram_jaccard_lsh() -> str:
    # verification shingles use _NJ_K (matching the Spark-side
    # ngram_jaccard_pairs(k=_NJ_K) call) — independent of the _MH_K the
    # shared candidate CTE uses for MinHash signatures
    return f"""WITH {_minhash_cand_cte()},
vsh AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(t) >= {_NJ_K}
                THEN list_transform(range(0, len(t) - {_NJ_K - 1}),
                                    i -> array_to_string(t[i + 1 : i + {_NJ_K}], ' '))
                ELSE [] END) AS sh
  FROM toks
),
sizes AS (SELECT doc_id, len(sh) AS n_sh FROM vsh),
inv AS (SELECT doc_id, unnest(sh) AS shingle FROM vsh
        WHERE doc_id IN (SELECT doc_id_a FROM cand UNION SELECT doc_id_b FROM cand)),
inter AS (
  SELECT l.doc_id AS doc_id_a, r.doc_id AS doc_id_b, COUNT(*) AS n_inter
  FROM inv l JOIN inv r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_id_a, i.doc_id_b,
       CAST(floor((i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter)) * 1e6) AS BIGINT) AS jaccard_u
FROM inter i
JOIN cand c ON c.doc_id_a = i.doc_id_a AND c.doc_id_b = i.doc_id_b
JOIN sizes sa ON sa.doc_id = i.doc_id_a
JOIN sizes sb ON sb.doc_id = i.doc_id_b
WHERE i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter) >= {_NJL_THRESHOLD}"""


_HEX_HIGH = ("8", "9", "a", "b", "c", "d", "e", "f")
_SIMHASH_BITS = 32


def q_simhash32(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Engine-portable 32-bit SimHash (bit b = high bit of md5 hex
    nibble b) — the oracle-checkable variant of simhash64."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    def _bit_sum(b):
        def merge(acc, t):
            return acc + F.when(
                F.substring(F.md5(t), b + 1, 1).isin(*_HEX_HIGH), F.lit(1)
            ).otherwise(F.lit(-1))

        return F.aggregate(toks, F.lit(0), merge)

    sig = F.lit(0).cast("long")
    for b in range(_SIMHASH_BITS):
        sig = sig + F.when(_bit_sum(b) > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return docs.select("doc_id", sig.alias("simhash32"))


def sql_simhash32() -> str:
    terms = " + ".join(
        f"""(CASE WHEN list_sum(list_transform(t,
           x -> CASE WHEN substr(md5(x), {b + 1}, 1) IN {repr(_HEX_HIGH)} THEN 1 ELSE -1 END)) > 0
        THEN {1 << b} ELSE 0 END)"""
        for b in range(_SIMHASH_BITS)
    )
    return f"""WITH toks AS (
  SELECT doc_id, {_TOKS.format(c="text")} AS t FROM documents
)
SELECT doc_id, CAST({terms} AS BIGINT) AS simhash32 FROM toks"""


def q_simhash_pairs(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Production 63-bit SimHash near-dup pairs: md5-derived token
    hashes (two 32-bit digest halves) + exact 6-chunk combination
    blocking + Hamming verify. The oracle recomputes the full 63-bit
    signature in DuckDB (identical md5 digests) and blocks with the
    classic 4-chunk pigeonhole — a different-but-equivalent exact
    candidate generator, so the final pair set must match
    hash-for-hash."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_pairs(docs, max_hamming=3)


def sql_simhash_pairs() -> str:
    from ..operators.dedup import _simhash_chunk_spans

    toks = _TOKS.format(c="text")
    sum_terms = ",\n         ".join(
        f"SUM(CASE WHEN ({'h1' if b < 32 else 'h2'} >> {b % 32}) & 1 = 1 "
        f"THEN 1 ELSE -1 END) AS b{b}"
        for b in range(63)
    )
    sig_term = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(63)
    )
    chunk_rows = ", ".join(
        f"({cid}, {off}, {(1 << w) - 1})"
        for cid, (off, w) in enumerate(_simhash_chunk_spans(63, 4))
    )
    return f"""WITH toks AS (
  SELECT doc_id, {toks} AS t FROM documents
),
tok AS (
  SELECT doc_id, unnest(t) AS x FROM toks WHERE t IS NOT NULL
),
th AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) AS h1,
         CAST('0x' || substr(md5(x), 9, 8) AS BIGINT) AS h2
  FROM tok
),
sums AS (
  SELECT doc_id,
         {sum_terms}
  FROM th GROUP BY doc_id
),
sigs AS (
  SELECT doc_id, CAST({sig_term} AS BIGINT) AS sig FROM sums
),
chunks AS (
  SELECT doc_id, sig, c.chunk_id,
         (sig >> c.off) & c.mask AS chunk_key
  FROM sigs CROSS JOIN (VALUES {chunk_rows}) c(chunk_id, off, mask)
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_id_a, r.doc_id AS doc_id_b,
                  l.sig AS sig_a, r.sig AS sig_b
  FROM chunks l JOIN chunks r
    ON l.chunk_id = r.chunk_id AND l.chunk_key = r.chunk_key
   AND l.doc_id < r.doc_id
)
SELECT doc_id_a, doc_id_b, CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3"""


_SH32_MAX_HAMMING = 3
# Spark side: 6-chunk combination blocking (20 wide blocks — the
# crawl-scale default; see operators/dedup._simhash_block_rows).
# Oracle side: classic 4-chunk single-chunk pigeonhole. Both are EXACT
# blockings, so the final pair set is identical — the oracle being a
# different-but-equivalent candidate generator is a feature (it checks
# the algorithm, not the blocking implementation).
_SH32_CHUNKS = 6
_SH32_ORACLE_CHUNKS = 4


def q_simhash32_pairs(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Portable SimHash near-dup pairs: 32-bit md5 signatures + exact
    combination blocking + Hamming verify — identical algorithm to
    q_simhash_pairs, engine-portable hash, so the pairs themselves are
    oracle-checked."""
    from ..operators.dedup import simhash32_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash32_pairs(
        docs, max_hamming=_SH32_MAX_HAMMING, n_chunks=_SH32_CHUNKS
    )


def sql_simhash32_pairs() -> str:
    terms = " + ".join(
        f"""(CASE WHEN list_sum(list_transform(t,
           x -> CASE WHEN substr(md5(x), {b + 1}, 1) IN {repr(_HEX_HIGH)} THEN 1 ELSE -1 END)) > 0
        THEN {1 << b} ELSE 0 END)"""
        for b in range(_SIMHASH_BITS)
    )
    chunk_bits = 32 // _SH32_ORACLE_CHUNKS
    chunk_vals = ", ".join(f"({c})" for c in range(_SH32_ORACLE_CHUNKS))
    return f"""WITH toks AS (
  SELECT doc_id, {_TOKS.format(c="text")} AS t FROM documents
),
sigs AS (
  -- NULL-text docs drop out on the Spark side (explode of a NULL
  -- token array yields no rows before the groupBy); mirror that here
  SELECT doc_id, CAST({terms} AS BIGINT) AS sig FROM toks WHERE t IS NOT NULL
),
chunks AS (
  SELECT doc_id, sig, c.chunk_id,
         (sig >> (c.chunk_id * {chunk_bits})) & {(1 << chunk_bits) - 1} AS chunk_key
  FROM sigs CROSS JOIN (VALUES {chunk_vals}) c(chunk_id)
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_id_a, r.doc_id AS doc_id_b,
                  l.sig AS sig_a, r.sig AS sig_b
  FROM chunks l JOIN chunks r
    ON l.chunk_id = r.chunk_id AND l.chunk_key = r.chunk_key
   AND l.doc_id < r.doc_id
)
SELECT doc_id_a, doc_id_b, CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= {_SH32_MAX_HAMMING}"""


# ---------------------------------------------------------------------------
# text analysis (documents)
# ---------------------------------------------------------------------------

def q_token_stats(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        subword_count(F.col("text")).alias("n_subwords"),
        fingerprint(F.col("text")).alias("fingerprint"),
    )


def sql_token_stats() -> str:
    return f"""SELECT doc_id,
  CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len({_TOKS.format(c="text")}) END AS n_tokens,
  COALESCE(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')), 0) AS n_subwords,
  md5({_NORM.format(c="text")}) AS fingerprint
FROM documents"""


def q_lang_id(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


def sql_lang_id() -> str:
    def hits(markers):
        in_list = ", ".join(_sql_str(m) for m in markers)
        return f"len(list_filter({_TOKS.format(c='text')}, x -> x IN ({in_list})))"

    en, de, fr, es = (hits(LANG_MARKERS[k]) for k in ("en", "de", "fr", "es"))
    return f"""SELECT doc_id,
  CASE
    WHEN {en} > 0 AND {en} >= {de} AND {en} >= {fr} AND {en} >= {es} THEN 'en'
    WHEN {de} > 0 AND {de} >= {fr} AND {de} >= {es} THEN 'de'
    WHEN {fr} > 0 AND {fr} >= {es} THEN 'fr'
    WHEN {es} > 0 THEN 'es'
    ELSE 'und'
  END AS lang_pred
FROM documents"""


def q_quality(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    from ..functions.text import quality_score_u

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", quality_score_u(F.col("text")).alias("quality_u"))


def sql_quality() -> str:
    stop_list = ", ".join(_sql_str(s) for s in STOPWORDS_EN)
    toks = _TOKS.format(c="text")
    return f"""WITH m AS (
  SELECT doc_id,
    length(text) AS n_chars,
    len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
    len(regexp_extract_all(text, '[!"#$%&''()*+,\\-./:;<=>?@\\[\\\\\\]^_`{{|}}~]')) AS n_punct,
    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({toks}) END AS n_toks,
    len(list_filter({toks}, t -> t IN ({stop_list}))) AS stop_hits
  FROM documents
)
SELECT doc_id, CAST(floor((
    0.25 * (CASE WHEN n_chars >= 200 THEN 1.0 ELSE n_chars / 200.0 END)
  + 0.35 * (CASE WHEN n_chars > 0 THEN n_alpha / CAST(n_chars AS DOUBLE) ELSE 0.0 END)
  + 0.25 * least((CASE WHEN n_toks > 0 THEN stop_hits / CAST(n_toks AS DOUBLE) ELSE 0.0 END) * 2, 1.0)
  + 0.15 * (1.0 - least((CASE WHEN n_chars > 0 THEN n_punct / CAST(n_chars AS DOUBLE) ELSE 0.0 END) * 4, 1.0))
) * 1e6) AS BIGINT) AS quality_u
FROM m"""


# ---------------------------------------------------------------------------
# similarity (embeddings)
# ---------------------------------------------------------------------------

_TOPK_K = 10
_N_QUERIES = 5


def q_topk_cosine(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(emb, queries, k=_TOPK_K).select(
        "query_id",
        "vec_id",
        F.floor(F.col("cos_sim") * 1e6).cast("long").alias("cos_u"),
        F.col("rank").cast("long").alias("rank"),  # match DuckDB ROW_NUMBER (BIGINT)
    )


def sql_topk_cosine() -> str:
    dot = (
        "list_reduce(list_transform(range(1, len(q.e) + 1), "
        "i -> q.e[i] * e.e[i]), (a, b) -> a + b)"
    )
    nrm = "sqrt(list_reduce(list_transform({v}, x -> x * x), (a, b) -> a + b))"
    return f"""WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, e FROM vecs WHERE vec_id < {_N_QUERIES}),
e AS (SELECT vec_id, e FROM vecs),
scored AS (
  SELECT q.query_id, e.vec_id,
         round({dot} / ({nrm.format(v="q.e")} * {nrm.format(v="e.e")}), 6) AS cos_sim
  FROM q, e
),
ranked AS (
  SELECT query_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, CAST(floor(cos_sim * 1e6) AS BIGINT) AS cos_u, rank
FROM ranked WHERE rank <= {_TOPK_K}"""


_LSH_DIM = 64
_LSH_PLANES = 16
_LSH_BANDS = 4
_ND_PLANES = 24
_ND_BANDS = 4
_ND_THRESHOLD = 0.95
_ND_NDUP = 40
_ND_ID_OFFSET = 1_000_000
_ND_NOISE_SEED = "near-dup-noise"
_ND_NOISE_SCALE = 20_000.0


def _assert_embedding_dim(emb: "DataFrame") -> None:
    """The LSH/near-dup oracles embed a {_LSH_DIM}-wide lattice; a
    different on-disk dim would silently zip_with-pad to NULL
    projections and collapse every vector into one bucket. Fail loudly
    instead (one tiny first() probe)."""
    dim = len(emb.select("embedding").first()[0])
    if dim != _LSH_DIM:
        raise ValueError(f"embeddings dim {dim} != expected {_LSH_DIM}")


def q_lsh_topk(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """ANN path: random-hyperplane LSH candidates (md5 weight lattice,
    functions/lattice.py) + exact cosine on candidates only."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _assert_embedding_dim(emb)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(
        emb, queries, k=_TOPK_K, dim=_LSH_DIM,
        n_planes=_LSH_PLANES, n_bands=_LSH_BANDS,
    ).select(
        "query_id",
        "vec_id",
        F.floor(F.col("cos_sim") * 1e6).cast("long").alias("cos_u"),
        F.col("rank").cast("long").alias("rank"),
    )


_IVF_CENTROIDS = 16
_IVF_PROBE = 4
_IVF_KMEANS_ITER = 3

# Lloyd centroids are deterministic plain integer lists; train once
# per (sf_dir, corpus variant) and reuse across the IVF / clustering /
# SemDeDup queries — the production shape (train once, serve many),
# and it stops three queries from each paying the same 3 driver
# rounds.
_KM_CENTS_CACHE: dict = {}


def _cached_centroids(emb: "DataFrame", key: tuple) -> list:
    from ..operators.similarity import kmeans_centroids_u

    if key not in _KM_CENTS_CACHE:
        _KM_CENTS_CACHE[key] = kmeans_centroids_u(
            emb, n_centroids=_IVF_CENTROIDS, iterations=_IVF_KMEANS_ITER
        )
    return _KM_CENTS_CACHE[key]


def q_ivf_topk(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """IVF ANN path: integer-exact Lloyd k-means centroids (3 fixed
    iterations, first-16 seed), scan-side inverted-list assignment,
    probe 4 lists per query. The oracle replays the identical Lloyd
    rounds as an unrolled CTE chain (the PageRank oracle trick)."""
    from ..operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(
        emb, queries, k=_TOPK_K,
        n_centroids=_IVF_CENTROIDS, n_probe=_IVF_PROBE,
        kmeans_iterations=_IVF_KMEANS_ITER,
        cents_u=_cached_centroids(emb, (sf_dir, "raw")),
    ).select(
        "query_id",
        "vec_id",
        F.floor(F.col("cos_sim") * 1e6).cast("long").alias("cos_u"),
        F.col("rank").cast("long").alias("rank"),
    )


def _sql_lloyd_rounds(iters: int, dim: int = 64, vu: str = "vu",
                      prefix: str = "c") -> str:
    """Unrolled integer-exact Lloyd rounds mirroring
    operators/similarity.kmeans_centroids_u: micro-unit vectors,
    argmin squared-Euclidean assignment (ties -> min cid), floor-div
    centroid update ((s - mod)/n is exactly divisible, so '//' is
    exact), empty clusters keep their previous centroid. Expects CTEs
    ``{vu}(vec_id, v)`` (``dim``-wide) and ``{prefix}0(cid, cv)``;
    defines ``{prefix}{iters}``. Shared by sql_ivf_topk,
    sql_kmeans_clusters, sql_semantic_dedup; the PQ oracles instantiate
    it once per subspace with distinct ``vu``/``prefix``."""
    lloyd = []
    for r in range(iters):
        lloyd.append(f"""{prefix}dist{r} AS (
  SELECT v.vec_id, c.cid,
         list_reduce(list_transform(range(1, {dim + 1}),
           i -> (v.v[i] - c.cv[i]) * (v.v[i] - c.cv[i])), (a, b) -> a + b) AS d2
  FROM {vu} v CROSS JOIN {prefix}{r} c
),
{prefix}asg{r} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
    FROM {prefix}dist{r}) WHERE rn = 1
),
{prefix}upd{r} AS (
  SELECT a.cid, d.i, SUM(v.v[d.i]) AS s, COUNT(*) AS n
  FROM {prefix}asg{r} a JOIN {vu} v USING (vec_id)
       CROSS JOIN range(1, {dim + 1}) d(i)
  GROUP BY a.cid, d.i
),
{prefix}cn{r} AS (
  SELECT cid, list(CAST((s - ((s % n) + n) % n) // n AS BIGINT) ORDER BY i) AS cv
  FROM {prefix}upd{r} GROUP BY cid
),
{prefix}{r + 1} AS (
  SELECT p.cid, COALESCE(cn.cv, p.cv) AS cv
  FROM {prefix}{r} p LEFT JOIN {prefix}cn{r} cn USING (cid)
)""")
    return ",\n".join(lloyd)


def sql_ivf_topk() -> str:
    cdot = (
        "list_reduce(list_transform(range(1, 65), "
        "i -> v.e[i] * c.ce[i]), (x, y) -> x + y)"
    )
    qdot = (
        "list_reduce(list_transform(range(1, 65), "
        "i -> q.e[i] * e.e[i]), (x, y) -> x + y)"
    )
    nrm = "sqrt(list_reduce(list_transform({v}, x -> x * x), (a, b) -> a + b))"
    lloyd_ctes = _sql_lloyd_rounds(_IVF_KMEANS_ITER)
    return f"""WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
vu AS (
  SELECT vec_id,
         list_transform(e, x -> CAST(floor(x * 1000000) AS BIGINT)) AS v
  FROM vecs
),
c0 AS (SELECT vec_id AS cid, v AS cv FROM vu WHERE vec_id < {_IVF_CENTROIDS}),
{lloyd_ctes},
cents AS (
  SELECT cid, list_transform(cv, x -> x / 1000000.0) AS ce
  FROM c{_IVF_KMEANS_ITER}
),
vc AS (
  SELECT v.vec_id, c.cid,
         {cdot} / ({nrm.format(v="v.e")} * {nrm.format(v="c.ce")}) AS cos
  FROM vecs v CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
    FROM vc
  ) WHERE rn = 1
),
probe AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
    FROM vc WHERE vec_id < {_N_QUERIES}
  ) WHERE rn <= {_IVF_PROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id FROM probe p JOIN assign a USING (cid)
),
scored AS (
  SELECT c.query_id, c.vec_id,
         round({qdot} / ({nrm.format(v="q.e")} * {nrm.format(v="e.e")}), 6) AS cos_sim
  FROM cand c
  JOIN vecs q ON q.vec_id = c.query_id
  JOIN vecs e ON e.vec_id = c.vec_id
),
ranked AS (
  SELECT query_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, CAST(floor(cos_sim * 1e6) AS BIGINT) AS cos_u, rank
FROM ranked WHERE rank <= {_TOPK_K}"""


def _noise_vector() -> tuple[float, ...]:
    from ..functions.lattice import plane_weights

    return tuple(
        w / _ND_NOISE_SCALE
        for w in plane_weights(_LSH_DIM, 1, seed=_ND_NOISE_SEED)[0]
    )


def q_embedding_near_dup(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Near-dup pairs over embeddings augmented with deterministic
    planted duplicates (first _ND_NDUP vectors + a fixed small noise
    vector -> cos ~ 0.998): the raw table has no near-dup pairs at any
    SF (max pairwise cos 0.60), so the operator is exercised on a
    derived corpus both engines construct identically."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _assert_embedding_dim(emb)
    emb = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    noise = lit_array(_noise_vector(), "double")
    dups = emb.filter(F.col("vec_id") < _ND_NDUP).select(
        (F.col("vec_id") + _ND_ID_OFFSET).alias("vec_id"),
        F.zip_with("embedding", noise, lambda v, n: v + n).alias("embedding"),
    )
    aug = emb.unionByName(dups)
    return embedding_near_dup(
        aug, threshold=_ND_THRESHOLD, dim=_LSH_DIM,
        n_planes=_ND_PLANES, n_bands=_ND_BANDS,
    ).select(
        "vec_id_a", "vec_id_b",
        F.floor(F.col("cos_sim") * 1e6).cast("long").alias("cos_u"),
    )


def _planes_values(dim: int, n_planes: int) -> str:
    from ..functions.lattice import plane_weights

    return ",\n   ".join(
        f"({p}, [" + ", ".join(str(w) for w in row) + "]::DOUBLE[])"
        for p, row in enumerate(plane_weights(dim, n_planes))
    )


def _lsh_bands_cte(dim: int, n_planes: int, n_bands: int) -> str:
    """CTEs vecs->planes->proj->sig->bands mirroring lsh_buckets.

    Fold shapes match Spark exactly: per-element product then a left
    fold (DuckDB list_reduce starts at the first element; Spark's
    aggregate starts at 0.0 — identical doubles since 0.0 + x == x)."""
    bpb = n_planes // n_bands
    bands_vals = ", ".join(f"({b})" for b in range(n_bands))
    return f"""planes(plane_id, w) AS (VALUES
   {_planes_values(dim, n_planes)}
),
proj AS (
  SELECT v.vec_id, p.plane_id,
         list_reduce(list_transform(range(1, {dim} + 1), i -> v.e[i] * p.w[i]),
                     (a, b) -> a + b) AS pr
  FROM vecs v CROSS JOIN planes p
),
sig AS (
  SELECT vec_id,
         string_agg(CASE WHEN pr >= 0 THEN '1' ELSE '0' END, ''
                    ORDER BY plane_id) AS s
  FROM proj GROUP BY vec_id
),
bands AS (
  SELECT vec_id, band_id, substr(s, band_id * {bpb} + 1, {bpb}) AS band_key
  FROM sig CROSS JOIN (VALUES {bands_vals}) b(band_id)
)"""


_SQL_DOT = (
    "list_reduce(list_transform(range(1, {dim} + 1), "
    "i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
)
_SQL_NORM = "sqrt(list_reduce(list_transform({v}, x -> x * x), (a, b) -> a + b))"


def sql_lsh_topk() -> str:
    dot = _SQL_DOT.format(dim=_LSH_DIM, a="q.e", b="e.e")
    return f"""WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
{_lsh_bands_cte(_LSH_DIM, _LSH_PLANES, _LSH_BANDS)},
qb AS (SELECT vec_id AS query_id, band_id, band_key FROM bands
       WHERE vec_id < {_N_QUERIES}),
cand AS (
  SELECT DISTINCT q.query_id, e.vec_id
  FROM qb q JOIN bands e USING (band_id, band_key)
),
scored AS (
  SELECT c.query_id, c.vec_id,
         round({dot} / ({_SQL_NORM.format(v="q.e")} * {_SQL_NORM.format(v="e.e")}), 6) AS cos_sim
  FROM cand c
  JOIN vecs q ON q.vec_id = c.query_id
  JOIN vecs e ON e.vec_id = c.vec_id
),
ranked AS (
  SELECT query_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, CAST(floor(cos_sim * 1e6) AS BIGINT) AS cos_u, rank
FROM ranked WHERE rank <= {_TOPK_K}"""


def sql_embedding_near_dup() -> str:
    noise = "[" + ", ".join(repr(x) for x in _noise_vector()) + "]::DOUBLE[]"
    dot = _SQL_DOT.format(dim=_LSH_DIM, a="a.e", b="b.e")
    return f"""WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
noise(n) AS (VALUES ({noise})),
vecs AS (
  SELECT vec_id, e FROM base
  UNION ALL
  SELECT vec_id + {_ND_ID_OFFSET},
         list_transform(range(1, {_LSH_DIM} + 1), i -> e[i] + noise.n[i])
  FROM base CROSS JOIN noise WHERE vec_id < {_ND_NDUP}
),
{_lsh_bands_cte(_LSH_DIM, _ND_PLANES, _ND_BANDS)},
pairs AS (
  SELECT DISTINCT l.vec_id AS vec_id_a, r.vec_id AS vec_id_b
  FROM bands l JOIN bands r
    ON l.band_id = r.band_id AND l.band_key = r.band_key
   AND l.vec_id < r.vec_id
),
scored AS (
  SELECT p.vec_id_a, p.vec_id_b,
         round({dot} / ({_SQL_NORM.format(v="a.e")} * {_SQL_NORM.format(v="b.e")}), 6) AS cos_sim
  FROM pairs p
  JOIN vecs a ON a.vec_id = p.vec_id_a
  JOIN vecs b ON b.vec_id = p.vec_id_b
)
SELECT vec_id_a, vec_id_b, CAST(floor(cos_sim * 1e6) AS BIGINT) AS cos_u
FROM scored WHERE cos_sim >= {_ND_THRESHOLD}"""


# ---------------------------------------------------------------------------
# events (streaming-shaped windowed aggregation, batch-checkable)
# ---------------------------------------------------------------------------

def q_events_window(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        events.groupBy(
            (F.floor(F.unix_timestamp("ts") / 300) * 300).cast("long").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.floor(F.sum("value") * 1e6).cast("long").alias("sum_value_u"),
        )
    )


def sql_events_window() -> str:
    return """SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS window_start,
       event_type, COUNT(*) AS n_events,
       CAST(floor(SUM(value) * 1e6) AS BIGINT) AS sum_value_u
FROM events GROUP BY 1, 2"""


_SESSION_GAP_S = 1800


def q_events_sessionize(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Gap-based sessionization (30-min inactivity): lag + cumulative
    new-session flags over a per-user window — the standard two-window
    shape, one shuffle on user_id, fully codegen'd."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = F.unix_timestamp("ts")
    new_session = F.when(
        ep - F.lag(ep).over(w) > _SESSION_GAP_S, F.lit(1)
    ).otherwise(F.lit(0))
    sess = events.withColumn(
        "session_idx",
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.min(ep).cast("long").alias("session_start"),
        F.max(ep).cast("long").alias("session_end"),
        F.count("*").alias("n_events"),
    )


def sql_events_sessionize() -> str:
    # ep = floor(epoch) to match Spark's unix_timestamp truncation;
    # both windows order by (ts, event_id) exactly like the Spark side
    return f"""WITH flagged AS (
  SELECT user_id, ts, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                PARTITION BY user_id ORDER BY ts, event_id) > {_SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sess AS (
  SELECT user_id, ep,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM flagged
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       CAST(MIN(ep) AS BIGINT) AS session_start,
       CAST(MAX(ep) AS BIGINT) AS session_end,
       COUNT(*) AS n_events
FROM sess GROUP BY 1, 2"""


_KMV_K = 64


def q_kmv_distinct(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """KMV (k-minimum-values) distinct-token sketch: an engine-portable
    alternative to HLL. Hash every distinct token with md5, keep the k
    smallest hashes, estimate NDV = (k-1) / fraction(kth hash). The
    sketch is mergeable (union = k smallest of the union) — the
    distributed shape is a per-partition top-k then a global top-k, and
    md5 makes it bit-identical across engines (Spark's
    approx_count_distinct HLL would not be)."""
    from ..functions.text import _tokens as _text_tokens

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(F.explode(_text_tokens(F.col("text"))).alias("t")).filter(
        F.col("t") != ""
    )
    hashes = toks.select(F.md5("t").alias("h")).distinct()
    kth = (
        hashes.orderBy("h").limit(_KMV_K)
        .agg(F.max("h").alias("kth"), F.count("*").alias("k"))
    )
    frac = F.conv(F.substring("kth", 1, 12), 16, 10).cast("double") / F.lit(
        float(16 ** 12)
    )
    return kth.select(
        F.col("k").alias("k"),
        F.col("kth").alias("kth_hash"),
        F.when(F.col("k") < _KMV_K, F.col("k").cast("long")).otherwise(
            F.floor((F.lit(_KMV_K - 1) / frac)).cast("long")
        ).alias("ndv_estimate"),
    )


def sql_kmv_distinct() -> str:
    # 12 hex nibbles -> exact integer-valued double (16^12 < 2^53),
    # same frac = v / 16^12 then (k-1)/frac shape as the Spark side
    nibbles = " + ".join(
        f"(strpos('0123456789abcdef', substr(kth, {i + 1}, 1)) - 1) * {16 ** (11 - i)}.0"
        for i in range(12)
    )
    return f"""WITH toks AS (
  SELECT unnest({_TOKS.format(c="text")}) AS t FROM documents
),
hashes AS (SELECT DISTINCT md5(t) AS h FROM toks WHERE t <> ''),
topk AS (SELECT h FROM hashes ORDER BY h LIMIT {_KMV_K}),
kth AS (SELECT MAX(h) AS kth, COUNT(*) AS k FROM topk)
SELECT k, kth AS kth_hash,
       CASE WHEN k < {_KMV_K} THEN CAST(k AS BIGINT)
            ELSE CAST(floor(({_KMV_K - 1}) /
                 (({nibbles}) / {float(16 ** 12)!r})) AS BIGINT)
       END AS ndv_estimate
FROM kth"""


_FH_DIM = 64


def q_feature_hash_embed(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Feature hashing (hashed bag-of-words document embedding): every
    token maps to bucket = md5[0:2] % dim with sign = high bit of
    md5[2]; the doc vector is the signed count per bucket. Sparse
    output (doc_id, dim, weight), produced in the natural distributed
    shape — explode -> groupBy(doc, bucket) with map-side combine —
    and integer arithmetic end to end, so cross-engine exact. This is
    the text->vector featurization bridge into the ANN family."""
    from ..functions.text import _tokens as _text_tokens

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id", F.explode(_text_tokens(F.col("text"))).alias("t")
    ).filter(F.col("t") != "")
    h = F.md5("t")
    bucket = (
        F.conv(F.substring(h, 1, 2), 16, 10).cast("long") % _FH_DIM
    ).alias("dim")
    sign = F.when(
        F.substring(h, 3, 1).isin(*_HEX_HIGH), F.lit(1)
    ).otherwise(F.lit(-1))
    return (
        toks.select("doc_id", bucket, sign.alias("s"))
        .groupBy("doc_id", "dim")
        .agg(F.sum("s").alias("weight"))
    )


def sql_feature_hash_embed() -> str:
    nib = "strpos('0123456789abcdef', substr(md5(t), {i}, 1)) - 1"
    return f"""WITH toks AS (
  SELECT doc_id, unnest({_TOKS.format(c="text")}) AS t FROM documents
),
tt AS (SELECT doc_id, t FROM toks WHERE t <> ''),
mapped AS (
  SELECT doc_id,
         (({nib.format(i=1)}) * 16 + ({nib.format(i=2)})) % {_FH_DIM} AS dim,
         CASE WHEN substr(md5(t), 3, 1) IN {repr(_HEX_HIGH)} THEN 1 ELSE -1 END AS s
  FROM tt
)
SELECT doc_id, CAST(dim AS BIGINT) AS dim, CAST(SUM(s) AS BIGINT) AS weight
FROM mapped GROUP BY 1, 2"""


_STREAM_SEQ = [0]


def q_events_window_stream(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The windowed events aggregation as a REAL Structured Streaming
    job: file-source readStream -> stateful streaming aggregation ->
    memory sink, trigger availableNow (drains the input then stops).
    Exactly oracle-checkable because the aggregate is integer-exact:
    sum over per-row floor(value*1e6) longs — no float fold-order
    sensitivity between streaming state-store merges and DuckDB."""
    import os
    import re
    import tempfile

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    # the file source wants a directory; expose the (read-only) file
    # through a temp dir symlink
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    # per-session dir (applicationId) so concurrent sessions never race
    # on the link
    src_dir = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_events_{tag}_{spark.sparkContext.applicationId}",
    )
    os.makedirs(src_dir, exist_ok=True)
    link = os.path.join(src_dir, "events.parquet")
    # lexists: a dangling symlink (sf_dir deleted/recreated) must be
    # replaced, not tripped over (exists() follows the link)
    if os.path.lexists(link):
        os.unlink(link)
    os.symlink(path, link)
    src = spark.readStream.schema(schema).parquet(src_dir)
    agg = src.groupBy(
        (F.floor(F.unix_timestamp("ts") / 300) * 300)
        .cast("long")
        .alias("window_start"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.floor(F.col("value") * 1e6).cast("long")).alias("sum_value_u"),
    )
    _STREAM_SEQ[0] += 1
    name = f"events_window_stream_{_STREAM_SEQ[0]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def sql_events_window_stream() -> str:
    return """SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS window_start,
       event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS sum_value_u
FROM events GROUP BY 1, 2"""


def q_extract_triples_stream(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The FULL Microdata extraction running as a Structured Streaming
    job (readStream over the fixture pages -> mapInPandas extraction ->
    skolemize -> memory sink, availableNow), finalized by the batch
    per-graph dedup on the drained sink table. Checked against the same
    transcribed golden triples as the batch q_extract_triples."""
    import os
    import tempfile

    from ..streaming.stream import read_pages_stream, stream_triples

    pages = synthesize_oracle_pages(spark).select(
        "url", "warc_ts", "html", "text", "lang", "base_iri"
    )
    # per-session dir: two concurrent sessions on one host must not
    # overwrite each other's streaming source mid-run
    src_dir = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_stream_pages_b_{spark.sparkContext.applicationId}",
    )
    pages.coalesce(1).write.mode("overwrite").parquet(src_dir)
    stream = read_pages_stream(spark, src_dir, spark.read.parquet(src_dir).schema)
    triples = stream_triples(stream)
    _STREAM_SEQ[0] += 1
    name = f"extract_stream_{_STREAM_SEQ[0]}"
    q = (
        triples.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return dedup_triples(spark.table(name), per_graph=True).select(
        "url", "subj", "pred", "obj", "obj_kind", "obj_lang", "obj_datatype"
    )


def q_first_seen_dedup_stream(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Custom stateful streaming operator (applyInPandasWithState):
    first page per content digest across the stream. Which URL wins a
    digest follows arrival order, so the checked projection is the
    digest set itself (deterministic: one row per distinct digest)."""
    import os
    import tempfile

    from ..streaming.stream import read_pages_stream, streaming_first_seen_dedup

    pages = synthesize_oracle_pages(spark).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    src_dir = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_stream_pages_{spark.sparkContext.applicationId}",
    )
    pages.coalesce(1).write.mode("overwrite").parquet(src_dir)
    stream = read_pages_stream(spark, src_dir, spark.read.parquet(src_dir).schema)
    deduped = streaming_first_seen_dedup(stream)
    _STREAM_SEQ[0] += 1
    name = f"first_seen_stream_{_STREAM_SEQ[0]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select("digest")


def sql_first_seen_dedup_stream() -> str:
    """Golden check: the distinct md5(normalized html) set over the
    same fixture corpus, computed by DuckDB from VALUES of the raw
    html (same normalization expression as sql_dedup_exact)."""
    htmls = ",\n".join(f"({_sql_str(f.html)})" for f in FIXTURES)
    return f"""SELECT DISTINCT md5({_NORM.format(c="html")}) AS digest
FROM (VALUES
{htmls}
) t(html)"""


# ---------------------------------------------------------------------------
# multimodal (synthesized REAL PPM/WAV media; golden-VALUES oracles)
# ---------------------------------------------------------------------------

_MM_N = 120
_MM_FRAME_BPS = 16


def q_multimodal_image_features(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Image decode over REAL P6 PPM payloads (multimodal.
    image_features_kernel: header parse, integer average-hash,
    channel/quadrant statistics). The float32
    feature vector is projected to a joined floor(x*1e6) string so the
    driver can value-compare it across engines."""
    from ..operators.multimodal import decode_image_features, synthesize_media

    media = synthesize_media(spark, n=_MM_N)
    feats = decode_image_features(media)
    feat_u = F.concat_ws(
        ",",
        F.transform(
            "features",
            lambda x: F.floor(x.cast("double") * 1e6).cast("long").cast("string"),
        ),
    )
    return feats.select(
        "media_id", "width", "height", "channels", "phash",
        feat_u.alias("feat_u"),
    )


def _media_rows() -> list[tuple]:
    """(media_id, url, kind, payload) from the SAME row builder the
    Spark table uses (multimodal.media_rows) — no drift surface."""
    from ..operators.multimodal import media_rows

    return [(i, url, kind, payload) for i, url, kind, payload, _ct, _n in media_rows(_MM_N)]


def sql_multimodal_image_features() -> str:
    """Golden VALUES: the identical real decode kernel run locally,
    with the exact float32->double->floor arithmetic Spark applies."""
    import math

    import numpy as np

    from ..operators.multimodal import image_features_kernel

    out = []
    for media_id, _url, kind, payload in _media_rows():
        if kind != "image":
            continue
        w, h, c, ph, feats = image_features_kernel(payload)
        feat_u = ",".join(
            str(int(math.floor(float(np.float32(v)) * 1e6))) for v in feats
        )
        out.append(f"({media_id}, {w}, {h}, {c}, {_sql_str(ph)}, {_sql_str(feat_u)})")
    values = ",\n".join(out)
    return f"""SELECT CAST(media_id AS BIGINT) AS media_id,
       CAST(width AS INTEGER) AS width, CAST(height AS INTEGER) AS height,
       CAST(channels AS INTEGER) AS channels,
       CAST(phash AS VARCHAR) AS phash, CAST(feat_u AS VARCHAR) AS feat_u
FROM (VALUES
{values}
) t(media_id, width, height, channels, phash, feat_u)"""


def q_multimodal_resize(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Resize plumbing (binary in -> binary out through Arrow batches);
    the opaque resized bytes are checked as sha256 hex so the driver
    can value-compare the binary column across engines."""
    from ..operators.multimodal import resize_images, synthesize_media

    media = synthesize_media(spark, n=_MM_N)
    resized = resize_images(media, width=64, height=64)
    return resized.select(
        "media_id", "width", "height", "n_bytes",
        F.sha2("content", 256).alias("content_sha"),
    )


def sql_multimodal_resize() -> str:
    import hashlib

    from ..operators.multimodal import resize_kernel

    out = []
    for media_id, _url, kind, payload in _media_rows():
        if kind != "image":
            continue
        resized = resize_kernel(payload, 64, 64)
        out.append(
            f"({media_id}, 64, 64, {len(resized)}, "
            f"{_sql_str(hashlib.sha256(resized).hexdigest())})"
        )
    values = ",\n".join(out)
    return f"""SELECT CAST(media_id AS BIGINT) AS media_id,
       CAST(width AS INTEGER) AS width, CAST(height AS INTEGER) AS height,
       CAST(n_bytes AS BIGINT) AS n_bytes,
       CAST(content_sha AS VARCHAR) AS content_sha
FROM (VALUES
{values}
) t(media_id, width, height, n_bytes, content_sha)"""


def q_multimodal_audio_features(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    from ..operators.multimodal import decode_audio_features, synthesize_media

    media = synthesize_media(spark, n=_MM_N)
    return decode_audio_features(media)


def sql_multimodal_audio_features() -> str:
    from ..operators.multimodal import audio_features_kernel

    out = []
    for media_id, _url, kind, payload in _media_rows():
        if kind != "audio":
            continue
        rate, dur, fp = audio_features_kernel(payload)
        out.append(f"({media_id}, {rate}, {dur}, {_sql_str(fp)})")
    values = ",\n".join(out)
    return f"""SELECT CAST(media_id AS BIGINT) AS media_id,
       CAST(sample_rate AS INTEGER) AS sample_rate,
       CAST(duration_ms AS BIGINT) AS duration_ms,
       CAST(fingerprint AS VARCHAR) AS fingerprint
FROM (VALUES
{values}
) t(media_id, sample_rate, duration_ms, fingerprint)"""


def q_frame_sample_plan(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    from ..operators.multimodal import frame_sample_plan, synthesize_media

    media = synthesize_media(spark, n=_MM_N)
    return frame_sample_plan(media, bytes_per_second=_MM_FRAME_BPS).select(
        "media_id", "url", F.col("frame_ts").cast("long").alias("frame_ts")
    )


def sql_frame_sample_plan() -> str:
    """Golden VALUES: frame plan computed locally with the same
    truncating-division duration estimate and inclusive sequence."""
    out = []
    for media_id, url, kind, payload in _media_rows():
        if kind != "video":
            continue
        est = len(payload) // _MM_FRAME_BPS + 1
        for ts in range(0, est + 1, 5):
            out.append(f"({media_id}, {_sql_str(url)}, {ts})")
    values = ",\n".join(out)
    return f"""SELECT CAST(media_id AS BIGINT) AS media_id,
       CAST(url AS VARCHAR) AS url, CAST(frame_ts AS BIGINT) AS frame_ts
FROM (VALUES
{values}
) t(media_id, url, frame_ts)"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES = {
    "q_extract_triples": q_extract_triples,
    "q_extract_quarantine": q_extract_quarantine,
    "q_entity_link_mapping": q_entity_link_mapping,
    "q_entity_link_scored": q_entity_link_scored,
    "q_graph_nodes": q_graph_nodes,
    "q_graph_edges": q_graph_edges,
    "q_graph_components": q_graph_components,
    "q_graph_components_path": q_graph_components_path,
    "q_graph_degrees": q_graph_degrees,
    "q_extract_text": q_extract_text,
    "q_page_metrics": q_page_metrics,
    "q_host_stats": q_host_stats,
    "q_pricing_summary": q_pricing_summary,
    "q_top_revenue_orders": q_top_revenue_orders,
    "q_dedup_exact": q_dedup_exact,
    "q_minhash_lsh_pairs": q_minhash_lsh_pairs,
    "q_ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "q_ngram_jaccard_capped": q_ngram_jaccard_capped,
    "q_ngram_jaccard_lsh": q_ngram_jaccard_lsh,
    "q_simhash32": q_simhash32,
    "q_simhash_pairs": q_simhash_pairs,
    "q_simhash32_pairs": q_simhash32_pairs,
    "q_token_stats": q_token_stats,
    "q_lang_id": q_lang_id,
    "q_quality": q_quality,
    "q_topk_cosine": q_topk_cosine,
    "q_lsh_topk": q_lsh_topk,
    "q_ivf_topk": q_ivf_topk,
    "q_embedding_near_dup": q_embedding_near_dup,
    "q_events_window": q_events_window,
    "q_events_sessionize": q_events_sessionize,
    "q_kmv_distinct": q_kmv_distinct,
    "q_feature_hash_embed": q_feature_hash_embed,
    "q_events_window_stream": q_events_window_stream,
    "q_extract_triples_stream": q_extract_triples_stream,
    "q_first_seen_dedup_stream": q_first_seen_dedup_stream,
    "q_multimodal_image_features": q_multimodal_image_features,
    "q_multimodal_resize": q_multimodal_resize,
    "q_multimodal_audio_features": q_multimodal_audio_features,
    "q_frame_sample_plan": q_frame_sample_plan,
}

ORACLES = {
    "q_extract_triples": sql_extract_triples,
    "q_extract_quarantine": sql_extract_quarantine,
    "q_entity_link_mapping": sql_entity_link_mapping,
    "q_entity_link_scored": sql_entity_link_scored,
    "q_graph_nodes": sql_graph_nodes,
    "q_graph_edges": sql_graph_edges,
    "q_graph_components": sql_graph_components,
    "q_graph_components_path": sql_graph_components_path,
    "q_graph_degrees": sql_graph_degrees,
    "q_extract_text": sql_extract_text,
    "q_host_stats": sql_host_stats,
    "q_pricing_summary": sql_pricing_summary,
    "q_top_revenue_orders": sql_top_revenue_orders,
    "q_dedup_exact": sql_dedup_exact,
    "q_minhash_lsh_pairs": sql_minhash_lsh_pairs,
    "q_ngram_jaccard_pairs": sql_ngram_jaccard_pairs,
    "q_ngram_jaccard_capped": sql_ngram_jaccard_capped,
    "q_ngram_jaccard_lsh": sql_ngram_jaccard_lsh,
    "q_simhash32": sql_simhash32,
    "q_simhash_pairs": sql_simhash_pairs,
    "q_simhash32_pairs": sql_simhash32_pairs,
    "q_token_stats": sql_token_stats,
    "q_lang_id": sql_lang_id,
    "q_quality": sql_quality,
    "q_topk_cosine": sql_topk_cosine,
    "q_lsh_topk": sql_lsh_topk,
    "q_ivf_topk": sql_ivf_topk,
    "q_embedding_near_dup": sql_embedding_near_dup,
    "q_events_window": sql_events_window,
    "q_events_sessionize": sql_events_sessionize,
    "q_kmv_distinct": sql_kmv_distinct,
    "q_feature_hash_embed": sql_feature_hash_embed,
    "q_events_window_stream": sql_events_window_stream,
    "q_extract_triples_stream": sql_extract_triples,
    "q_first_seen_dedup_stream": sql_first_seen_dedup_stream,
    "q_page_metrics": sql_page_metrics,
    "q_multimodal_image_features": sql_multimodal_image_features,
    "q_multimodal_resize": sql_multimodal_resize,
    "q_multimodal_audio_features": sql_multimodal_audio_features,
    "q_frame_sample_plan": sql_frame_sample_plan,
}


# ---------------------------------------------------------------------------
# composite curation (quality x lang x dedup)
# ---------------------------------------------------------------------------

_CURATE_MIN_QUALITY_U = 300_000
_CURATE_LANGS = ("en",)


def q_curation(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Composite training-data curation pipeline over documents."""
    from ..operators.dedup import curate_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return curate_documents(
        docs, min_quality_u=_CURATE_MIN_QUALITY_U, langs=_CURATE_LANGS
    )


def sql_curation() -> str:
    stop_list = ", ".join(_sql_str(s) for s in STOPWORDS_EN)
    toks = _TOKS.format(c="text")
    langs = ", ".join(_sql_str(lang) for lang in _CURATE_LANGS)

    def hits(markers):
        in_list = ", ".join(_sql_str(m) for m in markers)
        return f"len(list_filter({toks}, x -> x IN ({in_list})))"

    en, de, fr, es = (hits(LANG_MARKERS[k]) for k in ("en", "de", "fr", "es"))
    return f"""WITH m AS (
  SELECT doc_id,
    length(text) AS n_chars,
    len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
    len(regexp_extract_all(text, '[!"#$%&''()*+,\\-./:;<=>?@\\[\\\\\\]^_`{{|}}~]')) AS n_punct,
    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({toks}) END AS n_toks,
    len(list_filter({toks}, t -> t IN ({stop_list}))) AS stop_hits,
    CASE
      WHEN {en} > 0 AND {en} >= {de} AND {en} >= {fr} AND {en} >= {es} THEN 'en'
      WHEN {de} > 0 AND {de} >= {fr} AND {de} >= {es} THEN 'de'
      WHEN {fr} > 0 AND {fr} >= {es} THEN 'fr'
      WHEN {es} > 0 THEN 'es'
      ELSE 'und'
    END AS lang_pred,
    md5({_NORM.format(c="text")}) AS digest
  FROM documents
),
scored AS (
  SELECT doc_id, lang_pred, digest, CAST(floor((
      0.25 * (CASE WHEN n_chars >= 200 THEN 1.0 ELSE n_chars / 200.0 END)
    + 0.35 * (CASE WHEN n_chars > 0 THEN n_alpha / CAST(n_chars AS DOUBLE) ELSE 0.0 END)
    + 0.25 * least((CASE WHEN n_toks > 0 THEN stop_hits / CAST(n_toks AS DOUBLE) ELSE 0.0 END) * 2, 1.0)
    + 0.15 * (1.0 - least((CASE WHEN n_chars > 0 THEN n_punct / CAST(n_chars AS DOUBLE) ELSE 0.0 END) * 4, 1.0))
  ) * 1e6) AS BIGINT) AS quality_u
  FROM m
),
kept AS (
  SELECT * FROM scored
  WHERE quality_u >= {_CURATE_MIN_QUALITY_U} AND lang_pred IN ({langs})
),
w AS (
  SELECT digest, MIN(doc_id) AS doc_id, COUNT(*) AS n_dups
  FROM kept GROUP BY digest
)
SELECT k.doc_id, k.lang_pred, k.quality_u, k.digest, w.n_dups
FROM w JOIN kept k ON k.digest = w.digest AND k.doc_id = w.doc_id"""


QUERIES["q_curation"] = q_curation
ORACLES["q_curation"] = sql_curation


# ---------------------------------------------------------------------------
# PageRank (iterative, integer-exact micro-rank)
# ---------------------------------------------------------------------------

_PR_ITER = 5
_PR_SCALE = 1_000_000
_PR_DAMPING_U = 850_000


def q_pagerank(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Fixed-iteration integer PageRank (operators/graph.pagerank) over
    a deterministic synthetic web graph derived from documents:
    every doc links to (id*31+7) mod n, every third doc additionally to
    (id*17+3) mod n — varied in-degrees, outdeg 1-2, no engine-native
    hashing so the oracle rebuilds the identical graph with plain
    arithmetic. Each round floors every per-edge contribution to a
    long before summing, so the distributed result is fold-order-free
    and the DuckDB oracle (same rounds unrolled as CTEs with ``//``)
    matches exactly."""
    from ..operators.graph import pagerank

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    n_df = ids.agg(F.count("*").alias("n"))
    base = ids.crossJoin(F.broadcast(n_df))
    e1 = base.select(
        F.col("doc_id").alias("subj"),
        F.pmod(F.col("doc_id") * 31 + 7, F.col("n")).alias("obj"),
    )
    e2 = base.where(F.pmod(F.col("doc_id"), F.lit(3)) == 0).select(
        F.col("doc_id").alias("subj"),
        F.pmod(F.col("doc_id") * 17 + 3, F.col("n")).alias("obj"),
    )
    out = pagerank(
        ids,
        e1.union(e2),
        id_col="doc_id",
        iterations=_PR_ITER,
        scale=_PR_SCALE,
        damping_u=_PR_DAMPING_U,
    )
    return out.select("doc_id", F.col("rank_u").cast("long").alias("rank_u"))


def _sql_pagerank_chain(id_name: str) -> str:
    """The shared unrolled PageRank CTE chain: expects CTEs
    ``n(c)`` (node count), ``ids({id_name})``, ``e(subj, obj)``
    already defined; appends od + r0..r{iters} and the final SELECT.
    Mirrors operators/graph.pagerank's integer arithmetic exactly."""
    s, d = _PR_SCALE, _PR_DAMPING_U
    parts = [
        f""",
od AS (SELECT subj, COUNT(*) AS outdeg FROM e GROUP BY subj),
r0 AS (SELECT {id_name},
       CAST({s} // (SELECT c FROM n) AS BIGINT) AS rank_u FROM ids)"""
    ]
    for i in range(1, _PR_ITER + 1):
        parts.append(
            f""",
m{i} AS (
  SELECT e.obj AS {id_name},
         CAST(SUM((r.rank_u * {d}) // (od.outdeg * {s})) AS BIGINT) AS contrib
  FROM e
  JOIN r{i - 1} r ON r.{id_name} = e.subj
  JOIN od ON od.subj = e.subj
  GROUP BY e.obj
),
r{i} AS (
  SELECT i.{id_name},
         {s - d} // (SELECT c FROM n) + COALESCE(m{i}.contrib, 0) AS rank_u
  FROM ids i LEFT JOIN m{i} ON m{i}.{id_name} = i.{id_name}
)"""
        )
    parts.append(
        f"\nSELECT {id_name}, CAST(rank_u AS BIGINT) AS rank_u FROM r{_PR_ITER}"
    )
    return "".join(parts)


def sql_pagerank() -> str:
    return (
        f"""WITH n AS (SELECT COUNT(*) AS c FROM documents),
ids AS (SELECT doc_id FROM documents),
e AS (
  SELECT doc_id AS subj, (doc_id * 31 + 7) % (SELECT c FROM n) AS obj FROM ids
  UNION ALL
  SELECT doc_id, (doc_id * 17 + 3) % (SELECT c FROM n) FROM ids
  WHERE doc_id % 3 = 0
)"""
        + _sql_pagerank_chain("doc_id")
    )


QUERIES["q_pagerank"] = q_pagerank
ORACLES["q_pagerank"] = sql_pagerank


# ---------------------------------------------------------------------------
# BM25 lexical top-k (integer micro-unit scoring)
# ---------------------------------------------------------------------------

_BM25_TERMS = ("dup", "spark", "vector")  # df ~25 / ~385 / ~382 at sf0.01
_BM25_TOPK = 20
_BM25_SCALE = 1_000_000
_BM25_K1_U = 1_200_000
_BM25_B_U = 750_000
_BM25_IDF_CAP_U = 1_000_000_000_000


def q_bm25_topk(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Integer BM25 top-k over documents (operators/search.bm25_topk):
    rational idf surrogate + floored per-term contributions summed as
    longs — fold-order-free, ties broken by doc_id on BOTH engines so
    the LIMIT boundary is deterministic."""
    from ..operators.search import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bm25_topk(
        docs,
        _BM25_TERMS,
        topk=_BM25_TOPK,
        scale=_BM25_SCALE,
        k1_u=_BM25_K1_U,
        b_u=_BM25_B_U,
        idf_cap_u=_BM25_IDF_CAP_U,
    )


def sql_bm25_topk() -> str:
    s, k1, b, cap = _BM25_SCALE, _BM25_K1_U, _BM25_B_U, _BM25_IDF_CAP_U
    c2 = (k1 * b) // s
    c1 = k1 - c2
    toks = _TOKS.format(c="text")
    in_list = ", ".join(_sql_str(t) for t in sorted(set(_BM25_TERMS)))
    return f"""WITH base AS (
  SELECT doc_id, {toks} AS toks,
         CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({toks}) END AS dl
  FROM documents
),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM base),
tf AS (
  SELECT doc_id, dl, t, COUNT(*) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS t FROM base)
  WHERE t IN ({in_list})
  GROUP BY doc_id, dl, t
),
dfq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
scored AS (
  SELECT doc_id,
         SUM(
           (LEAST(((n_docs - df + 1) * {s}) // (df + 1), {cap})
            * ((tf * {k1 + s} * {s})
               // (tf * {s} + {c1} + ({c2} * dl) // GREATEST(1, total_dl // n_docs)))
           ) // {s}
         ) AS score_u
  FROM tf JOIN dfq USING (t) CROSS JOIN stats
  GROUP BY doc_id
)
SELECT doc_id, CAST(score_u AS BIGINT) AS score_u
FROM scored
ORDER BY score_u DESC, doc_id
LIMIT {_BM25_TOPK}"""


QUERIES["q_bm25_topk"] = q_bm25_topk
ORACLES["q_bm25_topk"] = sql_bm25_topk


# ---------------------------------------------------------------------------
# exact per-group quantiles (micro-unit selection, one shuffle)
# ---------------------------------------------------------------------------

_QUANT_QS_U = (500_000, 900_000, 990_000)


def q_events_quantiles(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Exact p50/p90/p99 of event value per event_type
    (operators/stats.group_quantiles_u): selection at rank
    ceil(q*n) over micro-unit values — a selection, not a sum, so no
    float-fold or tie-order drift on either engine."""
    from ..operators.stats import group_quantiles_u

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return group_quantiles_u(ev, "event_type", "value", qs_u=_QUANT_QS_U)


def sql_events_quantiles() -> str:
    qvals = ", ".join(
        f"(CAST({qu} AS BIGINT))" for qu in _QUANT_QS_U
    )
    return f"""WITH v AS (
  SELECT event_type AS g, CAST(floor(value * 1000000) AS BIGINT) AS v_u
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
),
r AS (
  SELECT g, v_u,
         row_number() OVER (PARTITION BY g ORDER BY v_u) AS rn,
         COUNT(*) OVER (PARTITION BY g) AS n_g
  FROM v
),
q(q_u) AS (VALUES {qvals})
SELECT r.g AS event_type, q.q_u, r.v_u AS quantile_u
FROM r JOIN q ON r.rn = (q.q_u * r.n_g + 999999) // 1000000"""


QUERIES["q_events_quantiles"] = q_events_quantiles
ORACLES["q_events_quantiles"] = sql_events_quantiles


# ---------------------------------------------------------------------------
# backward as-of join (union-window shape, no range join)
# ---------------------------------------------------------------------------

def q_events_asof(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Each click annotated with the most recent at-or-before purchase
    of the same user (operators/temporal.asof_join_backward): the
    union-window as-of shape — one shuffle on user_id, no range join.
    Ties on the epoch second resolve right-rows-first then greatest
    event_id, a total order both engines replay exactly."""
    from ..operators.temporal import asof_join_backward

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    base = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_timestamp("ts").cast("long").alias("ts_s"),
        F.floor(F.col("value") * 1e6).cast("long").alias("value_u"),
    )
    left = base.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_s"
    )
    right = base.where(F.col("event_type") == "purchase").select(
        "user_id", "ts_s", "event_id", "value_u"
    )
    return asof_join_backward(
        left,
        right,
        key_col="user_id",
        ts_col="ts_s",
        tie_col="event_id",
        payload_cols=["value_u"],
    )


def sql_events_asof() -> str:
    frame = (
        "PARTITION BY user_id ORDER BY ts_s, side, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    )
    return f"""WITH base AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         CAST(floor(value * 1e6) AS BIGINT) AS value_u
  FROM events WHERE event_type IN ('click', 'purchase')
),
u AS (
  SELECT user_id, ts_s, event_id,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS side,
         CASE WHEN event_type = 'purchase' THEN ts_s END AS p_ts,
         CASE WHEN event_type = 'purchase' THEN value_u END AS p_val
  FROM base
),
w AS (
  SELECT *,
         last_value(p_ts IGNORE NULLS) OVER ({frame}) AS matched_ts,
         last_value(p_val IGNORE NULLS) OVER ({frame}) AS matched_val
  FROM u
)
SELECT event_id, user_id, ts_s, matched_ts, matched_val AS value_u
FROM w WHERE side = 1"""


QUERIES["q_events_asof"] = q_events_asof
ORACLES["q_events_asof"] = sql_events_asof


# ---------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap vs an eval set)
# ---------------------------------------------------------------------------

_DECON_K = 5
_DECON_MIN_OVERLAP = 1
_DECON_EVAL_MOD = 97  # eval set = docs with doc_id % 97 == 0


def q_decontaminate(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Test-set-leakage scan (operators/decontaminate): training docs
    sharing >= 1 distinct word-5-gram with the deterministic eval
    subset (doc_id % 97 == 0). Eval inverted index broadcast — the
    corpus side stays shuffle-free up to the tiny per-pair count."""
    from ..operators.decontaminate import ngram_contamination

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ev = docs.where(F.pmod(F.col("doc_id"), F.lit(_DECON_EVAL_MOD)) == 0).select(
        F.col("doc_id").alias("eval_doc_id"), "text"
    )
    return ngram_contamination(
        docs, ev, k=_DECON_K, min_overlap=_DECON_MIN_OVERLAP
    )


def sql_decontaminate() -> str:
    K = _DECON_K
    return f"""WITH toks AS (
  SELECT doc_id, {_TOKS.format(c="text")} AS t FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(t) >= {K}
                THEN list_transform(range(0, len(t) - {K - 1}),
                                    i -> array_to_string(t[i + 1 : i + {K}], ' '))
                ELSE [] END) AS sh
  FROM toks
),
inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
ev AS (SELECT doc_id AS eval_doc_id, shingle FROM inv
       WHERE doc_id % {_DECON_EVAL_MOD} = 0)
SELECT i.doc_id, e.eval_doc_id, COUNT(*) AS n_shared
FROM inv i JOIN ev e USING (shingle)
GROUP BY 1, 2
HAVING COUNT(*) >= {_DECON_MIN_OVERLAP}"""


QUERIES["q_decontaminate"] = q_decontaminate
ORACLES["q_decontaminate"] = sql_decontaminate


# ---------------------------------------------------------------------------
# deterministic hash split (train/val/test)
# ---------------------------------------------------------------------------

_SPLIT_FRACS = (("train", 980_000), ("val", 10_000), ("test", 10_000))
_SPLIT_SALT = "split"


def q_split_assign(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Deterministic train/val/test assignment (operators/split):
    bucket = md5(doc_id|salt) first 8 hex nibbles mod 1e6 vs cumulative
    micro-fractions — a scan-side codegen'd expression, zero shuffles,
    bit-identical in the DuckDB oracle."""
    from ..operators.split import hash_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return hash_split(
        docs, "doc_id", splits=_SPLIT_FRACS, salt=_SPLIT_SALT
    ).select("doc_id", "split")


def sql_split_assign() -> str:
    # first 8 md5 hex nibbles as an exact integer (16^8 < 2^53)
    nibbles = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    cases, cum = [], 0
    for name, frac in _SPLIT_FRACS:
        cum += frac
        cases.append(f"WHEN bucket < {cum} THEN '{name}'")
    return f"""WITH h AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || '|{_SPLIT_SALT}') AS h
  FROM documents
),
b AS (SELECT doc_id, ({nibbles}) % 1000000 AS bucket FROM h)
SELECT doc_id, CASE {' '.join(cases)} END AS split FROM b"""


QUERIES["q_split_assign"] = q_split_assign
ORACLES["q_split_assign"] = sql_split_assign


# ---------------------------------------------------------------------------
# video frame decode (real Y4M kernel)
# ---------------------------------------------------------------------------

_VF_EVERY_NTH = 2


def q_video_frames(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Real video decode (multimodal.video_frames_kernel): YUV4MPEG2
    stream parse, every-2nd-frame sampling, exact rational timestamps,
    integer average-hash of each sampled frame's Y plane. 1->N frame
    expansion happens inside the Arrow batch."""
    from ..operators.multimodal import decode_video_frames, synthesize_media

    media = synthesize_media(spark, n=_MM_N)
    return decode_video_frames(media, every_nth=_VF_EVERY_NTH)


def sql_video_frames() -> str:
    """Golden VALUES: the identical Y4M kernel run locally over the
    same deterministic payload builder."""
    from ..operators.multimodal import video_frames_kernel

    out = []
    for media_id, _url, kind, payload in _media_rows():
        if kind != "video":
            continue
        for idx, ts_ms, w, h, ph in video_frames_kernel(payload, _VF_EVERY_NTH):
            out.append(f"({media_id}, {idx}, {ts_ms}, {w}, {h}, {_sql_str(ph)})")
    values = ",\n".join(out)
    return f"""SELECT CAST(media_id AS BIGINT) AS media_id,
       CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(ts_ms AS BIGINT) AS ts_ms,
       CAST(width AS INTEGER) AS width, CAST(height AS INTEGER) AS height,
       CAST(frame_phash AS VARCHAR) AS frame_phash
FROM (VALUES
{values}
) t(media_id, frame_idx, ts_ms, width, height, frame_phash)"""


QUERIES["q_video_frames"] = q_video_frames
ORACLES["q_video_frames"] = sql_video_frames


# ---------------------------------------------------------------------------
# within-document n-gram repetition (Gopher/C4 quality rule)
# ---------------------------------------------------------------------------

_REP_K = 2


def q_repetition(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-doc bigram repetition stats (operators/stats.
    ngram_repetition): most-frequent-gram fraction + duplicate-gram
    fraction in floored micro-units — the Gopher/C4 boilerplate
    signals, integer-exact on both engines."""
    from ..operators.stats import ngram_repetition

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_repetition(docs, k=_REP_K)


def sql_repetition() -> str:
    K = _REP_K
    return f"""WITH toks AS (
  SELECT doc_id, {_TOKS.format(c="text")} AS t FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(CASE WHEN len(t) >= {K}
                     THEN list_transform(range(0, len(t) - {K - 1}),
                                         i -> array_to_string(t[i + 1 : i + {K}], ' '))
                     ELSE [] END) AS g
  FROM toks
),
cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY 1, 2),
agg AS (
  SELECT doc_id, MAX(c) AS top_cnt, SUM(c) AS total,
         COUNT(*) AS n_distinct
  FROM cnt GROUP BY 1
)
SELECT doc_id, CAST(total AS BIGINT) AS n_grams,
       CAST((top_cnt * 1000000) // total AS BIGINT) AS top_frac_u,
       CAST(((total - n_distinct) * 1000000) // total AS BIGINT) AS dup_frac_u
FROM agg"""


QUERIES["q_repetition"] = q_repetition
ORACLES["q_repetition"] = sql_repetition


# ---------------------------------------------------------------------------
# incremental crawl dedup (new batch vs persisted signature table)
# ---------------------------------------------------------------------------

def q_minhash_incremental(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Continuous-crawl dedup (operators/dedup.
    minhash_lsh_pairs_incremental): docs with doc_id % 5 == 0 play the
    NEW batch, the rest the existing corpus — which is touched only
    through its MinHash signature table (here recomputed; in
    production, the persisted output of minhash_signatures). Output:
    cross pairs vs the old corpus plus within-batch pairs."""
    from ..operators.dedup import minhash_lsh_pairs_incremental, minhash_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    is_new = F.pmod(F.col("doc_id"), F.lit(5)) == 0
    old_sigs = minhash_signatures(
        docs.where(~is_new), num_hashes=_MH_HASHES, k=_MH_K
    )
    return minhash_lsh_pairs_incremental(
        docs.where(is_new),
        old_sigs,
        num_hashes=_MH_HASHES,
        bands=_MH_BANDS,
        k=_MH_K,
    )


def sql_minhash_incremental() -> str:
    return f"""WITH {_minhash_cand_cte()},
newb AS (SELECT * FROM bands WHERE doc_id % 5 = 0),
oldb AS (SELECT * FROM bands WHERE doc_id % 5 <> 0),
cross_p AS (
  SELECT n.doc_id AS new_doc_id, o.doc_id AS matched_doc_id
  FROM newb n JOIN oldb o
    ON n.band_id = o.band_id AND n.band_key = o.band_key
),
within_p AS (
  SELECT l.doc_id AS new_doc_id, r.doc_id AS matched_doc_id
  FROM newb l JOIN newb r
    ON l.band_id = r.band_id AND l.band_key = r.band_key
   AND l.doc_id < r.doc_id
)
SELECT new_doc_id, matched_doc_id FROM cross_p
UNION
SELECT new_doc_id, matched_doc_id FROM within_p"""


QUERIES["q_minhash_incremental"] = q_minhash_incremental
ORACLES["q_minhash_incremental"] = sql_minhash_incremental


# ---------------------------------------------------------------------------
# sequence packing (fixed-length training examples)
# ---------------------------------------------------------------------------

_PACK_SEQ_LEN = 128
_PACK_BUCKET = 64
_PACK_SEP = 1


def q_pack_sequences(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Pre-training sequence packing (operators/pack.pack_sequences):
    per-doc layout coordinates in bucketed token streams cut into
    128-position training examples — integer-exact ordered-window
    arithmetic, one shuffle on the bucket key."""
    from ..operators.pack import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_sequences(
        docs, seq_len=_PACK_SEQ_LEN, bucket_size=_PACK_BUCKET,
        sep_tokens=_PACK_SEP,
    )


def sql_pack_sequences() -> str:
    L, B, S = _PACK_SEQ_LEN, _PACK_BUCKET, _PACK_SEP
    toks = _TOKS.format(c="text")
    return f"""WITH t AS (
  SELECT doc_id,
         (CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len({toks}) END) + {S} AS ntok,
         doc_id // {B} AS bucket
  FROM documents
  WHERE (CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len({toks}) END) > 0 AND text IS NOT NULL
),
c AS (
  SELECT doc_id, bucket, ntok,
         COALESCE(SUM(ntok) OVER (
           PARTITION BY bucket ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM t
)
SELECT doc_id, bucket, CAST(ntok AS BIGINT) AS n_tokens,
       CAST(off AS BIGINT) AS offset,
       CAST(off // {L} AS BIGINT) AS first_chunk,
       CAST((off + ntok - 1) // {L} AS BIGINT) AS last_chunk
FROM c"""


QUERIES["q_pack_sequences"] = q_pack_sequences
ORACLES["q_pack_sequences"] = sql_pack_sequences


# ---------------------------------------------------------------------------
# WARC ingestion (S1 via the real crawl container format)
# ---------------------------------------------------------------------------

def q_extract_warc(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Full extraction with the corpus ingested from REAL WARC files
    (sources/warc.py): the conformance fixtures are encoded as
    WARC/1.0 response records sharded over four .warc files, read back
    through Spark's binaryFile source + the Arrow record-walk
    exploder, then extract -> skolemize -> dedup. The oracle is the
    SAME transcribed golden set as q_extract_triples — the container
    roundtrip must be byte-invisible."""
    import os
    import tempfile

    from ..fixtures import FIXTURES
    from ..sources.warc import encode_warc, read_warc_pages

    tmp = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_warc_{spark.sparkContext.applicationId}",
    )
    if not os.path.isdir(tmp):
        os.makedirs(tmp, exist_ok=True)
        recs = [
            (
                f"http://pages.example.org/{f.name}.html",
                f.html.encode("utf-8"),
                f.base_iri,
            )
            for f in FIXTURES
        ]
        for shard in range(4):
            with open(os.path.join(tmp, f"part-{shard}.warc"), "wb") as fh:
                fh.write(encode_warc(recs[shard::4]))
    pages = read_warc_pages(spark, tmp)
    triples = dedup_triples(skolemize(extract_triples(pages)), per_graph=True)
    return triples.select(
        "url", "subj", "pred", "obj", "obj_kind", "obj_lang", "obj_datatype"
    )


QUERIES["q_extract_warc"] = q_extract_warc
ORACLES["q_extract_warc"] = sql_extract_triples


# ---------------------------------------------------------------------------
# deterministic mixture sampling (per-source keep rates)
# ---------------------------------------------------------------------------

_MIX_WEIGHTS_U = {"src0": 1_000_000, "src1": 500_000, "src2": 250_000}
_MIX_DEFAULT_U = 100_000
_MIX_SALT = "mix"


def q_mixture_sample(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Data-mixture downsampling (operators/split.mixture_sample):
    per-source keep rates applied as a deterministic md5-bucket filter
    — scan-side expression, zero shuffles, same rows survive on every
    rerun; the DuckDB oracle replays the identical bucket arithmetic."""
    from ..operators.split import mixture_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept = mixture_sample(
        docs, "doc_id", "source", _MIX_WEIGHTS_U,
        default_u=_MIX_DEFAULT_U, salt=_MIX_SALT,
    )
    return kept.select("doc_id", "source")


def sql_mixture_sample() -> str:
    nibbles = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    whens = " ".join(
        f"WHEN source = '{g}' THEN {w}"
        for g, w in sorted(_MIX_WEIGHTS_U.items())
    )
    return f"""WITH b AS (
  SELECT doc_id, source,
         ({nibbles}) % 1000000 AS bucket
  FROM (SELECT doc_id, source,
               md5(CAST(doc_id AS VARCHAR) || '|{_MIX_SALT}') AS h
        FROM documents)
)
SELECT doc_id, source FROM b
WHERE bucket < (CASE {whens} ELSE {_MIX_DEFAULT_U} END)"""


QUERIES["q_mixture_sample"] = q_mixture_sample
ORACLES["q_mixture_sample"] = sql_mixture_sample


# ---------------------------------------------------------------------------
# streaming NATIVE session windows (F.session_window)
# ---------------------------------------------------------------------------

def q_events_sessions_stream(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Gap-based sessionization as a REAL Structured Streaming job
    using Spark's NATIVE session windows (``F.session_window``, 30-min
    gap): file-source readStream -> merging session-window aggregation
    -> memory sink, availableNow. Boundary semantics verified
    empirically: a gap of exactly the window size still merges (same
    ``> gap`` new-session rule as the batch lag/cumsum variant) and
    window end = last event + gap — the DuckDB oracle replays exactly
    that. Counts are integer so state-store merge order cannot drift."""
    import os
    import re
    import tempfile

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    src_dir = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_sess_{tag}_{spark.sparkContext.applicationId}",
    )
    os.makedirs(src_dir, exist_ok=True)
    link = os.path.join(src_dir, "events.parquet")
    if os.path.lexists(link):
        os.unlink(link)
    os.symlink(path, link)
    # the streaming file source wants a DIRECTORY and does not recurse:
    # for a directory dataset (Spark-written parquet dir) stream from
    # the symlink itself; for a single-file dataset stream from the
    # temp dir containing the symlink
    src = spark.readStream.schema(schema).parquet(
        link if os.path.isdir(path) else src_dir
    )
    sess = (
        src.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("w.start").cast("long").alias("session_start"),
            F.unix_timestamp("w.end").cast("long").alias("session_end_g"),
            "n_events",
        )
    )
    _STREAM_SEQ[0] += 1
    name = f"events_sessions_stream_{_STREAM_SEQ[0]}"
    q = (
        sess.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def sql_events_sessions_stream() -> str:
    return f"""WITH flagged AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                PARTITION BY user_id ORDER BY ts, event_id) > {_SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_session,
         ts, event_id
  FROM events
),
sess AS (
  SELECT user_id, ep,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM flagged
)
SELECT user_id,
       CAST(MIN(ep) AS BIGINT) AS session_start,
       CAST(MAX(ep) + {_SESSION_GAP_S} AS BIGINT) AS session_end_g,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id, session_idx"""


QUERIES["q_events_sessions_stream"] = q_events_sessions_stream
ORACLES["q_events_sessions_stream"] = sql_events_sessions_stream


# ---------------------------------------------------------------------------
# watermarked append-mode windows (late-data semantics)
# ---------------------------------------------------------------------------

_LATE_WINDOW_S = 300
_LATE_DELAY_S = 600


def q_events_window_late(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Watermarked tumbling windows in APPEND mode: only windows the
    10-minute watermark has finalized emit (the late-data contract —
    state for open windows is held back, closed windows are immutable).
    Emission boundary pinned empirically: a window emits iff
    window_end <= max_event_time - delay (equality emits); the oracle
    replays exactly that cutoff, so the row SET is deterministic."""
    import os
    import re
    import tempfile

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    src_dir = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_late_{tag}_{spark.sparkContext.applicationId}",
    )
    os.makedirs(src_dir, exist_ok=True)
    link = os.path.join(src_dir, "events.parquet")
    if os.path.lexists(link):
        os.unlink(link)
    os.symlink(path, link)
    src = spark.readStream.schema(schema).parquet(
        link if os.path.isdir(path) else src_dir
    )
    agg = (
        # watermarks require TIMESTAMP; the parquet reads as
        # TIMESTAMP_NTZ (session tz is pinned UTC, so the cast is an
        # identity on the instant)
        src.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", f"{_LATE_DELAY_S} seconds")
        .groupBy(
            F.window("ts", f"{_LATE_WINDOW_S} seconds").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 1e6).cast("long")).alias("sum_value_u"),
        )
        .select(
            F.unix_timestamp("w.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value_u",
        )
    )
    _STREAM_SEQ[0] += 1
    name = f"events_window_late_{_STREAM_SEQ[0]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def sql_events_window_late() -> str:
    W, D = _LATE_WINDOW_S, _LATE_DELAY_S
    return f"""WITH m AS (
  SELECT MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS mx FROM events
)
SELECT CAST(floor(epoch(ts) / {W}) * {W} AS BIGINT) AS window_start,
       event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS sum_value_u
FROM events
WHERE CAST(floor(epoch(ts) / {W}) * {W} AS BIGINT) + {W}
      <= (SELECT mx FROM m) - {D}
GROUP BY 1, 2"""


QUERIES["q_events_window_late"] = q_events_window_late
ORACLES["q_events_window_late"] = sql_events_window_late


# ---------------------------------------------------------------------------
# web-graph construction: HTML -> links -> host graph -> PageRank
# ---------------------------------------------------------------------------

_LG_N = 200
_LG_HOSTS = 20


def _linked_page_rows(n: int = _LG_N, n_hosts: int = _LG_HOSTS) -> list[tuple[str, str]]:
    """Deterministic (url, html) pages whose anchor tags encode the
    same functional graph family as q_pagerank — page i links to page
    (i*31+7) mod n, every third page also to (i*17+3) mod n, and every
    second page to its same-host neighbor (i+n_hosts) mod n — written
    the way real crawled HTML writes them: double-quoted, single-
    quoted, AND unquoted attributes; absolute, protocol-relative,
    rooted-relative, dot-segment-relative, and fragment-only targets;
    plus non-http hrefs that must drop at the host-edge step. One
    shared pure-Python builder backs both the Spark corpus and the
    oracle's edge derivation."""
    rows = []
    for i in range(n):
        url = f"http://host{i % n_hosts}.example.org/p/{i}"
        anchors = []
        targets = [(i * 31 + 7) % n]
        if i % 3 == 0:
            targets.append((i * 17 + 3) % n)
        for t in targets:
            t_host = f"host{t % n_hosts}.example.org"
            s = (i + t) % 3
            if s == 0:
                anchors.append(f'<a href="http://{t_host}/p/{t}">l{t}</a>')
            elif s == 1:
                anchors.append(f"<a href='http://{t_host}/p/{t}'>l{t}</a>")
            else:  # protocol-relative: scheme comes from the base URL
                anchors.append(f'<a href="//{t_host}/p/{t}">l{t}</a>')
        if i % 2 == 0:
            # same-host neighbor via RELATIVE references (what most
            # real-world links look like); n % n_hosts == 0 keeps the
            # target on this host
            tr = (i + n_hosts) % n
            if i % 4 == 0:
                anchors.append(f"<a href='/p/{tr}'>r{tr}</a>")
            else:
                anchors.append(f"<a href=../p/{tr}>r{tr}</a>")
        if i % 5 == 0:
            anchors.append("<a href=#top>top</a>")  # self host edge
        if i % 7 == 0:
            anchors.append('<a href="javascript:void(0)">js</a>')  # dropped
        html = (
            '<html><body><article itemscope '
            'itemtype="http://schema.org/Article">'
            f'<h1 itemprop="headline">page {i}</h1>{"".join(anchors)}'
            "</article></body></html>"
        )
        rows.append((url, html))
    return rows


def _replay_links_py(url: str, html: str) -> list[str]:
    """Pure-Python replay of extract_links + resolve_links for the
    oracle side: the SAME three HREF_PATTERNS regex strings run through
    ``re`` (an independent regex engine from Spark's Java one), then
    the shared RFC 3986 kernel (functions/iri.py — the shared-local-
    kernel oracle pattern, like robots). Unresolvable hrefs drop, like
    resolve_links' NULL filter."""
    import re as _re

    from ..functions.iri import resolve_iri
    from ..operators.links import HREF_PATTERNS

    raw: list[str] = []
    for pat in HREF_PATTERNS:
        raw.extend(_re.findall(pat, html))
    out = []
    for href in raw:
        try:
            out.append(resolve_iri(href, url))
        except Exception:  # noqa: BLE001
            pass
    return out


def q_host_pagerank(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """End-to-end web-graph construction: raw HTML pages -> href
    extraction across all three quoting styles (codegen'd regexps,
    operators/links.py) -> RFC 3986 resolution of relative/protocol-
    relative/fragment hrefs against the page URL (resolve_links) ->
    host-level edge list (non-http schemes drop) -> integer PageRank
    (operators/graph.py). Parallel host edges each contribute (the
    multiplicity a crawler's link graph actually has). The oracle
    derives the identical edge set from the shared page builder and
    replays the same unrolled integer rounds."""
    from ..operators.graph import pagerank
    from ..operators.links import extract_links, host_edges, resolve_links

    pages = spark.createDataFrame(
        _linked_page_rows(), "url string, html string"
    ).repartition(4)
    edges = host_edges(resolve_links(extract_links(pages)))
    hosts = spark.createDataFrame(
        [(f"host{k}.example.org",) for k in range(_LG_HOSTS)], "host string"
    )
    out = pagerank(
        hosts,
        edges,
        id_col="host",
        src_col="subj",
        dst_col="obj",
        iterations=_PR_ITER,
        scale=_PR_SCALE,
        damping_u=_PR_DAMPING_U,
    )
    return out.select("host", F.col("rank_u").cast("long").alias("rank_u"))


def sql_host_pagerank() -> str:
    import re as _re

    edges = []
    for url, html in _linked_page_rows():
        src = _re.match(r"^https?://([^/]+)", url).group(1)
        for dst_url in _replay_links_py(url, html):
            m = _re.match(r"^https?://([^/]+)", dst_url)
            if m:  # non-http schemes (javascript:) drop, like host_edges
                edges.append((src, m.group(1)))
    e_values = ",\n".join(f"({_sql_str(a)}, {_sql_str(b)})" for a, b in edges)
    id_values = ",\n".join(
        f"({_sql_str(f'host{k}.example.org')})" for k in range(_LG_HOSTS)
    )
    return (
        f"""WITH n AS (SELECT {_LG_HOSTS} AS c),
ids AS (SELECT host FROM (VALUES
{id_values}
) t(host)),
e AS (SELECT subj, obj FROM (VALUES
{e_values}
) t(subj, obj))"""
        + _sql_pagerank_chain("host")
    )


QUERIES["q_host_pagerank"] = q_host_pagerank
ORACLES["q_host_pagerank"] = sql_host_pagerank


# ---------------------------------------------------------------------------
# link resolution (raw hrefs -> absolute URLs, RFC 3986)
# ---------------------------------------------------------------------------

def _link_page_rows() -> list[tuple[str, str]]:
    """Deterministic (url, html) pages exercising every href form a
    real crawl emits: absolute (both quote styles, mixed-case HREF,
    spaces around '='), relative path, rooted path, dot segments,
    protocol-relative, fragment-only, query-only, empty, unquoted, and
    non-hierarchical schemes (javascript:, mailto:) that resolve to
    themselves. Base URLs vary host, port, directory depth, and query
    presence."""
    hosts = ("alpha.example.org", "beta.example.org:8080")
    rows = []
    for i in range(24):
        host = hosts[i % 2]
        url = f"http://{host}/dir{i % 3}/page{i}.html" + (
            "?v=1" if i % 4 == 0 else ""
        )
        hrefs = [
            f'<a href="http://abs{i % 5}.example.org/x/{i}">a</a>',
            f"<a href='sub/rel{i}.html'>b</a>",
            f"<a href=/rooted/{i}>c</a>",
            f"<a href=../up/{i}.html>d</a>",
            f'<a href="//proto.example.org/pp/{i}">e</a>',
            "<a href=#sec>f</a>",
            "<a href='?q=2'>g</a>",
            '<a href="">h</a>',
            '<a HREF = "http://case.example.org/y/./z/../w">i</a>',
        ]
        if i % 6 == 0:
            hrefs.append('<a href="javascript:void(0)">j</a>')
            hrefs.append("<a href='mailto:x@example.org'>k</a>")
        rows.append((url, "<html><body>" + "".join(hrefs) + "</body></html>"))
    return rows


def q_link_resolve(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Raw-HTML link resolution (operators/links.extract_links +
    resolve_links): href occurrences across all three quoting styles,
    each RFC 3986-resolved against its page URL — the step that makes
    the web graph see the relative links real pages are made of. The
    oracle replays the same three extraction regexes through Python
    ``re`` and the shared RFC 3986 kernel (functions/iri.py)."""
    from ..operators.links import extract_links, resolve_links

    pages = spark.createDataFrame(
        _link_page_rows(), "url string, html string"
    ).repartition(4)
    return resolve_links(extract_links(pages)).select("src_url", "dst_url")


def sql_link_resolve() -> str:
    values = ",\n".join(
        f"({_sql_str(url)}, {_sql_str(dst)})"
        for url, html in _link_page_rows()
        for dst in _replay_links_py(url, html)
    )
    return f"""SELECT CAST(src_url AS VARCHAR) AS src_url,
       CAST(dst_url AS VARCHAR) AS dst_url
FROM (VALUES
{values}
) t(src_url, dst_url)"""


QUERIES["q_link_resolve"] = q_link_resolve
ORACLES["q_link_resolve"] = sql_link_resolve


# ---------------------------------------------------------------------------
# robots.txt crawl filtering (RFC 9309)
# ---------------------------------------------------------------------------

_ROBOTS_AGENT = "sparkbot"
_ROBOTS_N_URLS = 200
_ROBOTS_N_HOSTS = 10


def _robots_rows() -> list[tuple[str, str]]:
    """(host, robots_txt) — three behaviors cycled across hosts:
    k%3==1 a sparkbot-specific group (wildcards + $-anchor + allow
    override), k%3==2 only a ``*`` group; k%3==0 hosts have NO robots
    row at all (missing-file => everything allowed)."""
    rows = []
    for k in range(_ROBOTS_N_HOSTS):
        host = f"host{k}.example.org"
        if k % 3 == 1:
            txt = (
                "# crawl policy\n"
                "User-agent: sparkbot\n"
                "Disallow: /private\n"
                "Allow: /private/ok$\n"
                "Disallow: /*.zip$\n"
                "\n"
                "User-agent: *\n"
                "Disallow: /\n"
            )
        elif k % 3 == 2:
            txt = "User-agent: *\nDisallow: /tmp*\nAllow: /tmp/keep\n"
        else:
            continue
        rows.append((host, txt))
    return rows


def _robots_url_rows() -> list[tuple[str,]]:
    paths = ("/page/%d", "/private/%d", "/private/ok", "/tmp/%d",
             "/tmp/keep/%d", "/data/%d.zip")
    return [
        (
            f"http://host{i % _ROBOTS_N_HOSTS}.example.org"
            + (paths[i % len(paths)] % i if "%d" in paths[i % len(paths)]
               else paths[i % len(paths)]),
        )
        for i in range(_ROBOTS_N_URLS)
    ]


def q_robots_filter(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """RFC 9309 robots filtering (operators/crawl.robots_filter): each
    URL marked allowed/blocked for the configured agent under its
    host's robots.txt — longest-match with wildcards and $-anchors,
    allow-wins ties, specific-agent group overriding ``*``, missing
    robots row => allowed. Oracle: the same pure-Python kernel run
    locally over the shared deterministic corpus."""
    from ..operators.crawl import robots_filter

    pages = spark.createDataFrame(_robots_url_rows(), "url string").repartition(4)
    robots = spark.createDataFrame(
        _robots_rows(), "host string, robots_txt string"
    )
    return robots_filter(pages, robots, agent=_ROBOTS_AGENT)


def sql_robots_filter() -> str:
    import re as _re

    from ..functions.robots import parse_robots, url_allowed

    rules_by_host = {h: parse_robots(t, _ROBOTS_AGENT) for h, t in _robots_rows()}
    out = []
    for (url,) in _robots_url_rows():
        m = _re.match(r"^https?://([^/]+)(/.*)?$", url)
        host, path = m.group(1), m.group(2) or "/"
        rules = rules_by_host.get(host)
        allowed = True if rules is None else url_allowed(rules, path)
        out.append(f"({_sql_str(url)}, {str(allowed).upper()})")
    values = ",\n".join(out)
    return f"""SELECT CAST(url AS VARCHAR) AS url,
       CAST(allowed AS BOOLEAN) AS allowed
FROM (VALUES
{values}
) t(url, allowed)"""


QUERIES["q_robots_filter"] = q_robots_filter
ORACLES["q_robots_filter"] = sql_robots_filter


# ---------------------------------------------------------------------------
# URL canonicalization (pre-dedup normalization)
# ---------------------------------------------------------------------------

def _messy_url_rows() -> list[tuple[str,]]:
    """Deterministic messy URLs exercising every normalization rule:
    mixed-case schemes/hosts, default and non-default ports, empty
    paths, tracking + unsorted query params, fragments, relative
    passthroughs. BOTH engines normalize these independently (no
    golden outputs) — a true cross-engine check of the expression
    semantics."""
    schemes = ("http", "HTTPS", "HtTp")
    ports = ("", ":80", ":443", ":8080")
    paths = ("", "/a/b", "/A/b%20c", "/x/")
    queries = ("", "?utm_source=x&b=2&a=1", "?b=2&fbclid=zz&a=1&gclid=q",
               "?z=9", "?utm_campaign=only")
    frags = ("", "#sec")
    rows = []
    i = 0
    for s in schemes:
        for p in ports:
            for pa in paths:
                for q in queries:
                    f = frags[i % 2]
                    rows.append((f"{s}://HoSt{i % 7}.Example.ORG{p}{pa}{q}{f}",))
                    i += 1
    rows.append(("/relative/path?b=1",))
    rows.append(("  http://pad.example.org/x  ",))
    # '?' only inside the fragment: must NOT resurrect as a query
    rows.append(("http://frag.example.org/p#sec?a=b&utm_source=x",))
    # bare valueless tracking params strip like their '=' forms
    rows.append(("http://bare.example.org/p?fbclid&a=1&utm_source",))
    rows.append(("http://bare.example.org/p?utm_campaign",))
    return rows


def q_url_normalize(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """URL canonicalization (operators/links.normalize_url): the
    pre-dedup normalization pass as pure codegen'd expressions — no
    UDF, no shuffle; at scale it is a free column on the scan."""
    from ..operators.links import normalize_url

    urls = spark.createDataFrame(_messy_url_rows(), "url string")
    return urls.select("url", normalize_url(F.col("url")).alias("norm_url"))


def sql_url_normalize() -> str:
    values = ",\n".join(f"({_sql_str(u)})" for (u,) in _messy_url_rows())
    track = r"^(utm_[A-Za-z0-9_]*|fbclid|gclid)(=|$)"
    return f"""WITH raw(url) AS (VALUES
{values}
),
stripped AS (
  SELECT url, trim(url) AS u,
         regexp_extract(trim(url), '^([^#]*)', 1) AS nf
  FROM raw
),
parts AS (
  SELECT url, u,
         lower(regexp_extract(nf, '^([^:/?#]+)://', 1)) AS scheme,
         lower(regexp_extract(nf, '^[^:/?#]+://([^/?#]*)', 1)) AS auth,
         regexp_extract(nf, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS path,
         regexp_extract(nf, '\\?(.*)', 1) AS raw_q
  FROM stripped
),
norm AS (
  SELECT url, u, scheme,
         CASE WHEN scheme = 'http' AND auth LIKE '%:80'
              THEN regexp_replace(auth, ':80$', '')
              WHEN scheme = 'https' AND auth LIKE '%:443'
              THEN regexp_replace(auth, ':443$', '')
              ELSE auth END AS host,
         CASE WHEN path = '' THEN '/' ELSE path END AS path,
         list_sort(list_filter(regexp_split_to_array(raw_q, '&'),
                   p -> p <> '' AND NOT regexp_matches(p, '{track}'))) AS kept
  FROM parts
)
SELECT url,
       CASE WHEN scheme = '' THEN u
            ELSE scheme || '://' || host || path ||
                 (CASE WHEN len(kept) > 0
                       THEN '?' || array_to_string(kept, '&')
                       ELSE '' END)
       END AS norm_url
FROM norm"""


QUERIES["q_url_normalize"] = q_url_normalize
ORACLES["q_url_normalize"] = sql_url_normalize


# ---------------------------------------------------------------------------
# sitemap ingestion (crawl-frontier seeding)
# ---------------------------------------------------------------------------

_SM_N_HOSTS = 8


def _sitemap_rows() -> list[tuple[str, str]]:
    """(sitemap_url, xml): hosts alternate between a urlset (3-5 page
    locs, whitespace-varied) and a sitemapindex pointing at child
    sitemaps — one shared deterministic builder for query and oracle."""
    rows = []
    for k in range(_SM_N_HOSTS):
        host = f"host{k}.example.org"
        sm_url = f"http://{host}/sitemap.xml"
        if k % 2 == 0:
            locs = "".join(
                f"<url><loc>  http://{host}/p/{k}/{j} </loc>"
                f"<lastmod>2026-01-0{j + 1}</lastmod></url>"
                for j in range(3 + k % 3)
            )
            xml = (
                '<?xml version="1.0" encoding="UTF-8"?>'
                '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
                f"{locs}</urlset>"
            )
        else:
            locs = "".join(
                f"<sitemap><loc>http://{host}/sitemap-{j}.xml</loc></sitemap>"
                for j in range(2)
            )
            xml = (
                '<?xml version="1.0" encoding="UTF-8"?>'
                '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
                f"{locs}</sitemapindex>"
            )
        rows.append((sm_url, xml))
    return rows


def q_sitemap_urls(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Crawl-frontier seeding (operators/links.extract_sitemap_urls):
    <loc> extraction from urlset AND sitemapindex bodies as a pure
    codegen'd regexp explode. The oracle runs DuckDB's
    regexp_extract_all over the same shared corpus — both engines
    extract independently."""
    from ..operators.links import extract_sitemap_urls

    sitemaps = spark.createDataFrame(
        _sitemap_rows(), "sitemap_url string, xml string"
    )
    return extract_sitemap_urls(sitemaps)


def sql_sitemap_urls() -> str:
    values = ",\n".join(
        f"({_sql_str(u)}, {_sql_str(x)})" for u, x in _sitemap_rows()
    )
    return f"""WITH sm(sitemap_url, xml) AS (VALUES
{values}
)
SELECT sitemap_url,
       trim(unnest(regexp_extract_all(xml, '<loc>\\s*([^<]+?)\\s*</loc>', 1))) AS url
FROM sm"""


QUERIES["q_sitemap_urls"] = q_sitemap_urls
ORACLES["q_sitemap_urls"] = sql_sitemap_urls


# ---------------------------------------------------------------------------
# robots.txt Sitemap: directives (crawl-frontier loop closure)
# ---------------------------------------------------------------------------

def _robots_sitemap_rows() -> list[tuple[str, str]]:
    """(host, robots_txt) bodies exercising the Sitemap: directive
    forms a crawler meets: canonical casing, lowercase/uppercase keys,
    leading whitespace, multiple directives per file, CRLF endings,
    directives interleaved with groups, and files with none."""
    rows = []
    for k in range(10):
        host = f"host{k}.example.org"
        body = f"User-agent: *\nDisallow: /tmp{k}\n"
        if k % 3 == 0:
            body += f"Sitemap: http://{host}/sitemap.xml\n"
        elif k % 3 == 1:
            body += (
                f"  sitemap:   http://{host}/sm/a.xml\n"
                f"User-agent: sparkbot\nDisallow: /x\n"
                f"SITEMAP: https://cdn.{host}/sm/b.xml\r\n"
            )
        rows.append((host, body))
    return rows


def q_robots_sitemaps(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Sitemap references out of robots.txt bodies
    (operators/links.robots_sitemap_urls, RFC 9309 §2.3): the step that
    closes the crawl-frontier loop — robots governance hands the
    frontier its sitemap seeds, which extract_sitemap_urls then walks.
    Pure codegen'd regexp explode; the oracle runs the same pattern
    through DuckDB's RE2 independently (true cross-engine check)."""
    from ..operators.links import robots_sitemap_urls

    robots = spark.createDataFrame(
        _robots_sitemap_rows(), "host string, robots_txt string"
    ).repartition(2)
    return robots_sitemap_urls(robots)


def sql_robots_sitemaps() -> str:
    values = ",\n".join(
        f"({_sql_str(h)}, {_sql_str(t)})" for h, t in _robots_sitemap_rows()
    )
    return f"""WITH r(host, robots_txt) AS (VALUES
{values}
)
SELECT host,
       unnest(regexp_extract_all(robots_txt,
              '(?im)^[ \\t]*sitemap:[ \\t]*(\\S+)', 1)) AS sitemap_url
FROM r"""


QUERIES["q_robots_sitemaps"] = q_robots_sitemaps
ORACLES["q_robots_sitemaps"] = sql_robots_sitemaps


# ---------------------------------------------------------------------------
# winnowing document fingerprints (rolling-hash fingerprinting)
# ---------------------------------------------------------------------------

_WF_K = 8
_WF_WINDOW = 4


def q_winnow_fingerprints(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Winnowing fingerprints (operators/dedup.winnow_fingerprints,
    SIGMOD'03): per document, the distinct window-minima of md5-derived
    character 8-gram hashes — the local fingerprinting scheme behind
    plagiarism/overlap detection. Pure scan-side array expressions;
    the DuckDB oracle recomputes every gram hash and window minimum
    independently."""
    from ..operators.dedup import winnow_fingerprints

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return winnow_fingerprints(docs, k=_WF_K, window=_WF_WINDOW)


def sql_winnow_fingerprints() -> str:
    from ..operators.dedup import _WIN_B, _WIN_M

    norm = _NORM.format(c="text")
    k, w = _WF_K, _WF_WINDOW
    poly = " + ".join(
        f"cp[CAST(i + {j} AS INT)] * {_WIN_B ** (k - 1 - j)}"
        for j in range(k)
    )
    return f"""WITH n AS (
  SELECT doc_id, {norm} AS txt FROM documents
),
cpt AS (
  SELECT doc_id, length(txt) - {k - 1} AS ng,
         list_transform(range(1, length(txt) + 1), i ->
           CAST(ord(substr(txt, CAST(i AS INT), 1)) % 256 AS BIGINT)) AS cp
  FROM n
),
grams AS (
  SELECT doc_id, ng,
         list_transform(range(1, ng + 1), i ->
           ({poly}) % {_WIN_M}) AS h
  FROM cpt WHERE ng >= {w}
),
mins AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, ng - {w - 1} + 1), i ->
           list_min(list_slice(h, CAST(i AS INT),
                               CAST(i + {w - 1} AS INT))))) AS fps
  FROM grams
)
SELECT doc_id, unnest(fps) AS fingerprint FROM mins"""


QUERIES["q_winnow_fingerprints"] = q_winnow_fingerprints
ORACLES["q_winnow_fingerprints"] = sql_winnow_fingerprints


# ---------------------------------------------------------------------------
# TPC-H Q5 shape: local-supplier volume (6-table star join)
# ---------------------------------------------------------------------------

_Q5_REGION = "ASIA"
_Q5_FROM_EPOCH = 820_454_400  # 1996-01-01 UTC
_Q5_TO_EPOCH = 852_076_800  # 1997-01-01 UTC


def q_local_supplier_volume(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """TPC-H Q5-shaped 6-table join: revenue by supplier nation for
    orders placed in-region within a year, counting only lineitems
    whose supplier sits in the customer's own nation.

    Plan shape for 100 TB: region->nation->supplier collapse into one
    broadcast dim (a few MB even at SF100k), hash-joined into the
    lineitem scan with zero shuffle; the only exchanges are the two
    fact-fact joins (lineitem><orders on orderkey, ><customer on
    custkey) plus the final 5-group aggregate with map-side partials.
    The date filter is pushed into the orders parquet scan before its
    shuffle. Revenue in integer cents (floor(x*100)) so distributed
    fold order cannot drift from the oracle."""
    region = spark.read.parquet(f"{sf_dir}/region.parquet").filter(
        F.col("r_name") == _Q5_REGION
    )
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        (F.unix_timestamp("o_orderdate") >= _Q5_FROM_EPOCH)
        & (F.unix_timestamp("o_orderdate") < _Q5_TO_EPOCH)
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dims = (
        supp.join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .select("s_suppkey", "n_nationkey", "n_name")
    )
    rev = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100
    ).cast("long")
    return (
        li.join(F.broadcast(dims), li["l_suppkey"] == dims["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(
            cust,
            (orders["o_custkey"] == cust["c_custkey"])
            & (F.col("n_nationkey") == cust["c_nationkey"]),
        )
        .groupBy("n_name")
        .agg(F.sum(rev).alias("revenue_c"))
    )


def sql_local_supplier_volume() -> str:
    return f"""SELECT n_name,
  CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_c
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = {_sql_str(_Q5_REGION)}
  AND epoch(o_orderdate) >= {_Q5_FROM_EPOCH}
  AND epoch(o_orderdate) < {_Q5_TO_EPOCH}
GROUP BY 1"""


QUERIES["q_local_supplier_volume"] = q_local_supplier_volume
ORACLES["q_local_supplier_volume"] = sql_local_supplier_volume


# ---------------------------------------------------------------------------
# near-dup cluster resolution (LSH pairs -> components -> canonical doc)
# ---------------------------------------------------------------------------

def q_dedup_clusters(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """End-to-end near-dup resolution (operators/dedup.near_dup_clusters):
    MinHash-LSH candidate pairs -> connected components over the pair
    graph -> one (doc_id, cluster_id, keep) row per document with the
    min-id representative kept. The oracle replays the identical LSH
    banding (shared _minhash_cand_cte) and resolves components with a
    DuckDB recursive CTE, so even the iterative fixpoint is
    value-checked end-to-end."""
    from ..operators.dedup import near_dup_clusters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return near_dup_clusters(
        docs, num_hashes=_MH_HASHES, bands=_MH_BANDS, k=_MH_K
    )


def sql_dedup_clusters() -> str:
    return f"""WITH RECURSIVE {_minhash_cand_cte()},
und AS (
  SELECT doc_id_a AS a, doc_id_b AS b FROM cand
  UNION
  SELECT doc_id_b, doc_id_a FROM cand
),
pn AS (SELECT DISTINCT a AS doc_id FROM und),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM pn
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
),
comp AS (SELECT a AS doc_id, MIN(b) AS comp FROM reach GROUP BY a)
SELECT d.doc_id,
       COALESCE(c.comp, d.doc_id) AS cluster_id,
       d.doc_id = COALESCE(c.comp, d.doc_id) AS keep
FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id"""


QUERIES["q_dedup_clusters"] = q_dedup_clusters
ORACLES["q_dedup_clusters"] = sql_dedup_clusters


# ---------------------------------------------------------------------------
# anchor-text extraction (tokenizer pass: the (link, link-text) surface)
# ---------------------------------------------------------------------------

def _anchor_page_rows() -> list[tuple[str, str]]:
    """Deterministic (url, html) pages exercising the anchor-text
    contract: nested inline markup inside anchors, character entities
    in text AND href values, whitespace collapsing, anchors without
    href (skipped), nested <a> (implied close), anchors spanning void
    elements, unclosed anchors at EOF, uppercase tags/attrs, and
    implied-close table markup around anchors."""
    rows = []
    for i in range(20):
        url = f"http://anchors{i % 4}.example.org/p/{i}.html"
        body = (
            f'<p>intro <a href="/plain/{i}">plain text</a> middle</p>'
            f'<a href="http://abs.example.org/{i}"><b>bold</b> and <i>italic</i> run</a>'
            f"<a href='rel{i}.html'>  spaced\n\t out  </a>"
            f'<A HREF="/upper/{i}">UPPER case</A>'
            f'<a href="/entities/{i}?a=1&amp;b=2">x &lt; y &amp; z</a>'
            f"<a name='no-href-{i}'>not a link</a>"
            f'<a href="/outer/{i}">outer <a href="/inner/{i}">inner</a> tail</a>'
            f'<a href="/void/{i}">before<br>after<img src="x.png">end</a>'
            f'<table><tr><td><a href="/cell/{i}">cell link</a><tr><td>next row</table>'
        )
        if i % 5 == 0:
            body += f'<a href="/eof/{i}">unclosed at eof'
        rows.append((url, f"<html><body>{body}</body></html>"))
    return rows


def q_anchor_texts(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Anchor-text extraction (operators/links.extract_anchors): a real
    tokenizer pass emitting (src_url, dst_url, anchor_text) per
    <a href> — entity-decoded hrefs, rendered text across nested
    markup, HTML5 implied closes. The oracle replays the identical
    shared kernel (compute_anchors) over the same page rows."""
    from ..operators.links import extract_anchors

    pages = spark.createDataFrame(
        _anchor_page_rows(), "url string, html string"
    ).repartition(4)
    return extract_anchors(pages)


def sql_anchor_texts() -> str:
    from ..operators.links import compute_anchors

    values = ",\n".join(
        f"({_sql_str(url)}, {_sql_str(href)}, {_sql_str(text)})"
        for url, html in _anchor_page_rows()
        for href, text in compute_anchors(html)
    )
    return f"""SELECT CAST(src_url AS VARCHAR) AS src_url,
       CAST(dst_url AS VARCHAR) AS dst_url,
       CAST(anchor_text AS VARCHAR) AS anchor_text
FROM (VALUES
{values}
) t(src_url, dst_url, anchor_text)"""


QUERIES["q_anchor_texts"] = q_anchor_texts
ORACLES["q_anchor_texts"] = sql_anchor_texts


# ---------------------------------------------------------------------------
# corpus-level top-k n-gram frequencies (vocab / tokenizer training)
# ---------------------------------------------------------------------------

_CN_K = 2
_CN_TOPK = 100


def q_corpus_ngrams(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Corpus-wide most-frequent word bigrams
    (operators/stats.corpus_topk_ngrams): one map-side-combined shuffle
    + TakeOrderedAndProject top-k with a total (n DESC, gram ASC)
    order. The oracle recomputes the full gram histogram in DuckDB."""
    from ..operators.stats import corpus_topk_ngrams

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus_topk_ngrams(docs, k=_CN_K, topk=_CN_TOPK)


def sql_corpus_ngrams() -> str:
    k, topk = _CN_K, _CN_TOPK
    return f"""WITH toks AS (
  SELECT {_TOKS.format(c="text")} AS t FROM documents
),
g AS (
  SELECT unnest(list_transform(range(0, len(t) - {k - 1}),
                i -> array_to_string(t[i + 1 : i + {k}], ' '))) AS gram
  FROM toks WHERE len(t) >= {k}
),
c AS (SELECT gram, COUNT(*) AS n FROM g GROUP BY 1)
SELECT gram, n, ROW_NUMBER() OVER (ORDER BY n DESC, gram ASC) AS rank
FROM c QUALIFY rank <= {topk}"""


QUERIES["q_corpus_ngrams"] = q_corpus_ngrams
ORACLES["q_corpus_ngrams"] = sql_corpus_ngrams


# ---------------------------------------------------------------------------
# PII redaction (training-data scrubbing)
# ---------------------------------------------------------------------------

def q_redact_pii(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """PII scrubbing (operators/scrub.redact_pii): emails, IPv4
    literals, and phone numbers replaced by placeholder tokens, with
    per-category counts. Both engines deterministically append
    doc_id-derived PII to every document FIRST, so the redaction
    regexes are exercised on every row and the oracle genuinely
    cross-checks Java-vs-RE2 regex behavior (not a no-op pass)."""
    from ..operators.scrub import redact_pii

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            d.cast("string"),
            F.lit("@mail.example.com tel +1-555-"),
            F.lpad(F.pmod(d, 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad(F.pmod(d * 7, 10000).cast("string"), 4, "0"),
            F.lit(" ip 10."),
            F.pmod(d, 256).cast("string"),
            F.lit("."),
            F.pmod(d * 3, 256).cast("string"),
            F.lit(".1"),
            F.when(
                F.pmod(d, 3) == 0, F.lit(" alt 555-867-5309")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return redact_pii(aug)


def sql_redact_pii() -> str:
    from ..operators.scrub import PII_PATTERNS

    pats = {name: pat for name, pat, _ in PII_PATTERNS}
    toks = {name: token for name, _, token in PII_PATTERNS}
    return f"""WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com tel +1-555-'
              || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
              || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
              || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
              || CAST((doc_id * 3) % 256 AS VARCHAR) || '.1'
              || CASE WHEN doc_id % 3 = 0 THEN ' alt 555-867-5309' ELSE '' END
           AS text
  FROM documents
)
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(text, '{pats["email"]}', '{toks["email"]}', 'g'),
      '{pats["ip"]}', '{toks["ip"]}', 'g'),
    '{pats["phone"]}', '{toks["phone"]}', 'g') AS clean_text,
  CAST(len(regexp_extract_all(text, '{pats["email"]}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text, '{pats["ip"]}')) AS BIGINT) AS n_ip,
  CAST(len(regexp_extract_all(text, '{pats["phone"]}')) AS BIGINT) AS n_phone
FROM aug"""


QUERIES["q_redact_pii"] = q_redact_pii
ORACLES["q_redact_pii"] = sql_redact_pii


# ---------------------------------------------------------------------------
# C4-style span-level exact dedup (sub-document units)
# ---------------------------------------------------------------------------

_SPAN_WORDS = 10


def q_span_dedup(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Sub-document span dedup (operators/dedup.span_dedup): the corpus
    chopped into non-overlapping 10-word spans, first occurrence per
    distinct span kept ((doc_id, span_no) lexicographic min). The
    oracle recomputes every span digest and resolves winners with a
    row_number window."""
    from ..operators.dedup import span_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return span_dedup(docs, span_words=_SPAN_WORDS)


def sql_span_dedup() -> str:
    w = _SPAN_WORDS
    return f"""WITH toks AS (
  SELECT doc_id, {_TOKS.format(c="text")} AS t FROM documents
),
sp0 AS (
  SELECT doc_id, t,
         unnest(range(0, CAST(ceil(len(t) / {w}.0) AS BIGINT))) AS span_no
  FROM toks
),
sp AS (
  SELECT doc_id, span_no,
         md5(array_to_string(
           t[CAST(span_no * {w} + 1 AS INT) : CAST(span_no * {w} + {w} AS INT)],
           ' ')) AS span_digest
  FROM sp0
)
SELECT doc_id, span_no, span_digest,
       ROW_NUMBER() OVER (PARTITION BY span_digest
                          ORDER BY doc_id, span_no) = 1 AS keep
FROM sp"""


QUERIES["q_span_dedup"] = q_span_dedup
ORACLES["q_span_dedup"] = sql_span_dedup


# ---------------------------------------------------------------------------
# Per-source quota (domain caps), KG vocabulary profile, triangles,
# k-means clustering
# ---------------------------------------------------------------------------

_QUOTA_CAP = 10
_QUOTA_SALT = "quota"


def q_source_quota(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-source document cap (operators/split.per_group_quota): keep
    at most _QUOTA_CAP docs per source, chosen by md5(doc_id|salt)
    order — the domain-quota curation step that stops mega-hosts from
    dominating a training mixture. One shuffle on source; identical
    survivors on every rerun/partitioning/engine."""
    from ..operators.split import per_group_quota

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return per_group_quota(
        docs, "source", "doc_id", _QUOTA_CAP, salt=_QUOTA_SALT
    ).select("doc_id", "source", "quota_rank")


def sql_source_quota() -> str:
    return f"""SELECT doc_id, source, quota_rank FROM (
  SELECT doc_id, source,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR) || '|{_QUOTA_SALT}'),
                    doc_id) AS BIGINT) AS quota_rank
  FROM documents
) WHERE quota_rank <= {_QUOTA_CAP}"""


QUERIES["q_source_quota"] = q_source_quota
ORACLES["q_source_quota"] = sql_source_quota


def q_triples_vocab(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """KG vocabulary profile: per-predicate triple / distinct-subject /
    page / literal counts over the extracted+skolemized+deduped graph —
    the schema-usage census a KG builder runs before designing
    downstream joins (which predicates are dense, which are
    page-local). Reuses the D2+D3+D5 pipeline; one groupBy pred with
    partial aggregation (count-distinct via Spark's two-phase expand)."""
    pages = synthesize_oracle_pages(spark)
    triples = dedup_triples(skolemize(extract_triples(pages)), per_graph=True)
    return triples.groupBy("pred").agg(
        F.count("*").alias("n_triples"),
        F.countDistinct("subj").alias("n_subjects"),
        F.countDistinct("url").alias("n_pages"),
        F.count(F.when(F.col("obj_kind") == "literal", True)).alias(
            "n_literals"
        ),
    )


def sql_triples_vocab() -> str:
    return f"""WITH {_golden_skolemized_cte()}
SELECT pred,
       COUNT(*) AS n_triples,
       COUNT(DISTINCT subj) AS n_subjects,
       COUNT(DISTINCT url) AS n_pages,
       COUNT(CASE WHEN obj_kind = 'literal' THEN TRUE END) AS n_literals
FROM golden GROUP BY pred"""


QUERIES["q_triples_vocab"] = q_triples_vocab
ORACLES["q_triples_vocab"] = sql_triples_vocab


def q_graph_triangles(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-node exact triangle counts (operators/graph.triangle_counts,
    degree-ordered orientation) on a deterministic synthetic graph:
    ring edges (i, i+1) and (i, i+2) mod n plant a triangle at every
    vertex, and every fifth doc adds a chord to (i*31+7) mod n for
    degree variety so the orientation step is non-trivial. The oracle
    rebuilds graph, orientation, wedge join, and closing join in SQL."""
    from ..operators.graph import triangle_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    n_df = ids.agg(F.count("*").alias("n"))
    base = ids.crossJoin(F.broadcast(n_df))
    e1 = base.select(
        F.col("doc_id").alias("subj"),
        F.pmod(F.col("doc_id") + 1, F.col("n")).alias("obj"),
    )
    e2 = base.select(
        F.col("doc_id").alias("subj"),
        F.pmod(F.col("doc_id") + 2, F.col("n")).alias("obj"),
    )
    e3 = base.where(F.pmod(F.col("doc_id"), F.lit(5)) == 0).select(
        F.col("doc_id").alias("subj"),
        F.pmod(F.col("doc_id") * 31 + 7, F.col("n")).alias("obj"),
    )
    return triangle_counts(
        ids, e1.union(e2).union(e3), id_col="doc_id"
    )


def sql_graph_triangles() -> str:
    return """WITH n AS (SELECT COUNT(*) AS c FROM documents),
ids AS (SELECT doc_id FROM documents),
raw AS (
  SELECT doc_id AS s, (doc_id + 1) % (SELECT c FROM n) AS o FROM ids
  UNION ALL
  SELECT doc_id, (doc_id + 2) % (SELECT c FROM n) FROM ids
  UNION ALL
  SELECT doc_id, (doc_id * 31 + 7) % (SELECT c FROM n) FROM ids
  WHERE doc_id % 5 = 0
),
e AS (
  SELECT DISTINCT least(s, o) AS a, greatest(s, o) AS b
  FROM raw WHERE s <> o
),
deg AS (
  SELECT v, COUNT(*) AS deg FROM (
    SELECT a AS v FROM e UNION ALL SELECT b FROM e
  ) GROUP BY v
),
oe AS (
  SELECT CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.a ELSE e.b END AS u,
         CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.b ELSE e.a END AS w
  FROM e
  JOIN deg da ON da.v = e.a
  JOIN deg db ON db.v = e.b
),
tri AS (
  SELECT o1.u AS t_u, o1.w AS t_v, o2.w AS t_w
  FROM oe o1
  JOIN oe o2 ON o2.u = o1.w
  JOIN oe o3 ON o3.u = o1.u AND o3.w = o2.w
),
verts AS (
  SELECT v AS doc_id, COUNT(*) AS n_triangles FROM (
    SELECT t_u AS v FROM tri
    UNION ALL SELECT t_v FROM tri
    UNION ALL SELECT t_w FROM tri
  ) GROUP BY v
)
SELECT i.doc_id,
       CAST(COALESCE(verts.n_triangles, 0) AS BIGINT) AS n_triangles
FROM ids i LEFT JOIN verts ON verts.doc_id = i.doc_id"""


QUERIES["q_graph_triangles"] = q_graph_triangles
ORACLES["q_graph_triangles"] = sql_graph_triangles


def q_kmeans_clusters(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Document clustering over embeddings: integer-exact Lloyd
    k-means (3 rounds, first-16 seed — the IVF training path) followed
    by the scan-side integer argmin assignment
    (operators/similarity.kmeans_assign) plus per-cluster sizes. The
    clustering twin of q_ivf_topk: same centroids, but the deliverable
    is (vec_id, cid, cluster_n) — the corpus-bucketing step a
    diversity-aware sampler consumes."""
    from ..operators.similarity import kmeans_assign

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _assert_embedding_dim(emb)
    cents = _cached_centroids(emb, (sf_dir, "raw"))
    asg = kmeans_assign(emb, cents)
    sizes = asg.groupBy("cid").agg(F.count("*").alias("cluster_n"))
    return asg.join(F.broadcast(sizes), "cid").select(
        "vec_id", F.col("cid").cast("long").alias("cid"), "cluster_n"
    )


def sql_kmeans_clusters() -> str:
    it = _IVF_KMEANS_ITER
    lloyd_ctes = _sql_lloyd_rounds(it)
    return f"""WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
vu AS (
  SELECT vec_id,
         list_transform(e, x -> CAST(floor(x * 1000000) AS BIGINT)) AS v
  FROM vecs
),
c0 AS (SELECT vec_id AS cid, v AS cv FROM vu WHERE vec_id < {_IVF_CENTROIDS}),
{lloyd_ctes},
distf AS (
  SELECT v.vec_id, c.cid,
         list_reduce(list_transform(range(1, 65),
           i -> (v.v[i] - c.cv[i]) * (v.v[i] - c.cv[i])), (a, b) -> a + b) AS d2
  FROM vu v CROSS JOIN c{it} c
),
asgf AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
    FROM distf) WHERE rn = 1
),
sz AS (SELECT cid, COUNT(*) AS cluster_n FROM asgf GROUP BY cid)
SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cid, sz.cluster_n
FROM asgf a JOIN sz USING (cid)"""


QUERIES["q_kmeans_clusters"] = q_kmeans_clusters
ORACLES["q_kmeans_clusters"] = sql_kmeans_clusters


# ---------------------------------------------------------------------------
# Boilerplate removal (main-content extraction)
# ---------------------------------------------------------------------------

_MC_PRE = (
    '<nav><ul><li><a href="/">Home</a></li>'
    '<li><a href="/archive">Archive</a></li>'
    '<li><a href="/tags">Tags</a></li></ul></nav><main>'
)
_MC_POST = (
    '</main><footer><a href="/about">About</a> | '
    '<a href="/contact">Contact</a> | '
    '<a href="/terms">Terms of service</a></footer>'
)


def q_main_content(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Boilerplate removal (operators/extract.main_content): fixture
    pages wrapped in an identical nav + footer on BOTH engines, so the
    block classifier must drop the link-dense chrome and keep the
    page's own prose. One Arrow mapInPandas pass, no shuffle; the
    oracle replays the shared pure-Python kernel into golden VALUES."""
    from ..operators.extract import main_content

    pages = synthesize_oracle_pages(spark)
    aug = pages.select(
        "url",
        F.concat(
            F.lit(_MC_PRE), F.col("html").cast("string"), F.lit(_MC_POST)
        ).alias("html"),
    )
    return main_content(aug)


def sql_main_content() -> str:
    """Golden VALUES: functions/boilerplate.extract_main_content run
    locally over the identically-wrapped fixture corpus."""
    from ..functions.boilerplate import extract_main_content

    rows = []
    for f in FIXTURES:
        url = f"http://pages.example.org/{f.name}.html"
        r = extract_main_content(url, _MC_PRE + f.html + _MC_POST)
        cells = []
        for i, v in enumerate(r):
            if i in (0, 1, 4):
                cells.append(_sql_str(v))
            else:
                cells.append("NULL" if v is None else str(v))
        rows.append("(" + ", ".join(cells) + ")")
    values = ",\n".join(rows)
    return f"""SELECT CAST(url AS VARCHAR) AS url,
       CAST(main_text AS VARCHAR) AS main_text,
       CAST(n_blocks AS BIGINT) AS n_blocks,
       CAST(n_content_blocks AS BIGINT) AS n_content_blocks,
       CAST(error AS VARCHAR) AS error
FROM (VALUES
{values}
) t(url, main_text, n_blocks, n_content_blocks, error)"""


QUERIES["q_main_content"] = q_main_content
ORACLES["q_main_content"] = sql_main_content


# ---------------------------------------------------------------------------
# N-Triples serialization + fuzzy entity linking
# ---------------------------------------------------------------------------

def q_ntriples(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Canonical N-Triples serialization (operators/serialize
    .to_ntriples) of the extracted+skolemized+deduped graph — the
    reference's streaming-serializer surface as a codegen'd column
    expression (ECHAR escaping, @lang / ^^<dt> suffixes), no UDF, no
    shuffle beyond the pipeline's own."""
    from ..operators.serialize import to_ntriples

    pages = synthesize_oracle_pages(spark)
    triples = dedup_triples(skolemize(extract_triples(pages)), per_graph=True)
    return to_ntriples(triples, keep=("url",))


def sql_ntriples() -> str:
    esc = (
        "replace(replace(replace(replace(replace(obj,"
        " '\\', '\\\\'), '\"', '\\\"'),"
        " chr(10), '\\n'), chr(13), '\\r'), chr(9), '\\t')"
    )
    return (
        "WITH "
        + _golden_skolemized_cte()
        + f"""
SELECT url,
  CASE WHEN subj LIKE '\\_:%' ESCAPE '\\' THEN subj
       ELSE '<' || subj || '>' END
  || ' <' || pred || '> '
  || CASE WHEN obj_kind = 'literal' THEN
       '"' || {esc} || '"' ||
       CASE WHEN obj_lang IS NOT NULL THEN '@' || obj_lang
            WHEN obj_datatype IS NOT NULL
              THEN '^^<' || obj_datatype || '>'
            ELSE '' END
     WHEN obj LIKE '\\_:%' ESCAPE '\\' THEN obj
     ELSE '<' || obj || '>' END
  || ' .' AS line
FROM golden"""
    )


QUERIES["q_ntriples"] = q_ntriples
ORACLES["q_ntriples"] = sql_ntriples


_FZ_MAX_DIST = 2


def q_fuzzy_link(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Fuzzy record linkage (operators/linking.fuzzy_link_mentions):
    mention surfaces matched to a gazetteer by Levenshtein <= 2 with
    length-band blocking. Both engines derive the same gazetteer from
    the corpus's distinct mention keys: one name at edit distance 1
    (append 'x'), one at distance 1 (prepend 'z') to exercise the
    (distance, entity_id) tie-break, and one at distance 3 ('qqq'
    suffix) that blocking must exclude."""
    from ..operators.linking import fuzzy_link_mentions

    pages = synthesize_oracle_pages(spark)
    triples = dedup_triples(
        skolemize(extract_triples(pages)), per_graph=True
    ).persist()
    mentions = detect_mentions(triples, name_preds=_MENTION_PREDS)
    dmk = mentions.select("mention_key").distinct()
    mk = F.col("mention_key")
    dict_df = (
        dmk.select(
            F.md5(mk).alias("entity_id"),
            F.concat(mk, F.lit("x")).alias("name"),
        )
        .unionAll(
            dmk.select(
                F.md5(F.concat(mk, F.lit("2"))).alias("entity_id"),
                F.concat(F.lit("z"), mk).alias("name"),
            )
        )
        .unionAll(
            dmk.select(
                F.md5(F.concat(mk, F.lit("3"))).alias("entity_id"),
                F.concat(mk, F.lit("qqq")).alias("name"),
            )
        )
    )
    return fuzzy_link_mentions(
        mentions, dict_df, max_distance=_FZ_MAX_DIST
    )


def sql_fuzzy_link() -> str:
    preds = ", ".join(_sql_str(p) for p in _MENTION_PREDS)
    norm = (
        "regexp_replace(regexp_replace(lower(trim(obj)),"
        " '[^\\p{L}\\p{N}\\s]', '', 'g'), '\\s+', ' ', 'g')"
    )
    return f"""WITH {_golden_skolemized_cte()},
mentions AS (
  SELECT DISTINCT {norm} AS mention_key
  FROM golden
  WHERE pred IN ({preds}) AND obj_kind = 'literal'
    AND length({norm}) > 0
),
dict AS (
  SELECT md5(mention_key) AS entity_id, mention_key || 'x' AS name
  FROM mentions
  UNION ALL
  SELECT md5(mention_key || '2'), 'z' || mention_key FROM mentions
  UNION ALL
  SELECT md5(mention_key || '3'), mention_key || 'qqq' FROM mentions
),
scored AS (
  SELECT m.mention_key, d.entity_id,
         CAST(levenshtein(m.mention_key, d.name) AS BIGINT) AS distance
  FROM mentions m
  JOIN dict d ON abs(length(m.mention_key) - length(d.name)) <= {_FZ_MAX_DIST}
  WHERE levenshtein(m.mention_key, d.name) <= {_FZ_MAX_DIST}
)
SELECT mention_key, entity_id, distance FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY mention_key ORDER BY distance ASC, entity_id ASC) AS rn
  FROM scored
) WHERE rn = 1"""


QUERIES["q_fuzzy_link"] = q_fuzzy_link
ORACLES["q_fuzzy_link"] = sql_fuzzy_link


# ---------------------------------------------------------------------------
# Gopher quality rules, crawl scheduling, incremental-crawl delta
# ---------------------------------------------------------------------------

_GR_AUG = "\n- first bullet line\n- second bullet line\ntrailing dots ..."


def q_gopher_rules(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Gopher-style quality gate (operators/stats.gopher_rules): rule
    features + conjunctive keep flag, all integer micro-units from
    codegen'd string exprs (zero shuffles). Every third doc gets the
    same bullet/ellipsis suffix on BOTH engines so the line-fraction
    rules are exercised, not vacuously zero."""
    from ..operators.stats import gopher_rules

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    aug = docs.select(
        "doc_id",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(3)) == 0,
            F.concat(F.col("text"), F.lit(_GR_AUG)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return gopher_rules(aug)


def sql_gopher_rules() -> str:
    aug = _GR_AUG.replace("\n", "' || chr(10) || '")
    return f"""WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN text || '{aug}' ELSE text END AS text
  FROM documents
),
feats AS (
  SELECT doc_id,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_words,
    length(regexp_replace(text, '\\s', '', 'g')) AS word_chars,
    (length(text) - length(replace(text, '#', '')))
      + (length(text) - length(replace(text, '…', '')))
      + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT)
      AS symbols,
    string_split(text, chr(10)) AS lines
  FROM aug
),
m AS (
  SELECT doc_id, n_words, word_chars, symbols,
    len(lines) AS n_lines,
    len(list_filter(lines, x -> starts_with(ltrim(x), '-')
        OR starts_with(ltrim(x), '*')
        OR starts_with(ltrim(x), '•'))) AS n_bullet,
    len(list_filter(lines, x -> ends_with(rtrim(x), '…')
        OR ends_with(rtrim(x), '...'))) AS n_ell
  FROM feats
),
r AS (
  SELECT doc_id,
    CAST(n_words AS BIGINT) AS n_words,
    CAST(CASE WHEN n_words > 0
         THEN floor(word_chars * 1000000.0 / n_words) ELSE 0 END AS BIGINT)
      AS mean_word_len_u,
    CAST(CASE WHEN n_words > 0
         THEN floor(symbols * 1000000.0 / n_words) ELSE 0 END AS BIGINT)
      AS symbol_ratio_u,
    CAST(CASE WHEN n_lines > 0
         THEN floor(n_bullet * 1000000.0 / n_lines) ELSE 0 END AS BIGINT)
      AS bullet_frac_u,
    CAST(CASE WHEN n_lines > 0
         THEN floor(n_ell * 1000000.0 / n_lines) ELSE 0 END AS BIGINT)
      AS ellipsis_frac_u
  FROM m
)
SELECT *,
  (n_words >= 50 AND n_words <= 100000
   AND mean_word_len_u >= 3000000 AND mean_word_len_u <= 10000000
   AND symbol_ratio_u <= 100000
   AND bullet_frac_u <= 900000
   AND ellipsis_frac_u <= 300000) AS keep
FROM r"""


QUERIES["q_gopher_rules"] = q_gopher_rules
ORACLES["q_gopher_rules"] = sql_gopher_rules


_CS_PER_WAVE = 3
_CS_DELAY_S = 2
_CS_SALT = "sched"


def q_crawl_schedule(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Politeness scheduling (operators/crawl.politeness_schedule):
    per-host fetch waves (at most _CS_PER_WAVE urls/host/wave,
    _CS_DELAY_S s apart) over synthetic urls keyed by documents.source
    as the host — the frontier-planning step after robots filtering."""
    from ..operators.crawl import politeness_schedule

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    urls = docs.select(
        F.concat(
            F.lit("http://"),
            F.col("source"),
            F.lit(".example.org/d/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.col("source").alias("_host"),
    )
    return politeness_schedule(
        urls, per_wave=_CS_PER_WAVE, delay_s=_CS_DELAY_S, salt=_CS_SALT
    )


def sql_crawl_schedule() -> str:
    return f"""WITH urls AS (
  SELECT 'http://' || source || '.example.org/d/' || CAST(doc_id AS VARCHAR)
           AS url,
         source AS host
  FROM documents
),
ranked AS (
  SELECT url, host,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY host
           ORDER BY md5(url || '|{_CS_SALT}'), url) AS BIGINT) AS host_rank
  FROM urls
)
SELECT url, host, host_rank,
       CAST((host_rank - 1) // {_CS_PER_WAVE} AS BIGINT) AS wave,
       CAST(((host_rank - 1) // {_CS_PER_WAVE}) * {_CS_DELAY_S} AS BIGINT)
         AS offset_s
FROM ranked"""


QUERIES["q_crawl_schedule"] = q_crawl_schedule
ORACLES["q_crawl_schedule"] = sql_crawl_schedule


_CD_ADDED = 20


def q_crawl_delta(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Incremental-crawl change detection (operators/crawl.crawl_delta):
    previous vs new snapshot ledgers, full-outer joined into
    added/removed/changed/unchanged — both engines derive the same two
    ledgers from documents (every 7th doc removed, every 5th modified,
    _CD_ADDED new keys)."""
    from ..operators.crawl import crawl_delta

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    key = F.concat(F.lit("u"), F.col("doc_id").cast("string"))
    old = docs.select(key.alias("url"), F.md5("text").alias("digest"))
    survived = docs.where(F.pmod(F.col("doc_id"), F.lit(7)) != 0).select(
        key.alias("url"),
        F.md5(
            F.when(
                F.pmod(F.col("doc_id"), F.lit(5)) == 0,
                F.concat(F.col("text"), F.lit("v2")),
            ).otherwise(F.col("text"))
        ).alias("digest"),
    )
    added = docs.where(F.col("doc_id") < _CD_ADDED).select(
        F.concat(F.lit("new"), F.col("doc_id").cast("string")).alias("url"),
        F.md5(F.concat(F.lit("new"), F.col("doc_id").cast("string"))).alias(
            "digest"
        ),
    )
    return crawl_delta(old, survived.unionAll(added))


def sql_crawl_delta() -> str:
    return f"""WITH old AS (
  SELECT 'u' || CAST(doc_id AS VARCHAR) AS url, md5(text) AS digest
  FROM documents
),
new AS (
  SELECT 'u' || CAST(doc_id AS VARCHAR) AS url,
         md5(CASE WHEN doc_id % 5 = 0 THEN text || 'v2' ELSE text END)
           AS digest
  FROM documents WHERE doc_id % 7 <> 0
  UNION ALL
  SELECT 'new' || CAST(doc_id AS VARCHAR),
         md5('new' || CAST(doc_id AS VARCHAR))
  FROM documents WHERE doc_id < {_CD_ADDED}
)
SELECT COALESCE(old.url, new.url) AS url,
       CASE WHEN old.url IS NULL THEN 'added'
            WHEN new.url IS NULL THEN 'removed'
            WHEN old.digest = new.digest THEN 'unchanged'
            ELSE 'changed' END AS status
FROM old FULL OUTER JOIN new ON old.url = new.url"""


QUERIES["q_crawl_delta"] = q_crawl_delta
ORACLES["q_crawl_delta"] = sql_crawl_delta


# ---------------------------------------------------------------------------
# Count-min sketch + phrase PMI (vocab collocations)
# ---------------------------------------------------------------------------

_CMS_DEPTH = 4
_CMS_WIDTH = 256
_CMS_PROBES = ("dup", "spark", "vector", "the", "zzz-absent")


def _sql_hex8(expr: str) -> str:
    """First 8 hex nibbles of a (md5 hex) SQL expression as an exact
    integer (16^8 < 2^53) — the DuckDB twin of Spark's conv(...,16,10)."""
    return "(" + " + ".join(
        f"(strpos('0123456789abcdef', substr({expr}, {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    ) + ")"


def q_countmin(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Count-min sketch (operators/sketch.py): build a depth-4 x
    width-256 md5-hashed counter table over all corpus tokens, then
    probe five fixed keys, reporting exact count vs CMS estimate side
    by side (est >= exact always; the oracle rebuilds the identical
    sketch, so the comparison is exact, not statistical)."""
    from ..operators.dedup import shingles
    from ..operators.sketch import count_min_build, count_min_estimate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(F.explode(shingles(F.col("text"), 1)).alias("tok"))
    sketch = count_min_build(toks, "tok", depth=_CMS_DEPTH, width=_CMS_WIDTH)
    probes = spark.createDataFrame(
        [(p,) for p in _CMS_PROBES], "tok string"
    )
    est = count_min_estimate(
        sketch, probes, "tok", depth=_CMS_DEPTH, width=_CMS_WIDTH
    )
    exact = toks.where(F.col("tok").isin(*_CMS_PROBES)).groupBy("tok").agg(
        F.count("*").alias("exact")
    )
    return est.join(exact, "tok", "left").select(
        "tok",
        F.coalesce("exact", F.lit(0)).cast("long").alias("exact"),
        F.col("est").cast("long").alias("est"),
    )


def sql_countmin() -> str:
    probe_list = ", ".join(_sql_str(p) for p in _CMS_PROBES)
    rows = "\n  UNION ALL\n".join(
        f"  SELECT {j} AS row, {_sql_hex8(f_md5)} % {_CMS_WIDTH} AS bucket"
        f" FROM toks"
        for j, f_md5 in (
            (j, f"md5(tok || '#{j}')") for j in range(_CMS_DEPTH)
        )
    )
    probe_rows = "\n  UNION ALL\n".join(
        f"  SELECT tok, {j} AS row,"
        f" {_sql_hex8(f'''md5(tok || '#{j}')''')} % {_CMS_WIDTH} AS bucket"
        f" FROM probes"
        for j in range(_CMS_DEPTH)
    )
    return f"""WITH toks AS (
  SELECT unnest({_TOKS.format(c="text")}) AS tok FROM documents
),
probes AS (SELECT unnest([{probe_list}]) AS tok),
cells AS (
{rows}
),
sketch AS (
  SELECT row, bucket, COUNT(*) AS cnt FROM cells GROUP BY row, bucket
),
probe_cells AS (
{probe_rows}
),
est AS (
  SELECT p.tok, MIN(COALESCE(s.cnt, 0)) AS est
  FROM probe_cells p
  LEFT JOIN sketch s ON s.row = p.row AND s.bucket = p.bucket
  GROUP BY p.tok
),
exact AS (
  SELECT tok, COUNT(*) AS exact FROM toks
  WHERE tok IN ({probe_list}) GROUP BY tok
)
SELECT e.tok, CAST(COALESCE(x.exact, 0) AS BIGINT) AS exact,
       CAST(e.est AS BIGINT) AS est
FROM est e LEFT JOIN exact x ON x.tok = e.tok"""


QUERIES["q_countmin"] = q_countmin
ORACLES["q_countmin"] = sql_countmin


_PMI_MIN_COUNT = 5
_PMI_TOPK = 50


def q_phrase_pmi(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """word2phrase collocations (operators/stats.phrase_pmi): integer
    PMI surrogate over corpus bigrams with >= _PMI_MIN_COUNT
    occurrences, top-_PMI_TOPK by (score_u DESC, gram ASC)."""
    from ..operators.stats import phrase_pmi

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return phrase_pmi(
        docs, min_count=_PMI_MIN_COUNT, topk=_PMI_TOPK
    )


def sql_phrase_pmi() -> str:
    toks = _TOKS.format(c="text")
    return f"""WITH toks AS (
  SELECT unnest({toks}) AS w FROM documents
),
uni AS (SELECT w, COUNT(*) AS n_w FROM toks GROUP BY w),
total AS (SELECT COUNT(*) AS n_tokens FROM toks),
t2 AS (SELECT {toks} AS t FROM documents),
bi AS (
  SELECT unnest(list_transform(range(0, len(t) - 1),
                i -> array_to_string(t[i + 1 : i + 2], ' '))) AS gram
  FROM t2 WHERE len(t) >= 2
),
bic AS (
  SELECT gram, COUNT(*) AS n_bigram FROM bi GROUP BY gram
  HAVING COUNT(*) >= {_PMI_MIN_COUNT}
),
scored AS (
  SELECT b.gram, CAST(b.n_bigram AS BIGINT) AS n_bigram,
         (b.n_bigram * (SELECT n_tokens FROM total) * 1000000)
           // (ua.n_w * ub.n_w) AS score_u
  FROM bic b
  JOIN uni ua ON ua.w = string_split(b.gram, ' ')[1]
  JOIN uni ub ON ub.w = string_split(b.gram, ' ')[2]
)
SELECT gram, n_bigram, CAST(score_u AS BIGINT) AS score_u
FROM scored
ORDER BY score_u DESC, gram ASC
LIMIT {_PMI_TOPK}"""


QUERIES["q_phrase_pmi"] = q_phrase_pmi
ORACLES["q_phrase_pmi"] = sql_phrase_pmi


# ---------------------------------------------------------------------------
# k-core, per-doc tf-idf terms, grouped KMV
# ---------------------------------------------------------------------------

_KC_K = 2
_KC_ORACLE_ROUNDS = 4  # synthetic peel depth is exactly 3 (chain length)


def q_kcore(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """k-core membership (operators/graph.kcore, parallel peeling to a
    checksummed fixpoint) on a synthetic graph with a known peel
    structure: a ring (every vertex degree 2 — the entire 2-core) plus
    a pendant 3-chain hanging off every 5th vertex (peels in exactly 3
    rounds, tail first). The oracle unrolls _KC_ORACLE_ROUNDS peeling
    rounds — one more than the construction's peel depth — so both
    engines reach the same fixpoint."""
    from ..operators.graph import kcore

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    n_df = ids.agg(F.count("*").alias("n"))
    base = ids.crossJoin(F.broadcast(n_df))
    ring = base.select(
        F.col("doc_id").alias("subj"),
        F.pmod(F.col("doc_id") + 1, F.col("n")).alias("obj"),
    )
    anchors = base.where(F.pmod(F.col("doc_id"), F.lit(5)) == 0).select(
        "doc_id", "n", F.expr("doc_id div 5").alias("j")
    )
    c0 = F.col("n") + F.col("j") * 3
    chains = (
        anchors.select(F.col("doc_id").alias("subj"), c0.alias("obj"))
        .unionAll(anchors.select(c0.alias("subj"), (c0 + 1).alias("obj")))
        .unionAll(
            anchors.select((c0 + 1).alias("subj"), (c0 + 2).alias("obj"))
        )
    )
    chain_nodes = anchors.select(
        F.explode(F.array(c0, c0 + 1, c0 + 2)).alias("node_id")
    )
    nodes = ids.select(F.col("doc_id").alias("node_id")).unionAll(chain_nodes)
    return kcore(
        nodes, ring.unionAll(chains), k=_KC_K, id_col="node_id"
    )


def sql_kcore() -> str:
    # each e{r} is referenced three times by round r+1 (twice via the
    # degree count, once as the join base): MATERIALIZED stops DuckDB
    # from inlining the chain, which otherwise explodes 3^rounds-fold
    rounds = []
    for r in range(1, _KC_ORACLE_ROUNDS + 1):
        rounds.append(f""",
d{r} AS MATERIALIZED (
  SELECT v, COUNT(*) AS deg FROM (
    SELECT a AS v FROM e{r - 1} UNION ALL SELECT b FROM e{r - 1}
  ) GROUP BY v
),
k{r} AS MATERIALIZED (SELECT v FROM d{r} WHERE deg >= {_KC_K}),
e{r} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{r - 1} e
  JOIN k{r} x ON x.v = e.a
  JOIN k{r} y ON y.v = e.b
)""")
    last = f"e{_KC_ORACLE_ROUNDS}"
    return f"""WITH n AS (SELECT COUNT(*) AS c FROM documents),
anchors AS (
  SELECT doc_id, doc_id // 5 AS j FROM documents WHERE doc_id % 5 = 0
),
nodes AS (
  SELECT doc_id AS node_id FROM documents
  UNION ALL
  SELECT (SELECT c FROM n) + j * 3 + o
  FROM anchors CROSS JOIN (SELECT unnest([0, 1, 2]) AS o)
),
raw AS (
  SELECT doc_id AS s, (doc_id + 1) % (SELECT c FROM n) AS o FROM documents
  UNION ALL
  SELECT doc_id, (SELECT c FROM n) + j * 3 FROM anchors
  UNION ALL
  SELECT (SELECT c FROM n) + j * 3, (SELECT c FROM n) + j * 3 + 1 FROM anchors
  UNION ALL
  SELECT (SELECT c FROM n) + j * 3 + 1, (SELECT c FROM n) + j * 3 + 2
  FROM anchors
),
e0 AS MATERIALIZED (
  SELECT DISTINCT least(s, o) AS a, greatest(s, o) AS b
  FROM raw WHERE s <> o
){''.join(rounds)},
core AS (
  SELECT DISTINCT v FROM (
    SELECT a AS v FROM {last} UNION ALL SELECT b FROM {last}
  )
)
SELECT nodes.node_id, core.v IS NOT NULL AS in_kcore
FROM nodes LEFT JOIN core ON core.v = nodes.node_id"""


QUERIES["q_kcore"] = q_kcore
ORACLES["q_kcore"] = sql_kcore


_TFIDF_TOPK = 3


def q_tfidf_terms(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-document tf-idf keywords (operators/search.tfidf_top_terms):
    integer rational-idf surrogate, top-3 terms per doc with a
    deterministic (score DESC, term ASC) cut."""
    from ..operators.search import tfidf_top_terms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tfidf_top_terms(docs, topk=_TFIDF_TOPK)


def sql_tfidf_terms() -> str:
    toks = _TOKS.format(c="text")
    return f"""WITH terms AS (
  SELECT doc_id, unnest({toks}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms
  WHERE term <> '' GROUP BY doc_id, term
),
dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * (((SELECT n_docs FROM nd) * 1000000) // dft.df) AS score_u
  FROM tf JOIN dft USING (term)
),
ranked AS (
  SELECT doc_id, term, CAST(score_u AS BIGINT) AS score_u,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY score_u DESC, term ASC
         ) AS BIGINT) AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= {_TFIDF_TOPK}"""


QUERIES["q_tfidf_terms"] = q_tfidf_terms
ORACLES["q_tfidf_terms"] = sql_tfidf_terms


_GKMV_K = 64


def q_group_kmv(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-group KMV distinct-count sketch (operators/sketch
    .grouped_kmv): distinct users per event type with bounded per-group
    state — the grouped twin of q_kmv_distinct."""
    from ..operators.sketch import grouped_kmv

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return grouped_kmv(events, "event_type", "user_id", k=_GKMV_K)


def sql_group_kmv() -> str:
    k = _GKMV_K
    nibbles = " + ".join(
        f"(strpos('0123456789abcdef', substr(kth, {i + 1}, 1)) - 1)"
        f" * {16 ** (11 - i)}.0"
        for i in range(12)
    )
    return f"""WITH hashed AS (
  SELECT DISTINCT event_type AS g, md5(CAST(user_id AS VARCHAR)) AS h
  FROM events
),
topk AS (
  SELECT g, h FROM (
    SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
    FROM hashed
  ) WHERE rn <= {k}
),
agg AS (SELECT g, COUNT(*) AS n_seen, MAX(h) AS kth FROM topk GROUP BY g)
SELECT g AS event_type, CAST(n_seen AS BIGINT) AS n_seen,
       CASE WHEN n_seen < {k} THEN CAST(n_seen AS BIGINT)
            ELSE CAST(floor(({k - 1}) /
                 (({nibbles}) / {float(16 ** 12)!r})) AS BIGINT)
       END AS ndv_estimate
FROM agg"""


QUERIES["q_group_kmv"] = q_group_kmv
ORACLES["q_group_kmv"] = sql_group_kmv


def q_countmin_stream(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Sketches under Structured Streaming: the count-min counter build
    (operators/sketch.count_min_build — plain select/explode/groupBy,
    so the same operator runs batch or streaming) as a stateful
    streaming aggregation over the events file source, availableNow,
    complete-mode memory sink. The state store is bounded at
    depth x width rows no matter how long the stream runs — the whole
    point of sketching a 10^12-event firehose — and md5 hashing makes
    the drained table exactly equal to the batch/DuckDB sketch."""
    import os
    import re
    import tempfile

    from ..operators.sketch import count_min_build

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    src_dir = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_cms_{tag}_{spark.sparkContext.applicationId}",
    )
    os.makedirs(src_dir, exist_ok=True)
    link = os.path.join(src_dir, "events.parquet")
    if os.path.lexists(link):
        os.unlink(link)
    os.symlink(path, link)
    src = spark.readStream.schema(schema).parquet(
        link if os.path.isdir(path) else src_dir
    )
    sketch = count_min_build(
        src.select(F.col("event_type").alias("tok")),
        "tok",
        depth=_CMS_DEPTH,
        width=_CMS_WIDTH,
    )
    _STREAM_SEQ[0] += 1
    name = f"countmin_stream_{_STREAM_SEQ[0]}"
    q = (
        sketch.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        F.col("row").cast("long").alias("row"),
        F.col("bucket").cast("long").alias("bucket"),
        F.col("cnt").cast("long").alias("cnt"),
    )


def sql_countmin_stream() -> str:
    rows = "\n  UNION ALL\n".join(
        f"  SELECT {j} AS row,"
        f" {_sql_hex8(f'''md5(event_type || '#{j}')''')} % {_CMS_WIDTH}"
        f" AS bucket FROM events"
        for j in range(_CMS_DEPTH)
    )
    return f"""WITH cells AS (
{rows}
)
SELECT CAST(row AS BIGINT) AS row, CAST(bucket AS BIGINT) AS bucket,
       COUNT(*) AS cnt
FROM cells GROUP BY row, bucket"""


QUERIES["q_countmin_stream"] = q_countmin_stream
ORACLES["q_countmin_stream"] = sql_countmin_stream


def q_compression_signal(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Compression-ratio quality signal (operators/stats
    .compression_signal) over the fixture pages' extracted text —
    repetitive/templated pages compress hard. The oracle runs the
    shared zlib kernel locally into golden VALUES (zlib is
    deterministic per level; SQL has none)."""
    from ..operators.stats import compression_signal

    pages = synthesize_oracle_pages(spark)
    return compression_signal(pages, id_col="url", text_col="text")


def sql_compression_signal() -> str:
    from ..functions.microdata import extract_text
    from ..functions.text import compress_ratio_u

    rows = []
    for f in FIXTURES:
        url = f"http://pages.example.org/{f.name}.html"
        n, c, r = compress_ratio_u(extract_text(f.html))
        rows.append(f"({_sql_str(url)}, {n}, {c}, {r})")
    values = ",\n".join(rows)
    return f"""SELECT CAST(id AS VARCHAR) AS id,
       CAST(n_bytes AS BIGINT) AS n_bytes,
       CAST(comp_bytes AS BIGINT) AS comp_bytes,
       CAST(ratio_u AS BIGINT) AS ratio_u
FROM (VALUES
{values}
) t(id, n_bytes, comp_bytes, ratio_u)"""


QUERIES["q_compression_signal"] = q_compression_signal
ORACLES["q_compression_signal"] = sql_compression_signal


# ---------------------------------------------------------------------------
# Semantic deduplication (SemDeDup)
# ---------------------------------------------------------------------------

def q_semantic_dedup(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """SemDeDup (operators/similarity.semantic_dedup): k-means-bucketed
    within-cluster near-duplicate removal over the embeddings table
    augmented with the same planted duplicates as q_embedding_near_dup
    (the raw table has no cos >= 0.95 pairs at any SF). The oracle
    replays the identical Lloyd rounds, integer argmin assignment, and
    double-cosine threshold."""
    from ..operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _assert_embedding_dim(emb)
    emb = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    noise = lit_array(_noise_vector(), "double")
    dups = emb.filter(F.col("vec_id") < _ND_NDUP).select(
        (F.col("vec_id") + _ND_ID_OFFSET).alias("vec_id"),
        F.zip_with("embedding", noise, lambda v, n: v + n).alias("embedding"),
    )
    aug = emb.unionByName(dups)
    return semantic_dedup(
        aug,
        threshold=_ND_THRESHOLD,
        n_centroids=_IVF_CENTROIDS,
        iterations=_IVF_KMEANS_ITER,
        cents_u=_cached_centroids(aug, (sf_dir, "nd_aug")),
    )


def sql_semantic_dedup() -> str:
    noise = "[" + ", ".join(repr(x) for x in _noise_vector()) + "]::DOUBLE[]"
    it = _IVF_KMEANS_ITER
    lloyd_ctes = _sql_lloyd_rounds(it)
    dot = _SQL_DOT.format(dim=_LSH_DIM, a="l.e", b="r.e")
    return f"""WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
noise(n) AS (VALUES ({noise})),
vecs AS (
  SELECT vec_id, e FROM base
  UNION ALL
  SELECT vec_id + {_ND_ID_OFFSET},
         list_transform(range(1, {_LSH_DIM} + 1), i -> e[i] + noise.n[i])
  FROM base CROSS JOIN noise WHERE vec_id < {_ND_NDUP}
),
vu AS (
  SELECT vec_id,
         list_transform(e, x -> CAST(floor(x * 1000000) AS BIGINT)) AS v
  FROM vecs
),
c0 AS (SELECT vec_id AS cid, v AS cv FROM vu WHERE vec_id < {_IVF_CENTROIDS}),
{lloyd_ctes},
distf AS (
  SELECT v.vec_id, c.cid,
         list_reduce(list_transform(range(1, 65),
           i -> (v.v[i] - c.cv[i]) * (v.v[i] - c.cv[i])), (a, b) -> a + b) AS d2
  FROM vu v CROSS JOIN c{it} c
),
asgf AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
    FROM distf) WHERE rn = 1
),
vv AS (
  SELECT a.vec_id, a.cid, vecs.e FROM asgf a JOIN vecs USING (vec_id)
),
dups AS (
  SELECT DISTINCT r.vec_id
  FROM vv l JOIN vv r ON l.cid = r.cid AND l.vec_id < r.vec_id
  WHERE round({dot} / ({_SQL_NORM.format(v="l.e")} * {_SQL_NORM.format(v="r.e")}), 6)
        >= {_ND_THRESHOLD}
)
SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cid,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM asgf a LEFT JOIN dups d USING (vec_id)"""


QUERIES["q_semantic_dedup"] = q_semantic_dedup
ORACLES["q_semantic_dedup"] = sql_semantic_dedup


# ---------------------------------------------------------------------------
# HITS hubs & authorities
# ---------------------------------------------------------------------------

_HITS_ITER = 2
_HITS_SCALE = 1_000_000


def q_hits(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Fixed-iteration integer HITS (operators/graph.hits) over the
    same deterministic synthetic web graph as q_pagerank (doc i ->
    (31i+7) mod n, plus (17i+3) mod n for every third doc). Each round
    max-normalizes with integer div, so the DuckDB oracle unrolls the
    identical rounds with ``//`` and matches bit-for-bit."""
    from ..operators.graph import hits

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    n_df = ids.agg(F.count("*").alias("n"))
    base = ids.crossJoin(F.broadcast(n_df))
    e1 = base.select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 31 + 7, F.col("n")).alias("dst"),
    )
    e2 = base.where(F.pmod(F.col("doc_id"), F.lit(3)) == 0).select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 17 + 3, F.col("n")).alias("dst"),
    )
    return hits(
        ids,
        e1.union(e2),
        id_col="doc_id",
        iterations=_HITS_ITER,
        scale=_HITS_SCALE,
    ).select(
        "doc_id",
        F.col("auth_u").cast("long").alias("auth_u"),
        F.col("hub_u").cast("long").alias("hub_u"),
    )


def sql_hits() -> str:
    s = _HITS_SCALE
    parts = [
        f"""WITH n AS (SELECT COUNT(*) AS c FROM documents),
ids AS (SELECT doc_id FROM documents),
e AS (
  SELECT doc_id AS src, (doc_id * 31 + 7) % (SELECT c FROM n) AS dst FROM ids
  UNION ALL
  SELECT doc_id, (doc_id * 17 + 3) % (SELECT c FROM n) FROM ids
  WHERE doc_id % 3 = 0
),
h0 AS (SELECT doc_id, CAST({s} AS BIGINT) AS hub_u FROM ids)"""
    ]
    for i in range(1, _HITS_ITER + 1):
        parts.append(
            f""",
ar{i} AS (
  SELECT e.dst AS doc_id, SUM(h.hub_u) AS raw
  FROM e JOIN h{i - 1} h ON h.doc_id = e.src GROUP BY e.dst
),
am{i} AS (SELECT GREATEST(MAX(raw), 1) AS mx FROM ar{i}),
a{i} AS (
  SELECT i.doc_id,
         (COALESCE(ar.raw, 0) * {s}) // (SELECT mx FROM am{i}) AS auth_u
  FROM ids i LEFT JOIN ar{i} ar ON ar.doc_id = i.doc_id
),
hr{i} AS (
  SELECT e.src AS doc_id, SUM(a.auth_u) AS raw
  FROM e JOIN a{i} a ON a.doc_id = e.dst GROUP BY e.src
),
hm{i} AS (SELECT GREATEST(MAX(raw), 1) AS mx FROM hr{i}),
h{i} AS (
  SELECT i.doc_id,
         (COALESCE(hr.raw, 0) * {s}) // (SELECT mx FROM hm{i}) AS hub_u
  FROM ids i LEFT JOIN hr{i} hr ON hr.doc_id = i.doc_id
)"""
        )
    parts.append(
        f"""
SELECT a.doc_id, CAST(a.auth_u AS BIGINT) AS auth_u,
       CAST(h.hub_u AS BIGINT) AS hub_u
FROM a{_HITS_ITER} a JOIN h{_HITS_ITER} h USING (doc_id)"""
    )
    return "".join(parts)


QUERIES["q_hits"] = q_hits
ORACLES["q_hits"] = sql_hits


# ---------------------------------------------------------------------------
# Stream-stream interval join (attribution)
# ---------------------------------------------------------------------------

_SSJ_LAG = "6 hours"
_SSJ_STATE_PARTS = 8
_SSJ_LAG_SQL = "INTERVAL 6 HOUR"


def q_stream_stream_join(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Click->purchase attribution as a REAL stream-stream interval
    join (streaming/stream.stream_stream_interval_join): one events
    file source split into two streaming branches, watermarks on both
    sides, time-range predicate bounding the state store, append-mode
    memory sink drained with availableNow. Inner-join matches emit
    without waiting for the watermark, so the drained table equals the
    batch join and the DuckDB oracle replays it exactly."""
    import os
    import re
    import tempfile

    from ..streaming.stream import stream_stream_interval_join

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    src_dir = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_ssj_{tag}_{spark.sparkContext.applicationId}",
    )
    os.makedirs(src_dir, exist_ok=True)
    link = os.path.join(src_dir, "events.parquet")
    if os.path.lexists(link):
        os.unlink(link)
    os.symlink(path, link)
    src = spark.readStream.schema(schema).parquet(src_dir)
    # watermarks require TIMESTAMP; the parquet reads as TIMESTAMP_NTZ
    # (session tz is UTC, so the cast is epoch-identical to DuckDB)
    src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = src.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "ts", "user_id"
    )
    purchases = src.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "ts", "user_id"
    )
    joined = stream_stream_interval_join(
        clicks, purchases, key_col="user_id", ts_col="ts", max_lag=_SSJ_LAG
    )
    _STREAM_SEQ[0] += 1
    name = f"stream_stream_join_{_STREAM_SEQ[0]}"
    # a stream-stream join keeps FOUR state stores per shuffle
    # partition; size the stateful shuffle to the key cardinality
    # instead of paying 64 empty stores at test scale (21 s -> 3 s
    # measured at sf0.1 — at production scale this is the same knob,
    # sized UP). Streaming picks the conf up at query start; restore
    # right after so batch plans keep the session default.
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_SSJ_STATE_PARTS))
    try:
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    q.awaitTermination()
    return spark.table(name).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("click_id").cast("long").alias("click_id"),
        F.col("purchase_id").cast("long").alias("purchase_id"),
        F.col("lag_s").cast("long").alias("lag_s"),
    )


def sql_stream_stream_join() -> str:
    return f"""SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       CAST(floor(epoch(p.ts)) - floor(epoch(c.ts)) AS BIGINT) AS lag_s
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + {_SSJ_LAG_SQL}"""


QUERIES["q_stream_stream_join"] = q_stream_stream_join
ORACLES["q_stream_stream_join"] = sql_stream_stream_join


# ---------------------------------------------------------------------------
# Windowed co-occurrence counts (GloVe input statistic)
# ---------------------------------------------------------------------------

_COOC_WINDOW = 2
_COOC_MIN = 2


def q_cooccurrence(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Corpus-global windowed token co-occurrence counts
    (operators/stats.cooccurrence_counts): scan-side shifted-zip pair
    generation, one map-side-combined shuffle. The oracle rebuilds the
    same pair multiset from positional unnest + a positions join."""
    from ..operators.stats import cooccurrence_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return cooccurrence_counts(
        docs, text_col="text", window=_COOC_WINDOW, min_count=_COOC_MIN
    )


def sql_cooccurrence() -> str:
    toks = _TOKS.format(c="text")
    return f"""WITH toks AS (SELECT doc_id, {toks} AS ts FROM documents),
pos AS (
  SELECT doc_id, (s).t AS t, (s).i AS i
  FROM (
    SELECT doc_id,
           unnest(list_transform(ts, (x, j) -> struct_pack(t := x, i := j))) AS s
    FROM toks
  )
),
pairs AS (
  SELECT least(p1.t, p2.t) AS t_a, greatest(p1.t, p2.t) AS t_b
  FROM pos p1 JOIN pos p2
    ON p1.doc_id = p2.doc_id AND p2.i > p1.i AND p2.i <= p1.i + {_COOC_WINDOW}
  WHERE p1.t <> '' AND p2.t <> ''
)
SELECT t_a, t_b, COUNT(*) AS n
FROM pairs GROUP BY 1, 2 HAVING COUNT(*) >= {_COOC_MIN}"""


QUERIES["q_cooccurrence"] = q_cooccurrence
ORACLES["q_cooccurrence"] = sql_cooccurrence


# ---------------------------------------------------------------------------
# Hashed linear classifier (fastText shape)
# ---------------------------------------------------------------------------

_LC_BUCKETS = 1024
_LC_THRESHOLD_U = 1_000_000_000
_LC_SCALE = 1_000_000
_LC_SEED = "linear-lr-v1"


def q_linear_classify(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """fastText-style hashed linear scoring (operators/classify
    .linear_classify): md5-bucketed bag-of-words, plan-time literal
    weight table, one map-side-combined shuffle. The oracle embeds the
    identical weight list and replays the integer mean."""
    from ..operators.classify import linear_classify

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return linear_classify(
        docs,
        n_buckets=_LC_BUCKETS,
        threshold_u=_LC_THRESHOLD_U,
        scale=_LC_SCALE,
        seed=_LC_SEED,
    )


def sql_linear_classify() -> str:
    from ..functions.lattice import linear_weights

    w = linear_weights(_LC_BUCKETS, _LC_SEED)
    wlist = "[" + ", ".join(str(x) for x in w) + "]"
    toks = _TOKS.format(c="text")
    bucket = f"{_sql_hex8('md5(t)')} % {_LC_BUCKETS}"
    return f"""WITH toks AS (
  SELECT doc_id, unnest({toks}) AS t FROM documents
),
tt AS (SELECT doc_id, t FROM toks WHERE t <> ''),
wt AS (
  SELECT doc_id, list_extract({wlist}, CAST({bucket} AS INTEGER) + 1) AS w
  FROM tt
),
agg AS (
  SELECT doc_id, (SUM(w) * {_LC_SCALE}) // COUNT(*) AS score_u FROM wt
  GROUP BY doc_id
)
SELECT d.doc_id AS id,
       CAST(COALESCE(a.score_u, 0) AS BIGINT) AS score_u,
       CAST(CASE WHEN COALESCE(a.score_u, 0) >= {_LC_THRESHOLD_U}
            THEN 1 ELSE 0 END AS BIGINT) AS label
FROM documents d LEFT JOIN agg a USING (doc_id)"""


QUERIES["q_linear_classify"] = q_linear_classify
ORACLES["q_linear_classify"] = sql_linear_classify


# ---------------------------------------------------------------------------
# Unigram LM rarity (CCNet/KenLM perplexity-filter surrogate)
# ---------------------------------------------------------------------------

_UR_SCALE = 1_000_000


def q_unigram_rarity(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-doc mean unigram surprisal surrogate
    (operators/stats.unigram_rarity): corpus unigram table + token
    join + integer mean; the oracle rebuilds the identical unigram LM
    and per-token floors."""
    from ..operators.stats import unigram_rarity

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return unigram_rarity(docs, scale=_UR_SCALE)


def sql_unigram_rarity() -> str:
    toks = _TOKS.format(c="text")
    return f"""WITH toks AS (
  SELECT doc_id, unnest({toks}) AS t FROM documents
),
tt AS (SELECT doc_id, t FROM toks WHERE t <> ''),
counts AS (SELECT t, COUNT(*) AS cnt FROM tt GROUP BY t),
total AS (SELECT SUM(cnt) AS total FROM counts),
scored AS (
  SELECT doc_id,
         SUM(((SELECT total FROM total) * {_UR_SCALE}) // cnt) AS sr,
         COUNT(*) AS n
  FROM tt JOIN counts USING (t) GROUP BY doc_id
)
SELECT d.doc_id AS id,
       CAST(COALESCE(s.n, 0) AS BIGINT) AS n_toks,
       CAST(COALESCE(s.sr // s.n, 0) AS BIGINT) AS rarity_u
FROM documents d LEFT JOIN scored s USING (doc_id)"""


QUERIES["q_unigram_rarity"] = q_unigram_rarity
ORACLES["q_unigram_rarity"] = sql_unigram_rarity


# ---------------------------------------------------------------------------
# Equi-depth range histogram (range-partition planning)
# ---------------------------------------------------------------------------

_RH_BINS = 8


def q_range_histogram(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Exact equi-depth histogram over events.value
    (operators/stats.range_histogram): the boundary/occupancy table a
    range partitioner plans a distributed sort with. The oracle
    replays ceil-rank boundary selection and the boundaries-<-v bin
    rule."""
    from ..operators.stats import range_histogram

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return range_histogram(events, value_col="value", n_bins=_RH_BINS)


def sql_range_histogram() -> str:
    nb = _RH_BINS
    return f"""WITH vu AS (
  SELECT CAST(floor(value * 1000000) AS BIGINT) AS v FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)
),
hist AS (SELECT v, COUNT(*) AS cnt FROM vu GROUP BY v),
cum AS (SELECT v, cnt, SUM(cnt) OVER (ORDER BY v) AS cum FROM hist),
total AS (SELECT SUM(cnt) AS n FROM hist),
ranks AS (
  SELECT i, (i * (SELECT n FROM total) + {nb - 1}) // {nb} AS r
  FROM range(1, {nb}) t(i)
),
bounds AS (
  SELECT i, MIN(v) AS b FROM ranks JOIN cum ON cum.cum >= ranks.r GROUP BY i
),
bl AS (SELECT list(b ORDER BY b) AS bl FROM bounds),
binned AS (
  SELECT len(list_filter((SELECT bl FROM bl), x -> v > x)) AS bin, v, cnt
  FROM hist
)
SELECT CAST(bin AS BIGINT) AS bin, CAST(SUM(cnt) AS BIGINT) AS n_rows,
       MIN(v) AS min_u, MAX(v) AS max_u
FROM binned GROUP BY bin"""


QUERIES["q_range_histogram"] = q_range_histogram
ORACLES["q_range_histogram"] = sql_range_histogram


# ---------------------------------------------------------------------------
# Funnel analysis (ordered stage completion)
# ---------------------------------------------------------------------------

_FUNNEL_STAGES = ("view", "click", "purchase")


def q_funnel(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """view -> click -> purchase funnel per user
    (operators/temporal.funnel_stages): earliest completion of each
    stage at-or-after the previous one, epoch-second longs, NULL once
    the funnel stalls. The oracle replays the staged min-joins."""
    from ..operators.temporal import funnel_stages

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return funnel_stages(events, _FUNNEL_STAGES)


def sql_funnel() -> str:
    s1, s2, s3 = _FUNNEL_STAGES
    return f"""WITH e AS (SELECT user_id AS k, ts, event_type AS et FROM events),
keys AS (SELECT DISTINCT k FROM e),
f1 AS (SELECT k, MIN(ts) AS t1 FROM e WHERE et = '{s1}' GROUP BY k),
f2 AS (
  SELECT e.k, MIN(e.ts) AS t2
  FROM e JOIN f1 ON f1.k = e.k AND e.ts >= f1.t1
  WHERE e.et = '{s2}' GROUP BY e.k
),
f3 AS (
  SELECT e.k, MIN(e.ts) AS t3
  FROM e JOIN f2 ON f2.k = e.k AND e.ts >= f2.t2
  WHERE e.et = '{s3}' GROUP BY e.k
)
SELECT keys.k AS user_id,
       CAST(floor(epoch(t1)) AS BIGINT) AS t1_s,
       CAST(floor(epoch(t2)) AS BIGINT) AS t2_s,
       CAST(floor(epoch(t3)) AS BIGINT) AS t3_s,
       CAST((CASE WHEN t1 IS NULL THEN 0 ELSE 1 END)
          + (CASE WHEN t2 IS NULL THEN 0 ELSE 1 END)
          + (CASE WHEN t3 IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS stage_reached
FROM keys
LEFT JOIN f1 USING (k) LEFT JOIN f2 USING (k) LEFT JOIN f3 USING (k)"""


QUERIES["q_funnel"] = q_funnel
ORACLES["q_funnel"] = sql_funnel


# ---------------------------------------------------------------------------
# Unicode script composition
# ---------------------------------------------------------------------------

def q_script_mix(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-doc script composition (operators/stats.script_mix) over a
    corpus deterministically augmented with Cyrillic / CJK tails on
    every third doc — so the non-Latin ranges are genuinely exercised
    and the oracle cross-checks Java-vs-RE2 Unicode-class behavior."""
    from ..operators.stats import script_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.pmod(d, 3) == 1, F.lit(" привет мир 123"))
            .when(F.pmod(d, 3) == 2, F.lit(" 你好世界"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return script_mix(aug)


def sql_script_mix() -> str:
    return """WITH aug AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 3 = 1 THEN ' привет мир 123'
                      WHEN doc_id % 3 = 2 THEN ' 你好世界'
                      ELSE '' END AS text
  FROM documents
),
counted AS (
  SELECT doc_id AS id, CAST(length(text) AS BIGINT) AS n_chars,
         len(regexp_extract_all(text, '[A-Za-z]')) AS lat,
         len(regexp_extract_all(text, '[\\x{0400}-\\x{04FF}]')) AS cyr,
         len(regexp_extract_all(text, '[\\x{4E00}-\\x{9FFF}]')) AS cjk,
         len(regexp_extract_all(text, '[0-9]')) AS dig
  FROM aug
)
SELECT id, n_chars,
       CAST(CASE WHEN n_chars > 0 THEN (lat * 1000000) // n_chars ELSE 0 END AS BIGINT) AS latin_u,
       CAST(CASE WHEN n_chars > 0 THEN (cyr * 1000000) // n_chars ELSE 0 END AS BIGINT) AS cyrillic_u,
       CAST(CASE WHEN n_chars > 0 THEN (cjk * 1000000) // n_chars ELSE 0 END AS BIGINT) AS cjk_u,
       CAST(CASE WHEN n_chars > 0 THEN (dig * 1000000) // n_chars ELSE 0 END AS BIGINT) AS digit_u
FROM counted"""


QUERIES["q_script_mix"] = q_script_mix
ORACLES["q_script_mix"] = sql_script_mix


# ---------------------------------------------------------------------------
# Join-key skew profile
# ---------------------------------------------------------------------------

_SKEW_TOPK = 10


def q_skew_profile(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Heavy-key diagnostic over events.user_id
    (operators/stats.skew_profile): top-10 keys by frequency with
    micro-unit corpus share — the pre-shuffle skew check."""
    from ..operators.stats import skew_profile

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return skew_profile(events, "user_id", topk=_SKEW_TOPK)


def sql_skew_profile() -> str:
    return f"""WITH counts AS (
  SELECT user_id AS key, COUNT(*) AS n FROM events
  WHERE user_id IS NOT NULL GROUP BY user_id
),
total AS (SELECT SUM(n) AS total FROM counts),
ranked AS (
  SELECT key, CAST(n AS BIGINT) AS n,
         CAST((n * 1000000) // (SELECT total FROM total) AS BIGINT) AS share_u,
         CAST(ROW_NUMBER() OVER (ORDER BY n DESC, key ASC) AS BIGINT) AS rank
  FROM counts
)
SELECT * FROM ranked WHERE rank <= {_SKEW_TOPK}"""


QUERIES["q_skew_profile"] = q_skew_profile
ORACLES["q_skew_profile"] = sql_skew_profile


# ---------------------------------------------------------------------------
# Corpus distribution drift (crawl-snapshot monitor)
# ---------------------------------------------------------------------------

_DRIFT_TOPK = 20


def q_corpus_drift(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Unigram L1 drift between two deterministic halves of the
    documents table (even vs odd doc_id — the same-shaped stand-in for
    two crawl snapshots): top-20 movers by absolute micro-unit share
    change (operators/stats.distribution_drift)."""
    from ..operators.stats import distribution_drift

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
    b = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
    return distribution_drift(a, b, topk=_DRIFT_TOPK)


def sql_corpus_drift() -> str:
    toks = _TOKS.format(c="text")
    return f"""WITH ta AS (
  SELECT unnest({toks}) AS t FROM documents WHERE doc_id % 2 = 0
),
tb AS (
  SELECT unnest({toks}) AS t FROM documents WHERE doc_id % 2 = 1
),
ca AS (SELECT t, COUNT(*) AS cnt_a FROM ta WHERE t <> '' GROUP BY t),
cb AS (SELECT t, COUNT(*) AS cnt_b FROM tb WHERE t <> '' GROUP BY t),
tot_a AS (SELECT GREATEST(COALESCE(SUM(cnt_a), 0), 1) AS total_a FROM ca),
tot_b AS (SELECT GREATEST(COALESCE(SUM(cnt_b), 0), 1) AS total_b FROM cb),
j AS (
  SELECT COALESCE(ca.t, cb.t) AS token,
         (COALESCE(cnt_a, 0) * 1000000) // (SELECT total_a FROM tot_a) AS p_u,
         (COALESCE(cnt_b, 0) * 1000000) // (SELECT total_b FROM tot_b) AS q_u
  FROM ca FULL OUTER JOIN cb ON ca.t = cb.t
),
ranked AS (
  SELECT token, CAST(p_u AS BIGINT) AS p_u, CAST(q_u AS BIGINT) AS q_u,
         CAST(abs(p_u - q_u) AS BIGINT) AS delta_u,
         CAST(ROW_NUMBER() OVER (ORDER BY abs(p_u - q_u) DESC, token ASC)
              AS BIGINT) AS rank
  FROM j
)
SELECT * FROM ranked WHERE rank <= {_DRIFT_TOPK}"""


QUERIES["q_corpus_drift"] = q_corpus_drift
ORACLES["q_corpus_drift"] = sql_corpus_drift


# ---------------------------------------------------------------------------
# OLAP rollup + pivot surfaces
# ---------------------------------------------------------------------------

def q_sales_rollup(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Nation x order-year revenue ROLLUP (nation subtotals + grand
    total in one pass): Spark's native rollup() multi-grouping-set
    aggregation over broadcast-dim joins, integer-cent money. The
    oracle is DuckDB GROUP BY ROLLUP with matching GROUPING flags
    (grouping-set NULLs are disambiguated from data NULLs by the
    flags, which the value-hash then covers)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    base = (
        orders.join(
            F.broadcast(cust),
            orders["o_custkey"] == cust["c_custkey"],
        )
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .select(
            "n_name",
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    return (
        base.rollup("n_name", "o_year")
        .agg(
            F.grouping("n_name").cast("long").alias("g_nation"),
            F.grouping("o_year").cast("long").alias("g_year"),
            F.count("*").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_c"),
        )
        .select(
            "n_name", "o_year", "g_nation", "g_year", "n_orders", "revenue_c"
        )
    )


def sql_sales_rollup() -> str:
    return """WITH base AS (
  SELECT n.n_name, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         CAST(floor(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT n_name, o_year,
       CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
       CAST(GROUPING(o_year) AS BIGINT) AS g_year,
       COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS revenue_c
FROM base GROUP BY ROLLUP(n_name, o_year)"""


QUERIES["q_sales_rollup"] = q_sales_rollup
ORACLES["q_sales_rollup"] = sql_sales_rollup


_PIVOT_TYPES = ("click", "error", "purchase", "signup", "view")


def q_event_pivot(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-user event-type matrix via Spark's native pivot with an
    EXPLICIT value list (the scale-correct form — no extra pass to
    discover values, fixed output schema): one shuffle, counts per
    type. Oracle: conditional aggregation."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        events.groupBy("user_id")
        .pivot("event_type", list(_PIVOT_TYPES))
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[
                F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
                for t in _PIVOT_TYPES
            ],
        )
    )


def sql_event_pivot() -> str:
    cols = ",\n       ".join(
        f"COUNT(*) FILTER (WHERE event_type = '{t}') AS n_{t}"
        for t in _PIVOT_TYPES
    )
    return f"""SELECT user_id,
       {cols}
FROM events GROUP BY user_id"""


QUERIES["q_event_pivot"] = q_event_pivot
ORACLES["q_event_pivot"] = sql_event_pivot


# ---------------------------------------------------------------------------
# Data layout: z-order file statistics + bloom pruning filter
# ---------------------------------------------------------------------------

_Z_BITS = 16
_Z_FILE_SHIFT = 8
_BLOOM_M = 4096
_BLOOM_K = 3


def q_zorder_layout(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Z-order clustering statistics (operators/layout.zorder_layout)
    over events keyed by (user_id, day number): the per-file min/max
    ranges a lakehouse OPTIMIZE ZORDER write would produce. The oracle
    replays the identical bit interleave in SQL."""
    from ..operators.layout import zorder_layout

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    keyed = events.select(
        F.col("user_id").cast("long").alias("uid"),
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
    )
    return zorder_layout(
        keyed, "uid", "day", bits=_Z_BITS, file_shift=_Z_FILE_SHIFT
    )


def _sql_zvalue(a: str, b: str, bits: int) -> str:
    parts = []
    for i in range(bits):
        parts.append(f"((({a} >> {i}) & 1) << {2 * i})")
        parts.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(parts)


def sql_zorder_layout() -> str:
    z = _sql_zvalue("uid", "day", _Z_BITS)
    return f"""WITH keyed AS (
  SELECT CAST(user_id AS BIGINT) AS uid,
         CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day
  FROM events
),
zd AS (SELECT uid, day, ({z}) >> {_Z_FILE_SHIFT} AS file_id FROM keyed)
SELECT CAST(file_id AS BIGINT) AS file_id, COUNT(*) AS n_rows,
       MIN(uid) AS min_a, MAX(uid) AS max_a,
       MIN(day) AS min_b, MAX(day) AS max_b
FROM zd GROUP BY file_id"""


QUERIES["q_zorder_layout"] = q_zorder_layout
ORACLES["q_zorder_layout"] = sql_zorder_layout


def q_bloom_build(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Portable Bloom pruning filter over events.user_id
    (operators/layout.bloom_build): k md5 positions per key, distinct
    — bounded at m rows, mergeable by UNION. The semi-join pushdown
    artifact for pre-filtering a 100 TB probe side."""
    from ..operators.layout import bloom_build

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return bloom_build(events, "user_id", m=_BLOOM_M, k=_BLOOM_K)


def sql_bloom_build() -> str:
    sels = "\n  UNION ALL\n".join(
        f"  SELECT {_sql_hex8(f'''md5(CAST(user_id AS VARCHAR) || '#{i}')''')}"
        f" % {_BLOOM_M} AS pos FROM events"
        for i in range(_BLOOM_K)
    )
    return f"""SELECT DISTINCT CAST(pos AS BIGINT) AS pos FROM (
{sels}
)"""


QUERIES["q_bloom_build"] = q_bloom_build
ORACLES["q_bloom_build"] = sql_bloom_build


# ---------------------------------------------------------------------------
# Personalized PageRank (seeded proximity)
# ---------------------------------------------------------------------------

_PPR_SEEDS = 10


def q_personalized_pagerank(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Personalized PageRank (operators/graph.personalized_pagerank)
    over the q_pagerank synthetic web graph with doc_id < 10 as the
    seed set — proximity-to-trusted-pages ranking, integer-exact, the
    oracle unrolls identical rounds."""
    from ..operators.graph import personalized_pagerank

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    n_df = ids.agg(F.count("*").alias("n"))
    base = ids.crossJoin(F.broadcast(n_df))
    e1 = base.select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 31 + 7, F.col("n")).alias("dst"),
    )
    e2 = base.where(F.pmod(F.col("doc_id"), F.lit(3)) == 0).select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 17 + 3, F.col("n")).alias("dst"),
    )
    seeds = ids.filter(F.col("doc_id") < _PPR_SEEDS)
    return personalized_pagerank(
        ids,
        e1.union(e2),
        seeds,
        id_col="doc_id",
        iterations=_PR_ITER,
        scale=_PR_SCALE,
        damping_u=_PR_DAMPING_U,
    )


def sql_personalized_pagerank() -> str:
    s, d = _PR_SCALE, _PR_DAMPING_U
    # ns = ACTUAL seed count (the operator divides by it), not the
    # literal cutoff — a corpus smaller than the cutoff has fewer seeds
    ns = "(SELECT COUNT(*) FROM ids WHERE is_seed = 1)"
    parts = [
        f"""WITH n AS (SELECT COUNT(*) AS c FROM documents),
ids AS (SELECT doc_id, CASE WHEN doc_id < {_PPR_SEEDS} THEN 1 ELSE 0 END AS is_seed
        FROM documents),
e AS (
  SELECT doc_id AS src, (doc_id * 31 + 7) % (SELECT c FROM n) AS dst FROM ids
  UNION ALL
  SELECT doc_id, (doc_id * 17 + 3) % (SELECT c FROM n) FROM ids
  WHERE doc_id % 3 = 0
),
od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
r0 AS (SELECT doc_id, CAST(is_seed * ({s} // {ns}) AS BIGINT) AS rank_u
       FROM ids)"""
    ]
    for i in range(1, _PR_ITER + 1):
        parts.append(
            f""",
m{i} AS (
  SELECT e.dst AS doc_id,
         CAST(SUM((r.rank_u * {d}) // (od.outdeg * {s})) AS BIGINT) AS contrib
  FROM e
  JOIN r{i - 1} r ON r.doc_id = e.src
  JOIN od ON od.src = e.src
  GROUP BY e.dst
),
r{i} AS (
  SELECT i.doc_id,
         i.is_seed * ({s - d} // {ns}) + COALESCE(m{i}.contrib, 0) AS rank_u
  FROM ids i LEFT JOIN m{i} ON m{i}.doc_id = i.doc_id
)"""
        )
    parts.append(
        f"\nSELECT doc_id, CAST(rank_u AS BIGINT) AS rank_u FROM r{_PR_ITER}"
    )
    return "".join(parts)


QUERIES["q_personalized_pagerank"] = q_personalized_pagerank
ORACLES["q_personalized_pagerank"] = sql_personalized_pagerank


# ---------------------------------------------------------------------------
# Directed shingle containment (partial-copy detection)
# ---------------------------------------------------------------------------

_CT_K = 3
_CT_THRESHOLD_U = 600_000
_CT_NQUOTE = 20
_CT_ID_OFFSET = 2_000_000
_CT_PRE = "intro section begins here "
_CT_POST = " closing remarks follow now"


def q_containment(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Directed containment pairs (operators/dedup.containment_pairs)
    over documents augmented with planted quote-docs (each of the
    first 20 docs embedded verbatim inside filler) — C(original in
    quote) = 1.0 while Jaccard stays low, which is exactly the case
    this operator exists for. Both engines build the augmented corpus
    identically."""
    from ..operators.dedup import containment_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    quotes = docs.filter(F.col("doc_id") < _CT_NQUOTE).select(
        (F.col("doc_id") + _CT_ID_OFFSET).alias("doc_id"),
        F.concat(F.lit(_CT_PRE), F.col("text"), F.lit(_CT_POST)).alias("text"),
    )
    aug = docs.unionByName(quotes)
    return containment_pairs(
        aug, k=_CT_K, threshold_u=_CT_THRESHOLD_U
    )


def sql_containment() -> str:
    toks = _TOKS.format(c="text")
    return f"""WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_CT_ID_OFFSET},
         '{_CT_PRE}' || text || '{_CT_POST}'
  FROM documents WHERE doc_id < {_CT_NQUOTE}
),
toks AS (SELECT doc_id, {toks} AS t FROM aug),
sh AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(t) >= {_CT_K}
                THEN list_transform(range(0, len(t) - {_CT_K - 1}),
                                    i -> array_to_string(t[i + 1 : i + {_CT_K}], ' '))
                ELSE [] END) AS sh
  FROM toks
),
sizes AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
inter AS (
  SELECT l.doc_id AS id_lo, r.doc_id AS id_hi, COUNT(*) AS n_inter
  FROM inv l JOIN inv r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY 1, 2
),
ws AS (
  SELECT i.id_lo, i.id_hi, i.n_inter, sa.n_sh AS n_lo, sb.n_sh AS n_hi
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_lo
  JOIN sizes sb ON sb.doc_id = i.id_hi
),
directed AS (
  SELECT id_lo AS doc_id_a, id_hi AS doc_id_b,
         (n_inter * 1000000) // n_lo AS containment_u
  FROM ws
  UNION ALL
  SELECT id_hi, id_lo, (n_inter * 1000000) // n_hi FROM ws
)
SELECT doc_id_a, doc_id_b, CAST(containment_u AS BIGINT) AS containment_u
FROM directed WHERE containment_u >= {_CT_THRESHOLD_U}"""


QUERIES["q_containment"] = q_containment
ORACLES["q_containment"] = sql_containment


def q_stream_static_join(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Streaming dimension enrichment: the events file stream joined
    against a STATIC broadcast dimension (user -> tier) before a
    stateful aggregation — the canonical stream-static join shape
    (dimension rides the plan as a broadcast; only the aggregation
    keeps state). Drained availableNow, complete mode, integer-exact
    sums; the oracle replays the same derived dimension in batch."""
    import os
    import re
    import tempfile

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    src_dir = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_ssd_{tag}_{spark.sparkContext.applicationId}",
    )
    os.makedirs(src_dir, exist_ok=True)
    link = os.path.join(src_dir, "events.parquet")
    if os.path.lexists(link):
        os.unlink(link)
    os.symlink(path, link)
    dim = (
        spark.read.parquet(path)
        .select("user_id")
        .distinct()
        .select("user_id", F.pmod(F.col("user_id"), F.lit(3)).alias("tier"))
    )
    src = spark.readStream.schema(schema).parquet(src_dir)
    agg = (
        src.join(F.broadcast(dim), "user_id")
        .groupBy("tier", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 1e6).cast("long")).alias(
                "sum_value_u"
            ),
        )
    )
    _STREAM_SEQ[0] += 1
    name = f"stream_static_join_{_STREAM_SEQ[0]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        F.col("tier").cast("long").alias("tier"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_value_u").cast("long").alias("sum_value_u"),
    )


def sql_stream_static_join() -> str:
    return """SELECT CAST(user_id % 3 AS BIGINT) AS tier, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS sum_value_u
FROM events GROUP BY 1, 2"""


QUERIES["q_stream_static_join"] = q_stream_static_join
ORACLES["q_stream_static_join"] = sql_stream_static_join


# ---------------------------------------------------------------------------
# Image near-dup (perceptual-hash Hamming pairs)
# ---------------------------------------------------------------------------

_PH_MAX_HAMMING = 10
_PH_MEDIA_N = 100


def q_image_near_dup(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Image near-duplicate pairs (operators/multimodal.phash_pairs)
    over the synthetic media corpus plus a perturbed copy of every
    image (shared builder media_rows_with_image_dups): REAL Arrow
    PPM decode -> 8x8 average-hash -> split-half XOR popcount pairs.
    Planted dups measure hamming <= 7, unrelated images >= 13, so the
    threshold 10 separates exactly. The oracle recomputes the phashes
    with the same local kernel and replays the SQL-side hamming."""
    from ..operators.multimodal import (
        MEDIA_SCHEMA,
        decode_image_features,
        media_rows_with_image_dups,
        phash_pairs,
    )

    media = spark.createDataFrame(
        media_rows_with_image_dups(_PH_MEDIA_N), schema=MEDIA_SCHEMA
    ).repartition(4)
    feats = decode_image_features(media.filter(F.col("kind") == "image"))
    return phash_pairs(feats, max_hamming=_PH_MAX_HAMMING)


def sql_image_near_dup() -> str:
    from ..operators.multimodal import (
        image_features_kernel,
        media_rows_with_image_dups,
    )

    rows = []
    for (mid, _url, kind, payload, _ct, _nb) in media_rows_with_image_dups(
        _PH_MEDIA_N
    ):
        if kind != "image":
            continue
        phash = image_features_kernel(payload)[3]
        rows.append(f"({mid}, '{phash}')")
    values = ",\n".join(rows)
    return f"""WITH ph(media_id, phash) AS (VALUES
{values}
),
h AS (
  SELECT media_id,
         {_sql_hex8("phash")} AS hi,
         {_sql_hex8("substr(phash, 9, 8)")} AS lo
  FROM ph
)
SELECT CAST(l.media_id AS BIGINT) AS media_id_a,
       CAST(r.media_id AS BIGINT) AS media_id_b,
       CAST(bit_count(xor(CAST(l.hi AS BIGINT), CAST(r.hi AS BIGINT)))
          + bit_count(xor(CAST(l.lo AS BIGINT), CAST(r.lo AS BIGINT)))
         AS BIGINT) AS hamming
FROM h l JOIN h r ON l.media_id < r.media_id
WHERE bit_count(xor(CAST(l.hi AS BIGINT), CAST(r.hi AS BIGINT)))
    + bit_count(xor(CAST(l.lo AS BIGINT), CAST(r.lo AS BIGINT)))
    <= {_PH_MAX_HAMMING}"""


QUERIES["q_image_near_dup"] = q_image_near_dup
ORACLES["q_image_near_dup"] = sql_image_near_dup


# ---------------------------------------------------------------------------
# wave 5: HyperLogLog, mergeable sketch union, BPE pair counts, BFS hops
# ---------------------------------------------------------------------------

_HLL_P = 8  # 256 registers
_HLL_POW2MAX = 2 ** 49  # absent-register contribution (12-nibble rho window)
_NIB = "strpos('0123456789abcdef', substr({e}, {i}, 1)) - 1"


def _sql_hexfrac12(expr: str) -> str:
    """First 12 hex nibbles of ``expr`` as an exact integer-valued
    double divided by 16^12 — the DuckDB twin of the KMV fraction."""
    nibbles = " + ".join(
        f"({_NIB.format(e=expr, i=i + 1)}) * {16 ** (11 - i)}.0"
        for i in range(12)
    )
    return f"(({nibbles}) / {float(16 ** 12)!r})"


def q_hll_distinct(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """HyperLogLog distinct-token estimate (operators/sketch.hll_build
    / hll_estimate): 256 integer registers from md5 nibble arithmetic
    (no floating log), harmonic denominator kept as an exact BIGINT
    sum of powers of two, one double division at the very end. The
    oracle rebuilds the identical registers, so the comparison is
    exact — unlike engine-native approx_count_distinct, whose HLL
    hashing differs per engine."""
    from ..functions.text import _tokens as _text_tokens
    from ..operators.sketch import hll_build, hll_estimate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        F.explode(_text_tokens(F.col("text"))).alias("t")
    ).filter(F.col("t") != "")
    return hll_estimate(hll_build(toks, "t", p=_HLL_P), p=_HLL_P)


def sql_hll_distinct() -> str:
    from ..operators.sketch import hll_alpha, hll_linear_table

    m = 2 ** _HLL_P
    alpha = hll_alpha(m)
    b_hi = _NIB.format(e="h", i=1)
    b_lo = _NIB.format(e="h", i=2)
    return f"""WITH toks AS (
  SELECT unnest({_TOKS.format(c="text")}) AS t FROM documents
),
d AS (SELECT DISTINCT t FROM toks WHERE t <> ''),
hx AS (SELECT md5(t) AS h FROM d),
rb AS (
  SELECT (({b_hi}) * 16 + ({b_lo})) AS bucket,
         length(regexp_extract(substr(h, 3, 12), '^0*')) AS z,
         h
  FROM hx
),
rho_t AS (
  SELECT bucket,
         CASE WHEN z = 12 THEN 49
              ELSE 4 * z
                 + (CASE WHEN v >= 8 THEN 0 WHEN v >= 4 THEN 1
                         WHEN v >= 2 THEN 2 ELSE 3 END)
                 + 1
         END AS rho
  FROM (SELECT bucket, z,
               strpos('0123456789abcdef', substr(h, 3 + z, 1)) - 1 AS v
        FROM rb)
),
reg AS (SELECT bucket, MAX(rho) AS max_rho FROM rho_t GROUP BY bucket),
s AS (
  SELECT COUNT(*) AS n_buckets,
         SUM(CAST(power(2.0, 49 - max_rho) AS BIGINT)) AS present_sum
  FROM reg
),
tot AS (
  SELECT n_buckets,
         CAST(COALESCE(present_sum, 0)
              + ({m} - n_buckets) * {_HLL_POW2MAX} AS BIGINT) AS scaled_sum
  FROM s
),
est AS (
  SELECT n_buckets, scaled_sum,
         CAST({m} - n_buckets AS BIGINT) AS n_zero,
         CAST(floor(CAST({alpha!r} AS DOUBLE)
              * CAST({float(m * m)!r} AS DOUBLE)
              * CAST({float(_HLL_POW2MAX)!r} AS DOUBLE)
              / CAST(scaled_sum AS DOUBLE)) AS BIGINT) AS raw_estimate
  FROM tot
)
SELECT CAST({m} AS BIGINT) AS m,
       n_zero,
       scaled_sum,
       raw_estimate,
       CASE WHEN n_buckets = 0 THEN CAST(0 AS BIGINT)
            WHEN n_zero > 0 AND raw_estimate <= {int(2.5 * m)}
              THEN CAST(list_extract({hll_linear_table(m)!r},
                                     CAST(n_zero AS INT)) AS BIGINT)
            ELSE raw_estimate
       END AS ndv_estimate
FROM est"""


QUERIES["q_hll_distinct"] = q_hll_distinct
ORACLES["q_hll_distinct"] = sql_hll_distinct


_SKU_K = 64


def q_sketch_union(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Mergeable-sketch demonstration (operators/sketch.kmv_sketch /
    kmv_merge / kmv_ndv): the corpus is split into two shards
    (doc_id % 2), a KMV token sketch is built per shard, and the UNION
    sketch is derived purely from the two shard sketches — the old
    shards are never re-scanned, which is the property that lets a
    100 TB corpus keep per-shard sketches and answer cross-corpus
    cardinality questions from kilobytes. Four rows: shard_a, shard_b,
    union, and the inclusion-exclusion intersection estimate."""
    from ..functions.text import _tokens as _text_tokens
    from ..operators.sketch import kmv_merge, kmv_ndv, kmv_sketch

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        F.pmod(F.col("doc_id"), F.lit(2)).alias("shard"),
        F.explode(_text_tokens(F.col("text"))).alias("t"),
    ).filter(F.col("t") != "")
    a = kmv_sketch(toks.where(F.col("shard") == 0), "t", k=_SKU_K)
    b = kmv_sketch(toks.where(F.col("shard") == 1), "t", k=_SKU_K)
    u = kmv_merge(a, b, k=_SKU_K)
    ea = kmv_ndv(a, k=_SKU_K).select(
        F.lit("shard_a").alias("side"), "n_seen", "ndv_estimate"
    )
    eb = kmv_ndv(b, k=_SKU_K).select(
        F.lit("shard_b").alias("side"), "n_seen", "ndv_estimate"
    )
    eu = kmv_ndv(u, k=_SKU_K).select(
        F.lit("union").alias("side"), "n_seen", "ndv_estimate"
    )
    inter = (
        ea.select(F.col("ndv_estimate").alias("na"))
        .crossJoin(eb.select(F.col("ndv_estimate").alias("nb")))
        .crossJoin(eu.select(F.col("ndv_estimate").alias("nu")))
        .select(
            F.lit("intersection").alias("side"),
            F.lit(0).cast("long").alias("n_seen"),
            F.greatest(
                F.lit(0).cast("long"),
                (F.col("na") + F.col("nb") - F.col("nu")).cast("long"),
            ).alias("ndv_estimate"),
        )
    )
    return ea.unionByName(eb).unionByName(eu).unionByName(inter)


def sql_sketch_union() -> str:
    k = _SKU_K
    frac = _sql_hexfrac12("kth")

    def est_cte(name: str, src: str) -> str:
        return f"""{name} AS (
  SELECT COUNT(*) AS n_seen, MAX(h) AS kth FROM {src}
),
{name}_e AS (
  SELECT CAST(n_seen AS BIGINT) AS n_seen,
         CASE WHEN n_seen < {k} THEN CAST(n_seen AS BIGINT)
              ELSE CAST(floor(({k - 1}) / {frac}) AS BIGINT)
         END AS ndv_estimate
  FROM {name}
)"""

    return f"""WITH toks AS (
  SELECT doc_id % 2 AS shard, unnest({_TOKS.format(c="text")}) AS t
  FROM documents
),
ha AS (SELECT DISTINCT md5(t) AS h FROM toks WHERE shard = 0 AND t <> ''),
hb AS (SELECT DISTINCT md5(t) AS h FROM toks WHERE shard = 1 AND t <> ''),
ta AS (SELECT h FROM ha ORDER BY h LIMIT {k}),
tb AS (SELECT h FROM hb ORDER BY h LIMIT {k}),
tu AS (SELECT h FROM (SELECT h FROM ta UNION SELECT h FROM tb)
       ORDER BY h LIMIT {k}),
{est_cte("sa", "ta")},
{est_cte("sb", "tb")},
{est_cte("su", "tu")}
SELECT 'shard_a' AS side, n_seen, ndv_estimate FROM sa_e
UNION ALL
SELECT 'shard_b', n_seen, ndv_estimate FROM sb_e
UNION ALL
SELECT 'union', n_seen, ndv_estimate FROM su_e
UNION ALL
SELECT 'intersection', CAST(0 AS BIGINT),
       GREATEST(CAST(0 AS BIGINT),
                CAST((SELECT ndv_estimate FROM sa_e)
                   + (SELECT ndv_estimate FROM sb_e)
                   - (SELECT ndv_estimate FROM su_e) AS BIGINT))"""


QUERIES["q_sketch_union"] = q_sketch_union
ORACLES["q_sketch_union"] = sql_sketch_union


_BPE_TOP = 50


def q_bpe_pairs(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """BPE training round one (operators/bpe.bpe_pair_counts): corpus
    collapses to its vocabulary FIRST (the 100 TB reduction), then
    char-bigram pair counts weighted by word frequency, top-50 via
    TakeOrderedAndProject with a deterministic tie-break."""
    from ..operators.bpe import bpe_pair_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_pair_counts(docs, text_col="text", top_n=_BPE_TOP)


def sql_bpe_pairs() -> str:
    return f"""WITH toks AS (
  SELECT unnest({_TOKS.format(c="text")}) AS w FROM documents
),
vocab AS (
  SELECT w, COUNT(*) AS wc FROM toks WHERE w <> '' GROUP BY w
),
pairs AS (
  SELECT unnest(list_transform(range(1, length(w)),
                               i -> substr(w, i::INT, 2))) AS pair,
         wc
  FROM vocab WHERE length(w) >= 2
)
SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt
FROM pairs GROUP BY pair
ORDER BY cnt DESC, pair ASC LIMIT {_BPE_TOP}"""


QUERIES["q_bpe_pairs"] = q_bpe_pairs
ORACLES["q_bpe_pairs"] = sql_bpe_pairs


_BFS_HOPS = 4
_BFS_SEED_MOD = 101


def q_bfs_hops(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Multi-source BFS link distance (operators/graph.bfs_hops) over
    the same deterministic synthetic web graph as q_pagerank
    (doc -> (31*doc+7) mod n, plus (17*doc+3) mod n for every third
    doc), seeds = doc_id % 101 == 0, bounded at 4 hops. Fixed hop
    count so the oracle unrolls the identical rounds as CTEs."""
    from ..operators.graph import bfs_hops

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    n_df = ids.agg(F.count("*").alias("n"))
    base = ids.crossJoin(F.broadcast(n_df))
    e1 = base.select(
        F.col("doc_id").alias("subj"),
        F.pmod(F.col("doc_id") * 31 + 7, F.col("n")).alias("obj"),
    )
    e2 = base.where(F.pmod(F.col("doc_id"), F.lit(3)) == 0).select(
        F.col("doc_id").alias("subj"),
        F.pmod(F.col("doc_id") * 17 + 3, F.col("n")).alias("obj"),
    )
    seeds = ids.where(F.pmod(F.col("doc_id"), F.lit(_BFS_SEED_MOD)) == 0)
    out = bfs_hops(
        e1.union(e2), seeds, id_col="doc_id", max_hops=_BFS_HOPS
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("dist").cast("long").alias("dist"),
    )


def sql_bfs_hops() -> str:
    parts = [
        f"""WITH n AS (SELECT COUNT(*) AS c FROM documents),
ids AS (SELECT doc_id FROM documents),
e AS (
  SELECT doc_id AS subj, (doc_id * 31 + 7) % (SELECT c FROM n) AS obj FROM ids
  UNION ALL
  SELECT doc_id, (doc_id * 17 + 3) % (SELECT c FROM n) FROM ids
  WHERE doc_id % 3 = 0
),
d0 AS (
  SELECT doc_id, CAST(0 AS BIGINT) AS dist FROM ids
  WHERE doc_id % {_BFS_SEED_MOD} = 0
)"""
    ]
    for i in range(1, _BFS_HOPS + 1):
        parts.append(
            f""",
d{i} AS (
  SELECT doc_id, MIN(dist) AS dist FROM (
    SELECT doc_id, dist FROM d{i - 1}
    UNION ALL
    SELECT e.obj AS doc_id, d.dist + 1 FROM d{i - 1} d
    JOIN e ON e.subj = d.doc_id
  ) GROUP BY doc_id
)"""
        )
    parts.append(
        f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(dist AS BIGINT) AS dist
FROM d{_BFS_HOPS}"""
    )
    return "".join(parts)


QUERIES["q_bfs_hops"] = q_bfs_hops
ORACLES["q_bfs_hops"] = sql_bfs_hops


# ---------------------------------------------------------------------------
# wave 6: KG class-property profiling, cohort retention
# ---------------------------------------------------------------------------

def q_type_property_matrix(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """KG class x property usage matrix: for every (itemtype class,
    property) pair, how many typed items use the property and how many
    triples it carries — the schema.org co-occurrence census that
    tells a KG builder which class-scoped joins are dense. Shape:
    rdf:type triples self-joined to property triples on the
    (skolemized, globally unique) subject, then one groupBy with
    partial aggregation. Complements q_triples_vocab, which profiles
    predicates WITHOUT the class dimension."""
    from ..operators.linking import RDF_TYPE

    pages = synthesize_oracle_pages(spark)
    triples = dedup_triples(skolemize(extract_triples(pages)), per_graph=True)
    typed = triples.where(F.col("pred") == RDF_TYPE).select(
        "subj", F.col("obj").alias("cls")
    )
    props = triples.where(F.col("pred") != RDF_TYPE).select("subj", "pred")
    return (
        typed.join(props, "subj")
        .groupBy("cls", "pred")
        .agg(
            F.count("*").alias("n_triples"),
            F.countDistinct("subj").alias("n_items"),
        )
    )


def sql_type_property_matrix() -> str:
    from ..operators.linking import RDF_TYPE

    return f"""WITH {_golden_skolemized_cte()},
typed AS (
  SELECT subj, obj AS cls FROM golden WHERE pred = '{RDF_TYPE}'
),
props AS (
  SELECT subj, pred FROM golden WHERE pred <> '{RDF_TYPE}'
)
SELECT t.cls, p.pred,
       COUNT(*) AS n_triples,
       COUNT(DISTINCT t.subj) AS n_items
FROM typed t JOIN props p ON t.subj = p.subj
GROUP BY 1, 2"""


QUERIES["q_type_property_matrix"] = q_type_property_matrix
ORACLES["q_type_property_matrix"] = sql_type_property_matrix


_WEEK_S = 604_800


def q_cohort_retention(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Cohort retention matrix over the events stream: users cohorted
    by their first-seen epoch week, counted in every later week they
    return — (cohort_week, week_offset, n_users). Weeks are integer
    epoch buckets (unix div 604800), not calendar truncation, so both
    engines bucket identically. Shape: distinct (user, week) -> min
    window per user -> one groupBy; two map-side-combined shuffles on
    user_id then (cohort, offset)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    uw = events.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / F.lit(_WEEK_S)).alias("week"),
    ).distinct()
    cohort = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        uw.join(cohort, "user_id")
        .groupBy(
            F.col("cohort_week").cast("long").alias("cohort_week"),
            (F.col("week") - F.col("cohort_week")).cast("long").alias(
                "week_offset"
            ),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def sql_cohort_retention() -> str:
    return f"""WITH uw AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts) / {_WEEK_S}) AS BIGINT) AS week
  FROM events
),
cohort AS (
  SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY user_id
)
SELECT c.cohort_week,
       u.week - c.cohort_week AS week_offset,
       COUNT(DISTINCT u.user_id) AS n_users
FROM uw u JOIN cohort c ON u.user_id = c.user_id
GROUP BY 1, 2"""


QUERIES["q_cohort_retention"] = q_cohort_retention
ORACLES["q_cohort_retention"] = sql_cohort_retention


_CDC_W = 8
_CDC_D = 64


def q_cdc_chunks(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Content-defined chunk dedup (operators/dedup.cdc_chunks): cut
    documents at local rolling-hash boundaries (LBFS/rsync scheme),
    then count each chunk's corpus-wide reuse — the storage-layer
    chunk table that makes re-crawled pages dedup against their
    previous snapshot even after insertions shift every byte offset.
    Output: duplicated chunks only (chunk_hash, chunk_len, n_docs,
    n_occurrences). One shuffle after the scan-side chunking."""
    from ..operators.dedup import cdc_chunks

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ch = cdc_chunks(docs, window=_CDC_W, divisor=_CDC_D)
    return (
        ch.groupBy("chunk_hash")
        .agg(
            F.max("chunk_len").alias("chunk_len"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .where(F.col("n_occurrences") > 1)
    )


def sql_cdc_dup_chunks() -> str:
    from ..operators.dedup import _WIN_B, _WIN_M

    norm = _NORM.format(c="text")
    w, d = _CDC_W, _CDC_D
    poly = " + ".join(
        f"cp[CAST(i + {j} AS INT)] * {_WIN_B ** (w - 1 - j)}"
        for j in range(w)
    )
    return f"""WITH n AS (
  SELECT doc_id, {norm} AS txt FROM documents
),
cpt AS (
  SELECT doc_id, txt, length(txt) - {w - 1} AS ng,
         list_transform(range(1, length(txt) + 1), i ->
           CAST(ord(substr(txt, CAST(i AS INT), 1)) % 256 AS BIGINT)) AS cp
  FROM n
),
grams AS (
  SELECT doc_id, txt,
         CASE WHEN ng >= 1
              THEN list_transform(range(1, ng + 1), i ->
                     ({poly}) % {_WIN_M})
              ELSE CAST([] AS BIGINT[])
         END AS h
  FROM cpt
),
bounds AS (
  SELECT doc_id, txt,
         list_concat(list_concat(
           [CAST(0 AS BIGINT)],
           list_transform(
             list_filter(range(1, len(h) + 1),
                         i -> h[CAST(i AS INT)] % {d} = 0
                              AND i + {w - 1} < length(txt)),
             i -> CAST(i + {w - 1} AS BIGINT))),
           [CAST(length(txt) AS BIGINT)]) AS b
  FROM grams
),
chunks AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(b)), j ->
           substr(txt, CAST(b[CAST(j AS INT)] + 1 AS INT),
                  CAST(b[CAST(j + 1 AS INT)] - b[CAST(j AS INT)] AS INT))))
           AS chunk
  FROM bounds
),
nonempty AS (SELECT doc_id, chunk FROM chunks WHERE length(chunk) > 0)
SELECT md5(chunk) AS chunk_hash,
       CAST(MAX(length(chunk)) AS BIGINT) AS chunk_len,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_occurrences
FROM nonempty
GROUP BY 1
HAVING COUNT(*) > 1"""


QUERIES["q_cdc_chunks"] = q_cdc_chunks
ORACLES["q_cdc_chunks"] = sql_cdc_dup_chunks


# ---------------------------------------------------------------------------
# KG consumption: BGP path join + sameAs closure rewrite
# ---------------------------------------------------------------------------

_KG_ENT = "http://ex.org/e/"
_KG_ORG = "http://ex.org/org/"
_KG_KNOWS = "http://ex.org/knows"
_KG_WORKSFOR = "http://ex.org/worksFor"


def _kg_synth_base(spark: "SparkSession", sf_dir: str):
    """(ids, base) frames for the deterministic synthetic KG: entity i
    per document row, `n` broadcast-joined on so modular edge targets
    are expressible scan-side (same shape as q_graph_triangles)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.select(F.col("doc_id").cast("long").alias("i"))
    n_df = ids.agg(F.count("*").alias("n"))
    return ids, ids.crossJoin(F.broadcast(n_df))


def _kg_ent(col):
    return F.concat(F.lit(_KG_ENT), col.cast("string"))


def q_path_2hop(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """2-hop basic-graph-pattern join — the canonical SPARQL shape
    `?a knows ?b . ?b worksFor ?org` — over a deterministic synthetic
    KG (knows: i -> (7i+3) mod n and i -> (i+13) mod n; worksFor:
    i -> org(i mod 37)). Per org: path count + distinct start
    entities.

    Plan shape: the triple frame is a 3-branch union with
    constant-literal predicates, so the `pred =` filters constant-fold
    per branch and PruneFilters drops the non-matching branches before
    the join — each hop reads only its own edges (the union is never
    materialized). The hop join shuffles once on the shared entity
    IRI; the count-distinct runs as Spark's two-phase expand. At crawl
    scale this is the workload KG canonicalization exists to serve:
    entity-key joins stay hash-partitionable, no driver state."""
    ids, base = _kg_synth_base(spark, sf_dir)
    k1 = F.pmod(F.col("i") * 7 + 3, F.col("n"))
    k2 = F.pmod(F.col("i") + 13, F.col("n"))
    knows1 = base.where(k1 != F.col("i")).select(
        _kg_ent(F.col("i")).alias("subj"),
        F.lit(_KG_KNOWS).alias("pred"),
        _kg_ent(k1).alias("obj"),
    )
    knows2 = base.where(k2 != F.col("i")).select(
        _kg_ent(F.col("i")).alias("subj"),
        F.lit(_KG_KNOWS).alias("pred"),
        _kg_ent(k2).alias("obj"),
    )
    works = ids.select(
        _kg_ent(F.col("i")).alias("subj"),
        F.lit(_KG_WORKSFOR).alias("pred"),
        F.concat(
            F.lit(_KG_ORG), (F.col("i") % 37).cast("string")
        ).alias("obj"),
    )
    triples = knows1.unionByName(knows2).unionByName(works)
    hop1 = triples.where(F.col("pred") == _KG_KNOWS).select(
        F.col("subj").alias("a"), F.col("obj").alias("b")
    )
    hop2 = triples.where(F.col("pred") == _KG_WORKSFOR).select(
        F.col("subj").alias("b"), F.col("obj").alias("org")
    )
    return (
        hop1.join(hop2, "b")
        .groupBy("org")
        .agg(
            F.count("*").alias("n_paths"),
            F.countDistinct("a").alias("n_people"),
        )
    )


def sql_path_2hop() -> str:
    return f"""WITH n AS (SELECT COUNT(*) AS c FROM documents),
ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
knows AS (
  SELECT '{_KG_ENT}' || i AS a,
         '{_KG_ENT}' || ((i * 7 + 3) % (SELECT c FROM n)) AS b
  FROM ids WHERE (i * 7 + 3) % (SELECT c FROM n) <> i
  UNION ALL
  SELECT '{_KG_ENT}' || i, '{_KG_ENT}' || ((i + 13) % (SELECT c FROM n))
  FROM ids WHERE (i + 13) % (SELECT c FROM n) <> i
),
works AS (
  SELECT '{_KG_ENT}' || i AS b, '{_KG_ORG}' || (i % 37) AS org FROM ids
)
SELECT w.org AS org, COUNT(*) AS n_paths,
       COUNT(DISTINCT k.a) AS n_people
FROM knows k JOIN works w ON w.b = k.b
GROUP BY w.org"""


QUERIES["q_path_2hop"] = q_path_2hop
ORACLES["q_path_2hop"] = sql_path_2hop


def q_sameas_rewrite(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """owl:sameAs-style entity canonicalization: transitive closure of
    an equivalence edge set (connected_components, large-star/
    small-star — the same operator the dedup family uses), then every
    fact triple is rewritten subj/obj -> component minimum and the
    collapsed duplicates are counted. This is the KG-construction step
    that merges per-page entity nodes into one canonical node after
    cross-page linking.

    Synthetic equivalences need a genuinely TRANSITIVE case so a
    one-hop rewrite would be wrong: triads {3k, 3k+1, 3k+2} (i sameAs
    i - i mod 3) plus a bridge 30k sameAs 30k+3 merging two adjacent
    triads — entity 30k+5 reaches its canonical 30k only through two
    hops. Scale shape: closure is O(log n) component rounds (two
    shuffles per round), the rewrite is two hash joins against the
    (entity -> canonical) map, and nothing touches the driver beyond
    the components fixpoint checksum."""
    from ..operators.graph import connected_components

    ids, base = _kg_synth_base(spark, sf_dir)
    nodes = ids.select(_kg_ent(F.col("i")).alias("iri"))
    sa1 = ids.where(F.col("i") % 3 != 0).select(
        _kg_ent(F.col("i")).alias("subj"),
        _kg_ent(F.col("i") - F.col("i") % 3).alias("obj"),
    )
    sa2 = base.where(
        (F.col("i") % 30 == 0) & (F.col("i") + 3 < F.col("n"))
    ).select(
        _kg_ent(F.col("i")).alias("subj"),
        _kg_ent(F.col("i") + 3).alias("obj"),
    )
    comp = connected_components(nodes, sa1.unionByName(sa2))
    works = ids.select(
        _kg_ent(F.col("i")).alias("subj"),
        F.lit(_KG_WORKSFOR).alias("pred"),
        F.concat(
            F.lit(_KG_ORG), (F.col("i") % 37).cast("string")
        ).alias("obj"),
    )
    kt = F.pmod(F.col("i") * 7 + 3, F.col("n"))
    knows = base.where(kt != F.col("i")).select(
        _kg_ent(F.col("i")).alias("subj"),
        F.lit(_KG_KNOWS).alias("pred"),
        _kg_ent(kt).alias("obj"),
    )
    facts = works.unionByName(knows)
    cs = comp.select(
        F.col("iri").alias("subj"), F.col("comp").alias("subj_c")
    )
    co = comp.select(
        F.col("iri").alias("obj"), F.col("comp").alias("obj_c")
    )
    rewritten = (
        facts.join(cs, "subj", "left")
        .join(co, "obj", "left")
        .select(
            F.coalesce("subj_c", F.col("subj")).alias("subj"),
            F.col("pred"),
            F.coalesce("obj_c", F.col("obj")).alias("obj"),
        )
    )
    return rewritten.groupBy("subj", "pred", "obj").agg(
        F.count("*").alias("n_sources")
    )


def sql_sameas_rewrite() -> str:
    return f"""WITH RECURSIVE n AS (SELECT COUNT(*) AS c FROM documents),
ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
ent AS (SELECT '{_KG_ENT}' || i AS iri, i FROM ids),
sa AS (
  SELECT '{_KG_ENT}' || i AS a, '{_KG_ENT}' || (i - i % 3) AS b
  FROM ids WHERE i % 3 <> 0
  UNION ALL
  SELECT '{_KG_ENT}' || i, '{_KG_ENT}' || (i + 3)
  FROM ids WHERE i % 30 = 0 AND i + 3 < (SELECT c FROM n)
),
und AS (SELECT a, b FROM sa UNION SELECT b, a FROM sa),
reach(a, b) AS (
  SELECT iri, iri FROM ent
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
),
comp AS (SELECT a AS iri, MIN(b) AS comp FROM reach GROUP BY a),
facts AS (
  SELECT '{_KG_ENT}' || i AS subj, '{_KG_WORKSFOR}' AS pred,
         '{_KG_ORG}' || (i % 37) AS obj
  FROM ids
  UNION ALL
  SELECT '{_KG_ENT}' || i, '{_KG_KNOWS}',
         '{_KG_ENT}' || ((i * 7 + 3) % (SELECT c FROM n))
  FROM ids WHERE (i * 7 + 3) % (SELECT c FROM n) <> i
),
rw AS (
  SELECT COALESCE(cs.comp, f.subj) AS subj, f.pred,
         COALESCE(co.comp, f.obj) AS obj
  FROM facts f
  LEFT JOIN comp cs ON cs.iri = f.subj
  LEFT JOIN comp co ON co.iri = f.obj
)
SELECT subj, pred, obj, COUNT(*) AS n_sources
FROM rw GROUP BY subj, pred, obj"""


QUERIES["q_sameas_rewrite"] = q_sameas_rewrite
ORACLES["q_sameas_rewrite"] = sql_sameas_rewrite


# ---------------------------------------------------------------------------
# KG schema inference & validation (wave 7): star BGP pivot, RDFS
# closure/inference, functional-property conflicts, SHACL minCount,
# entity cards. Downstream consumers of the parser's rdf:type output
# (MicrodataRdfParser.ts itemtype emission) run exactly these shapes.
# ---------------------------------------------------------------------------

_KG_NAME = "http://ex.org/name"
_KG_LOCATEDIN = "http://ex.org/locatedIn"
_KG_CITY = "http://ex.org/city/"
_KG_CLS = "http://ex.org/c/"
_KG_PERSON = "http://ex.org/c/Person"
_KG_ORGCLS = "http://ex.org/c/Organization"
_KG_CITYCLS = "http://ex.org/c/City"
_KG_BIRTHYEAR = "http://ex.org/birthYear"


def _kg_works(ids):
    return ids.select(
        _kg_ent(F.col("i")).alias("subj"),
        F.lit(_KG_WORKSFOR).alias("pred"),
        F.concat(F.lit(_KG_ORG), (F.col("i") % 37).cast("string")).alias(
            "obj"
        ),
    )


def _kg_knows(base):
    kt = F.pmod(F.col("i") * 7 + 3, F.col("n"))
    return base.where(kt != F.col("i")).select(
        _kg_ent(F.col("i")).alias("subj"),
        F.lit(_KG_KNOWS).alias("pred"),
        _kg_ent(kt).alias("obj"),
    )


def q_star_bgp_pivot(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Star-shaped BGP `?e worksFor ?o . ?e name ?nm . ?e knows ?f`
    evaluated as ONE pivot aggregation instead of k-1 self-joins: the
    triple table is grouped once on subject and each pattern arm
    becomes max(when(pred = p, obj)). At crawl scale this is the
    decisive plan choice — a k-arm star as self-joins shuffles the
    full fact table k-1 times and re-skews on every popular entity,
    while the pivot is a single partially-aggregated shuffle (the
    max(when) combiners collapse per-partition before exchange).
    `name` is missing for i % 11 == 0 and `knows` for the rare
    (7i+3) % n == i fixpoint, so the completeness filter (SPARQL's
    implicit join semantics) is exercised, not vacuous."""
    ids, base = _kg_synth_base(spark, sf_dir)
    names = ids.where(F.col("i") % 11 != 0).select(
        _kg_ent(F.col("i")).alias("subj"),
        F.lit(_KG_NAME).alias("pred"),
        F.concat(F.lit("n"), F.col("i").cast("string")).alias("obj"),
    )
    facts = _kg_works(ids).unionByName(names).unionByName(_kg_knows(base))
    star = facts.groupBy("subj").agg(
        F.max(F.when(F.col("pred") == _KG_WORKSFOR, F.col("obj"))).alias(
            "org"
        ),
        F.max(F.when(F.col("pred") == _KG_NAME, F.col("obj"))).alias("nm"),
        F.max(F.when(F.col("pred") == _KG_KNOWS, F.col("obj"))).alias(
            "friend"
        ),
    )
    return star.where(
        F.col("org").isNotNull()
        & F.col("nm").isNotNull()
        & F.col("friend").isNotNull()
    )


def sql_star_bgp_pivot() -> str:
    return f"""WITH n AS (SELECT COUNT(*) AS c FROM documents),
ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
facts AS (
  SELECT '{_KG_ENT}' || i AS subj, '{_KG_WORKSFOR}' AS pred,
         '{_KG_ORG}' || (i % 37) AS obj FROM ids
  UNION ALL
  SELECT '{_KG_ENT}' || i, '{_KG_NAME}', 'n' || i
  FROM ids WHERE i % 11 <> 0
  UNION ALL
  SELECT '{_KG_ENT}' || i, '{_KG_KNOWS}',
         '{_KG_ENT}' || ((i * 7 + 3) % (SELECT c FROM n))
  FROM ids WHERE (i * 7 + 3) % (SELECT c FROM n) <> i
)
SELECT subj,
       MAX(CASE WHEN pred = '{_KG_WORKSFOR}' THEN obj END) AS org,
       MAX(CASE WHEN pred = '{_KG_NAME}' THEN obj END) AS nm,
       MAX(CASE WHEN pred = '{_KG_KNOWS}' THEN obj END) AS friend
FROM facts GROUP BY subj
HAVING MAX(CASE WHEN pred = '{_KG_WORKSFOR}' THEN obj END) IS NOT NULL
   AND MAX(CASE WHEN pred = '{_KG_NAME}' THEN obj END) IS NOT NULL
   AND MAX(CASE WHEN pred = '{_KG_KNOWS}' THEN obj END) IS NOT NULL"""


QUERIES["q_star_bgp_pivot"] = q_star_bgp_pivot
ORACLES["q_star_bgp_pivot"] = sql_star_bgp_pivot


def q_rdfs_subclass_infer(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """RDFS entailment rule rdfs9/rdfs11 (type propagation through a
    subClassOf hierarchy): a 64-class binary-tree ontology
    (parent(c) = (c-1) div 2) is transitively closed with
    operators/graph.transitive_closure (O(log depth) doubling rounds
    on the SCHEMA-sized relation), then the closure — thousands of
    rows at most, here 64 classes — broadcasts onto the instance-type
    table (direct type = (i mod 63) + 1, never the root, so every
    inference is non-trivial). Per class: distinct inferred instances.
    The 100 TB shape: the expensive fixpoint runs on the tiny ontology
    side; the billion-row instance table is touched by exactly one
    broadcast join + one aggregation shuffle."""
    from ..operators.graph import transitive_closure

    ids, _ = _kg_synth_base(spark, sf_dir)
    cls = spark.range(64).select(F.col("id").alias("c"))
    edges = cls.where(F.col("c") >= 1).select(
        F.col("c").alias("subj"),
        F.expr("CAST((c - 1) DIV 2 AS BIGINT)").alias("obj"),
    )
    closure = transitive_closure(edges, max_depth=6, reflexive=True)
    types = ids.select(
        F.col("i"), ((F.col("i") % 63) + 1).alias("c")
    )
    inferred = types.join(
        F.broadcast(closure.withColumnRenamed("subj", "c")), "c"
    )
    return inferred.groupBy(
        F.concat(F.lit(_KG_CLS), F.col("obj").cast("string")).alias("cls")
    ).agg(F.countDistinct("i").alias("n_inst"))


def sql_rdfs_subclass_infer() -> str:
    return f"""WITH RECURSIVE
ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
cls AS (SELECT range AS c FROM range(64)),
anc(c, a) AS (
  SELECT c, c FROM cls
  UNION
  SELECT r.c, (r.a - 1) // 2 FROM anc r WHERE r.a >= 1
),
types AS (SELECT i, (i % 63) + 1 AS c FROM ids)
SELECT '{_KG_CLS}' || a.a AS cls, COUNT(DISTINCT t.i) AS n_inst
FROM types t JOIN anc a ON a.c = t.c
GROUP BY a.a"""


QUERIES["q_rdfs_subclass_infer"] = q_rdfs_subclass_infer
ORACLES["q_rdfs_subclass_infer"] = sql_rdfs_subclass_infer


def q_domain_range_infer(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """RDFS entailment rules rdfs2/rdfs3 (domain/range type
    inference): each fact predicate carries (domain, range) class
    declarations in a 3-row ontology; subjects acquire the domain
    class, IRI objects the range class. Evidence counts per
    (entity, class) keep the output integer-exact. Plan: the ontology
    is a literal broadcast (joins constant-fold scan-side); the fact
    table is scanned once per side of the union and aggregated with
    map-side combine — no fact-table self-join, no driver state."""
    ids, base = _kg_synth_base(spark, sf_dir)
    located = ids.select(
        F.concat(F.lit(_KG_ORG), (F.col("i") % 37).cast("string")).alias(
            "subj"
        ),
        F.lit(_KG_LOCATEDIN).alias("pred"),
        F.concat(F.lit(_KG_CITY), (F.col("i") % 11).cast("string")).alias(
            "obj"
        ),
    )
    facts = _kg_works(ids).unionByName(_kg_knows(base)).unionByName(located)
    ont = spark.createDataFrame(
        [
            (_KG_KNOWS, _KG_PERSON, _KG_PERSON),
            (_KG_WORKSFOR, _KG_PERSON, _KG_ORGCLS),
            (_KG_LOCATEDIN, _KG_ORGCLS, _KG_CITYCLS),
        ],
        "pred string, dom string, rng string",
    )
    joined = facts.join(F.broadcast(ont), "pred")
    inferred = joined.select(
        F.col("subj").alias("ent"), F.col("dom").alias("cls")
    ).unionByName(
        joined.select(F.col("obj").alias("ent"), F.col("rng").alias("cls"))
    )
    return inferred.groupBy("ent", "cls").agg(
        F.count("*").alias("n_evidence")
    )


def sql_domain_range_infer() -> str:
    return f"""WITH n AS (SELECT COUNT(*) AS c FROM documents),
ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
facts AS (
  SELECT '{_KG_ENT}' || i AS subj, '{_KG_WORKSFOR}' AS pred,
         '{_KG_ORG}' || (i % 37) AS obj FROM ids
  UNION ALL
  SELECT '{_KG_ENT}' || i, '{_KG_KNOWS}',
         '{_KG_ENT}' || ((i * 7 + 3) % (SELECT c FROM n))
  FROM ids WHERE (i * 7 + 3) % (SELECT c FROM n) <> i
  UNION ALL
  SELECT '{_KG_ORG}' || (i % 37), '{_KG_LOCATEDIN}',
         '{_KG_CITY}' || (i % 11) FROM ids
),
ont(pred, dom, rng) AS (VALUES
  ('{_KG_KNOWS}', '{_KG_PERSON}', '{_KG_PERSON}'),
  ('{_KG_WORKSFOR}', '{_KG_PERSON}', '{_KG_ORGCLS}'),
  ('{_KG_LOCATEDIN}', '{_KG_ORGCLS}', '{_KG_CITYCLS}')
),
inf AS (
  SELECT f.subj AS ent, o.dom AS cls
  FROM facts f JOIN ont o ON o.pred = f.pred
  UNION ALL
  SELECT f.obj, o.rng FROM facts f JOIN ont o ON o.pred = f.pred
)
SELECT ent, cls, COUNT(*) AS n_evidence FROM inf GROUP BY ent, cls"""


QUERIES["q_domain_range_infer"] = q_domain_range_infer
ORACLES["q_domain_range_infer"] = sql_domain_range_infer


def q_functional_conflicts(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """owl:FunctionalProperty violation detection — the KG-QA step
    after cross-page merging: a functional predicate (birthYear) must
    have exactly one object per subject, but every 97th entity carries
    a second, conflicting assertion (as merged crawl snapshots do).
    One groupBy (subj, pred) with two-phase count-distinct; only
    violators survive the HAVING. The conflict report carries
    min/max objects so a resolution policy (first-wins, newest-wins)
    can be applied downstream without rescanning."""
    ids, _ = _kg_synth_base(spark, sf_dir)
    by1 = ids.select(
        _kg_ent(F.col("i")).alias("subj"),
        F.lit(_KG_BIRTHYEAR).alias("pred"),
        (F.lit(1900) + F.col("i") % 100).cast("string").alias("obj"),
    )
    by2 = ids.where(F.col("i") % 97 == 0).select(
        _kg_ent(F.col("i")).alias("subj"),
        F.lit(_KG_BIRTHYEAR).alias("pred"),
        (F.lit(1900) + (F.col("i") + 3) % 100).cast("string").alias("obj"),
    )
    facts = by1.unionByName(by2)
    return (
        facts.groupBy("subj", "pred")
        .agg(
            F.countDistinct("obj").alias("n_values"),
            F.min("obj").alias("lo"),
            F.max("obj").alias("hi"),
        )
        .where(F.col("n_values") > 1)
    )


def sql_functional_conflicts() -> str:
    return f"""WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
facts AS (
  SELECT '{_KG_ENT}' || i AS subj, '{_KG_BIRTHYEAR}' AS pred,
         CAST(1900 + i % 100 AS VARCHAR) AS obj FROM ids
  UNION ALL
  SELECT '{_KG_ENT}' || i, '{_KG_BIRTHYEAR}',
         CAST(1900 + (i + 3) % 100 AS VARCHAR)
  FROM ids WHERE i % 97 = 0
)
SELECT subj, pred, COUNT(DISTINCT obj) AS n_values,
       MIN(obj) AS lo, MAX(obj) AS hi
FROM facts GROUP BY subj, pred
HAVING COUNT(DISTINCT obj) > 1"""


QUERIES["q_functional_conflicts"] = q_functional_conflicts
ORACLES["q_functional_conflicts"] = sql_functional_conflicts


def q_shacl_mincount(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """SHACL sh:minCount 1 validation report: every entity must carry
    `name` (absent for i % 11 == 0) and `worksFor` (absent for
    i % 13 == 0); output is the (focusNode, missing-predicate) rows a
    SHACL engine would emit. Plan: present-predicate flags are built
    with ONE aggregation over the fact table (max(when) per required
    pred — adding a pred adds a column, not a join), the entity
    universe left-joins the flags, and the missing array is exploded
    scan-side. The left join keeps entities with NO facts at all
    (i % 143 == 0 yields both rows) — an anti-join per predicate
    would rescan facts k times instead. The oracle derives the report
    independently from the generation rule, not from the Spark
    mechanism."""
    ids, _ = _kg_synth_base(spark, sf_dir)
    names = ids.where(F.col("i") % 11 != 0).select(
        _kg_ent(F.col("i")).alias("subj"), F.lit(_KG_NAME).alias("pred")
    )
    works = ids.where(F.col("i") % 13 != 0).select(
        _kg_ent(F.col("i")).alias("subj"), F.lit(_KG_WORKSFOR).alias("pred")
    )
    flags = (
        names.unionByName(works)
        .groupBy("subj")
        .agg(
            F.max(F.when(F.col("pred") == _KG_NAME, 1)).alias("has_nm"),
            F.max(F.when(F.col("pred") == _KG_WORKSFOR, 1)).alias("has_wk"),
        )
    )
    ents = ids.select(_kg_ent(F.col("i")).alias("subj"))
    return (
        ents.join(flags, "subj", "left")
        .select(
            "subj",
            F.explode(
                F.filter(
                    F.array(
                        F.when(F.col("has_nm").isNull(), F.lit(_KG_NAME)),
                        F.when(F.col("has_wk").isNull(), F.lit(_KG_WORKSFOR)),
                    ),
                    lambda x: x.isNotNull(),
                )
            ).alias("missing"),
        )
    )


def sql_shacl_mincount() -> str:
    return f"""WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents)
SELECT '{_KG_ENT}' || i AS subj, '{_KG_NAME}' AS missing
FROM ids WHERE i % 11 = 0
UNION ALL
SELECT '{_KG_ENT}' || i, '{_KG_WORKSFOR}' FROM ids WHERE i % 13 = 0"""


QUERIES["q_shacl_mincount"] = q_shacl_mincount
ORACLES["q_shacl_mincount"] = sql_shacl_mincount


def q_entity_cards(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Entity-card materialization over the REAL extracted graph
    (D2+D3+D5 pipeline on the golden corpus): all properties of each
    (page, subject) collapsed into one deterministic sorted
    'pred=obj|pred=obj' card — the serialization step that turns a
    triple store into LLM-training documents / entity summaries.
    Determinism contract: set-semantics dedup first, then
    array_sort on the concatenated strings (binary UTF-8 order ==
    DuckDB's string_agg ORDER BY under default binary collation).
    One shuffle on (url, subj); collect_list is bounded by
    per-entity property counts, never by corpus size."""
    pages = synthesize_oracle_pages(spark)
    triples = dedup_triples(skolemize(extract_triples(pages)), per_graph=True)
    prop = F.concat(F.col("pred"), F.lit("="), F.col("obj"))
    return triples.groupBy("url", "subj").agg(
        F.count("*").alias("n_props"),
        F.array_join(F.array_sort(F.collect_list(prop)), "|").alias("card"),
    )


def sql_entity_cards() -> str:
    return f"""WITH {_golden_skolemized_cte()}
SELECT url, subj, COUNT(*) AS n_props,
       string_agg(pred || '=' || obj, '|' ORDER BY pred || '=' || obj)
         AS card
FROM golden GROUP BY url, subj"""


QUERIES["q_entity_cards"] = q_entity_cards
ORACLES["q_entity_cards"] = sql_entity_cards


# ---------------------------------------------------------------------------
# KG lifecycle & census (wave 8): snapshot diff, symmetric-property
# gap, property-cardinality histogram, namespace census, entity-label
# collisions, vocabulary coverage.
# ---------------------------------------------------------------------------


def q_kg_delta(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Triple-level KG snapshot diff — the incremental-crawl question
    one level below q_crawl_delta's page ledgers: between two graph
    snapshots of single-valued facts, which (subj, pred) slots were
    added / removed / changed / unchanged? Old snapshot: worksFor for
    every entity, birthYear for i % 5 != 0. New snapshot: worksFor
    dropped for i % 13 == 0 and re-assigned (org+1) for i % 7 == 0;
    birthYear now universal (added for i % 5 == 0). ONE full-outer
    shuffle join on (subj, pred) classifies every slot; the report
    aggregates per (pred, status) so a 10^11-triple diff still returns
    a constant-size answer."""
    ids, _ = _kg_synth_base(spark, sf_dir)
    old = _kg_works(ids).unionByName(
        ids.where(F.col("i") % 5 != 0).select(
            _kg_ent(F.col("i")).alias("subj"),
            F.lit(_KG_BIRTHYEAR).alias("pred"),
            (F.lit(1900) + F.col("i") % 100).cast("string").alias("obj"),
        )
    )
    new_works = ids.where(F.col("i") % 13 != 0).select(
        _kg_ent(F.col("i")).alias("subj"),
        F.lit(_KG_WORKSFOR).alias("pred"),
        F.concat(
            F.lit(_KG_ORG),
            F.when(
                F.col("i") % 7 == 0, ((F.col("i") % 37) + 1) % 37
            ).otherwise(F.col("i") % 37).cast("string"),
        ).alias("obj"),
    )
    new = new_works.unionByName(
        ids.select(
            _kg_ent(F.col("i")).alias("subj"),
            F.lit(_KG_BIRTHYEAR).alias("pred"),
            (F.lit(1900) + F.col("i") % 100).cast("string").alias("obj"),
        )
    )
    o = old.select("subj", "pred", F.col("obj").alias("obj_old"))
    n = new.select("subj", "pred", F.col("obj").alias("obj_new"))
    joined = o.join(n, ["subj", "pred"], "full_outer")
    status = (
        F.when(F.col("obj_old").isNull(), F.lit("added"))
        .when(F.col("obj_new").isNull(), F.lit("removed"))
        .when(F.col("obj_old") != F.col("obj_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.groupBy("pred", status.alias("status")).agg(
        F.count("*").alias("n")
    )


def sql_kg_delta() -> str:
    return f"""WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
old AS (
  SELECT '{_KG_ENT}' || i AS subj, '{_KG_WORKSFOR}' AS pred,
         '{_KG_ORG}' || (i % 37) AS obj FROM ids
  UNION ALL
  SELECT '{_KG_ENT}' || i, '{_KG_BIRTHYEAR}',
         CAST(1900 + i % 100 AS VARCHAR) FROM ids WHERE i % 5 <> 0
),
new AS (
  SELECT '{_KG_ENT}' || i AS subj, '{_KG_WORKSFOR}' AS pred,
         '{_KG_ORG}' || (CASE WHEN i % 7 = 0 THEN ((i % 37) + 1) % 37
                              ELSE i % 37 END) AS obj
  FROM ids WHERE i % 13 <> 0
  UNION ALL
  SELECT '{_KG_ENT}' || i, '{_KG_BIRTHYEAR}',
         CAST(1900 + i % 100 AS VARCHAR) FROM ids
),
j AS (
  SELECT COALESCE(o.pred, n.pred) AS pred, o.obj AS obj_old,
         n.obj AS obj_new
  FROM old o FULL OUTER JOIN new n
    ON o.subj = n.subj AND o.pred = n.pred
)
SELECT pred,
       CASE WHEN obj_old IS NULL THEN 'added'
            WHEN obj_new IS NULL THEN 'removed'
            WHEN obj_old <> obj_new THEN 'changed'
            ELSE 'unchanged' END AS status,
       COUNT(*) AS n
FROM j GROUP BY 1, 2"""


QUERIES["q_kg_delta"] = q_kg_delta
ORACLES["q_kg_delta"] = sql_kg_delta


def q_symmetric_gap(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """owl:SymmetricProperty completeness QA: `knows` should hold in
    both directions, so every directed edge without its reciprocal is
    a repair candidate (the KG-completion counterpart of the
    functional-conflict check). Edge set: the two q_path_2hop
    generators, distinct. Plan: one self anti-join of the edge set
    against its own reversal — hash-partitioned on (subj, obj), no
    driver state; output is the missing-edge worklist itself."""
    ids, base = _kg_synth_base(spark, sf_dir)
    k2 = F.pmod(F.col("i") + 13, F.col("n"))
    knows = (
        _kg_knows(base)
        .select("subj", "obj")
        .unionByName(
            base.where(k2 != F.col("i")).select(
                _kg_ent(F.col("i")).alias("subj"), _kg_ent(k2).alias("obj")
            )
        )
        .distinct()
    )
    rev = knows.select(
        F.col("obj").alias("subj"), F.col("subj").alias("obj")
    )
    return knows.join(rev, ["subj", "obj"], "left_anti")


def sql_symmetric_gap() -> str:
    return f"""WITH n AS (SELECT COUNT(*) AS c FROM documents),
ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
knows AS (
  SELECT DISTINCT subj, obj FROM (
    SELECT '{_KG_ENT}' || i AS subj,
           '{_KG_ENT}' || ((i * 7 + 3) % (SELECT c FROM n)) AS obj
    FROM ids WHERE (i * 7 + 3) % (SELECT c FROM n) <> i
    UNION ALL
    SELECT '{_KG_ENT}' || i, '{_KG_ENT}' || ((i + 13) % (SELECT c FROM n))
    FROM ids WHERE (i + 13) % (SELECT c FROM n) <> i
  )
)
SELECT a.subj, a.obj FROM knows a
WHERE NOT EXISTS (
  SELECT 1 FROM knows b WHERE b.subj = a.obj AND b.obj = a.subj
)"""


QUERIES["q_symmetric_gap"] = q_symmetric_gap
ORACLES["q_symmetric_gap"] = sql_symmetric_gap


def q_cardinality_histogram(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Property-cardinality histogram (per predicate: how many
    subjects carry exactly k distinct objects) — the VoID-style census
    that decides which predicates can be stored single-valued, which
    need arrays, and where a groupBy will skew. Facts mix known
    cardinalities: worksFor 1, knows 1-2 (two generators that may
    coincide), birthYear 1-2 (the q_functional_conflicts plant). Two
    map-side-combined shuffles: (subj, pred) count-distinct, then
    (pred, k) count."""
    ids, base = _kg_synth_base(spark, sf_dir)
    k2 = F.pmod(F.col("i") + 13, F.col("n"))
    knows2 = base.where(k2 != F.col("i")).select(
        _kg_ent(F.col("i")).alias("subj"),
        F.lit(_KG_KNOWS).alias("pred"),
        _kg_ent(k2).alias("obj"),
    )
    by2 = ids.where(F.col("i") % 97 == 0).select(
        _kg_ent(F.col("i")).alias("subj"),
        F.lit(_KG_BIRTHYEAR).alias("pred"),
        (F.lit(1900) + (F.col("i") + 3) % 100).cast("string").alias("obj"),
    )
    by1 = ids.select(
        _kg_ent(F.col("i")).alias("subj"),
        F.lit(_KG_BIRTHYEAR).alias("pred"),
        (F.lit(1900) + F.col("i") % 100).cast("string").alias("obj"),
    )
    facts = (
        _kg_works(ids)
        .unionByName(_kg_knows(base))
        .unionByName(knows2)
        .unionByName(by1)
        .unionByName(by2)
    )
    per_subj = facts.groupBy("subj", "pred").agg(
        F.countDistinct("obj").alias("k")
    )
    return per_subj.groupBy("pred", "k").agg(
        F.count("*").alias("n_subjects")
    )


def sql_cardinality_histogram() -> str:
    return f"""WITH n AS (SELECT COUNT(*) AS c FROM documents),
ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
facts AS (
  SELECT '{_KG_ENT}' || i AS subj, '{_KG_WORKSFOR}' AS pred,
         '{_KG_ORG}' || (i % 37) AS obj FROM ids
  UNION ALL
  SELECT '{_KG_ENT}' || i, '{_KG_KNOWS}',
         '{_KG_ENT}' || ((i * 7 + 3) % (SELECT c FROM n))
  FROM ids WHERE (i * 7 + 3) % (SELECT c FROM n) <> i
  UNION ALL
  SELECT '{_KG_ENT}' || i, '{_KG_KNOWS}',
         '{_KG_ENT}' || ((i + 13) % (SELECT c FROM n))
  FROM ids WHERE (i + 13) % (SELECT c FROM n) <> i
  UNION ALL
  SELECT '{_KG_ENT}' || i, '{_KG_BIRTHYEAR}',
         CAST(1900 + i % 100 AS VARCHAR) FROM ids
  UNION ALL
  SELECT '{_KG_ENT}' || i, '{_KG_BIRTHYEAR}',
         CAST(1900 + (i + 3) % 100 AS VARCHAR)
  FROM ids WHERE i % 97 = 0
),
per_subj AS (
  SELECT subj, pred, COUNT(DISTINCT obj) AS k
  FROM facts GROUP BY subj, pred
)
SELECT pred, k, COUNT(*) AS n_subjects FROM per_subj GROUP BY pred, k"""


QUERIES["q_cardinality_histogram"] = q_cardinality_histogram
ORACLES["q_cardinality_histogram"] = sql_cardinality_histogram


def q_namespace_census(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Vocabulary-namespace census over the REAL extracted graph: each
    predicate's namespace (greedy prefix through the last '/' or '#' —
    the inverse of the reference's vocab derivation, Util.deriveVocab
    lib/Util.ts:123-147) with triple / distinct-predicate / page
    counts. This is the which-vocabularies-does-the-crawl-actually-use
    report that drives registry configuration. Scan-side
    regexp_extract (identical greedy semantics in Java regex and
    DuckDB RE2 for this anchor-prefix pattern), one aggregation."""
    pages = synthesize_oracle_pages(spark)
    triples = dedup_triples(skolemize(extract_triples(pages)), per_graph=True)
    ns = F.regexp_extract(F.col("pred"), r"^(.*[/#])", 1)
    return triples.groupBy(ns.alias("ns")).agg(
        F.count("*").alias("n_triples"),
        F.countDistinct("pred").alias("n_preds"),
        F.countDistinct("url").alias("n_pages"),
    )


def sql_namespace_census() -> str:
    return f"""WITH {_golden_skolemized_cte()}
SELECT regexp_extract(pred, '^(.*[/#])', 1) AS ns,
       COUNT(*) AS n_triples,
       COUNT(DISTINCT pred) AS n_preds,
       COUNT(DISTINCT url) AS n_pages
FROM golden GROUP BY 1"""


QUERIES["q_namespace_census"] = q_namespace_census
ORACLES["q_namespace_census"] = sql_namespace_census


def q_label_collisions(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Cross-page entity-duplicate candidates by label collision: two
    different subjects asserting the same normalized literal for the
    same predicate are merge candidates for the sameAs pipeline (the
    blocking key the scored linker consumes). Over the REAL extracted
    graph: literal objects only, whitespace-collapsed lowercase
    normalization (the corpus-wide _NORM convention), one aggregation
    on (pred, label); only colliding labels survive."""
    pages = synthesize_oracle_pages(spark)
    triples = dedup_triples(skolemize(extract_triples(pages)), per_graph=True)
    lits = triples.where(F.col("obj_kind") == "literal")
    norm = F.regexp_replace(F.lower(F.trim(F.col("obj"))), r"\s+", " ")
    return (
        lits.groupBy("pred", norm.alias("label"))
        .agg(
            F.countDistinct("subj").alias("n_subjects"),
            F.countDistinct("url").alias("n_pages"),
        )
        .where(F.col("n_subjects") > 1)
    )


def sql_label_collisions() -> str:
    norm = _NORM.format(c="obj")
    return f"""WITH {_golden_skolemized_cte()}
SELECT pred, {norm} AS label,
       COUNT(DISTINCT subj) AS n_subjects,
       COUNT(DISTINCT url) AS n_pages
FROM golden WHERE obj_kind = 'literal'
GROUP BY 1, 2 HAVING COUNT(DISTINCT subj) > 1"""


QUERIES["q_label_collisions"] = q_label_collisions
ORACLES["q_label_collisions"] = sql_label_collisions


_VC_TOPK = 256


def q_vocab_coverage(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Tokenizer-vocabulary coverage: fix the vocabulary to the
    corpus's top-256 tokens (count desc, token asc — the deterministic
    tie-break both engines replay) and report each document's
    out-of-vocabulary rate in integer ppm — the coverage check run
    before committing a tokenizer to a training corpus. Plan: unigram
    table (one map-side-combined shuffle), top-k via
    TakeOrderedAndProject (never a global sort), vocabulary broadcast
    back onto the token stream, per-doc integer aggregation. Zero-token
    documents score 0 via the left join against the full corpus."""
    from ..functions.text import _tokens

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(_tokens(F.col("text"))).alias("t"),
    ).filter(F.col("t") != "")
    vocab = (
        toks.groupBy("t")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("t"))
        .limit(_VC_TOPK)
        .select("t", F.lit(1).alias("in_vocab"))
    )
    scored = (
        toks.join(F.broadcast(vocab), "t", "left")
        .groupBy("id")
        .agg(
            F.count("*").alias("n"),
            F.count(F.when(F.col("in_vocab").isNull(), True)).alias("oov"),
        )
    )
    return (
        docs.select(F.col("doc_id").alias("id"))
        .join(scored, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_toks"),
            F.coalesce(
                F.expr("(oov * 1000000) div n"), F.lit(0)
            ).cast("long").alias("oov_ppm"),
        )
    )


def sql_vocab_coverage() -> str:
    toks = _TOKS.format(c="text")
    return f"""WITH toks AS (
  SELECT doc_id, unnest({toks}) AS t FROM documents
),
tt AS (SELECT doc_id, t FROM toks WHERE t <> ''),
vocab AS (
  SELECT t FROM (SELECT t, COUNT(*) AS cnt FROM tt GROUP BY t)
  ORDER BY cnt DESC, t LIMIT {_VC_TOPK}
),
scored AS (
  SELECT doc_id, COUNT(*) AS n,
         COUNT(CASE WHEN v.t IS NULL THEN TRUE END) AS oov
  FROM tt LEFT JOIN vocab v ON v.t = tt.t GROUP BY doc_id
)
SELECT d.doc_id AS id,
       CAST(COALESCE(s.n, 0) AS BIGINT) AS n_toks,
       CAST(COALESCE((s.oov * 1000000) // s.n, 0) AS BIGINT) AS oov_ppm
FROM documents d LEFT JOIN scored s USING (doc_id)"""


QUERIES["q_vocab_coverage"] = q_vocab_coverage
ORACLES["q_vocab_coverage"] = sql_vocab_coverage


# ---------------------------------------------------------------------------
# wave 9: range-join strategy + grouped top-k
# ---------------------------------------------------------------------------


def q_interval_join(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Point-in-interval aggregation (events falling inside synthetic
    maintenance windows) via operators/temporal.interval_join — the
    bucketed equi-join range strategy: intervals explode to the <= 2
    coarse buckets they overlap, events key on floor(ts / bucket), and
    the residual containment filter runs after a hash join instead of
    a BroadcastNestedLoopJoin. Windows are derived deterministically
    from doc ids over the observed event time range (start =
    tmin + (977 j) mod span, length 60..1500 s < the 1800 s bucket).
    Per window: event count + micro-unit value sum. The oracle
    replays the containment as a plain inequality join — viable at
    oracle scale, quadratic at crawl scale."""
    from ..operators.temporal import interval_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        F.unix_timestamp("ts").cast("long").alias("ts_s"),
        F.floor(F.col("value") * 1e6).cast("long").alias("value_u"),
    )
    bounds = ev.agg(
        F.min("ts_s").alias("tmin"),
        F.greatest(
            F.max("ts_s") - F.min("ts_s"), F.lit(1).cast("long")
        ).alias("span"),
    )
    ids, _ = _kg_synth_base(spark, sf_dir)
    iv = ids.crossJoin(F.broadcast(bounds)).select(
        F.col("i").alias("interval_id"),
        (F.col("tmin") + (F.col("i") * 977) % F.col("span")).alias("s"),
    )
    iv = iv.withColumn(
        "e", F.col("s") + 60 + (F.col("interval_id") % 7) * 240
    )
    joined = interval_join(ev, iv, bucket_s=1800)
    return joined.groupBy("interval_id").agg(
        F.count("*").alias("n_events"),
        F.sum("value_u").cast("long").alias("sum_value_u"),
    )


def sql_interval_join() -> str:
    return """WITH ev AS (
  SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         CAST(floor(value * 1e6) AS BIGINT) AS value_u
  FROM events
),
b AS (
  SELECT MIN(ts_s) AS tmin,
         GREATEST(MAX(ts_s) - MIN(ts_s), 1) AS span
  FROM ev
),
iv AS (
  SELECT CAST(doc_id AS BIGINT) AS interval_id,
         tmin + (CAST(doc_id AS BIGINT) * 977) % span AS s
  FROM documents, b
),
iv2 AS (
  SELECT interval_id, s, s + 60 + (interval_id % 7) * 240 AS e FROM iv
)
SELECT v.interval_id, COUNT(*) AS n_events,
       CAST(SUM(e.value_u) AS BIGINT) AS sum_value_u
FROM iv2 v JOIN ev e ON e.ts_s >= v.s AND e.ts_s < v.e
GROUP BY v.interval_id"""


QUERIES["q_interval_join"] = q_interval_join
ORACLES["q_interval_join"] = sql_interval_join


_GT_K = 3


def q_group_topk(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-group top-k (each event type's 3 most active users,
    count desc then user_id asc — a total order both engines replay):
    the per-host-top-pages / per-domain-top-entities shape. Plan: the
    count aggregation REDUCES the table to |type x user| before the
    rank window repartitions it on event_type — the window never sees
    raw events, and k filters immediately after row_number, so only
    k rows per group survive the stage."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    counts = ev.groupBy("event_type", "user_id").agg(
        F.count("*").alias("n_events")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("n_events").desc(), F.col("user_id")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _GT_K)
        .select("event_type", "user_id", "n_events", F.col("rk").cast("long"))
    )


def sql_group_topk() -> str:
    return f"""WITH counts AS (
  SELECT event_type, user_id, COUNT(*) AS n_events
  FROM events GROUP BY event_type, user_id
),
ranked AS (
  SELECT event_type, user_id, n_events,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY event_type
           ORDER BY n_events DESC, user_id
         ) AS BIGINT) AS rk
  FROM counts
)
SELECT event_type, user_id, n_events, rk
FROM ranked WHERE rk <= {_GT_K}"""


QUERIES["q_group_topk"] = q_group_topk
ORACLES["q_group_topk"] = sql_group_topk


# ---------------------------------------------------------------------------
# wave 10: KG-embedding negatives, behavioral transitions, co-typing
# ---------------------------------------------------------------------------


def q_kg_negatives(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Negative sampling for KG-embedding training (TransE-style):
    every worksFor fact spawns two deterministically corrupted tail
    candidates (org((13i+5) mod 37), org((17i+11) mod 37)), and an
    anti-join against the true fact set removes accidental positives —
    the filtered-negatives construction. Shape: candidates are
    scan-side expressions (no lattice needed — corruption is modular
    arithmetic both engines replay), the set-dedup is one shuffle, and
    the anti-join hash-partitions on the full (subj, pred, obj) key.
    At 10^11 facts this is exactly the join the embedding-training
    data loader runs per epoch."""
    ids, _ = _kg_synth_base(spark, sf_dir)
    facts = _kg_works(ids)
    cands = ids.select(
        _kg_ent(F.col("i")).alias("subj"),
        F.lit(_KG_WORKSFOR).alias("pred"),
        F.explode(
            F.array(
                F.concat(
                    F.lit(_KG_ORG),
                    ((F.col("i") * 13 + 5) % 37).cast("string"),
                ),
                F.concat(
                    F.lit(_KG_ORG),
                    ((F.col("i") * 17 + 11) % 37).cast("string"),
                ),
            )
        ).alias("obj"),
    ).distinct()
    return cands.join(facts, ["subj", "pred", "obj"], "left_anti")


def sql_kg_negatives() -> str:
    return f"""WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
facts AS (
  SELECT '{_KG_ENT}' || i AS subj, '{_KG_WORKSFOR}' AS pred,
         '{_KG_ORG}' || (i % 37) AS obj FROM ids
),
cands AS (
  SELECT '{_KG_ENT}' || i AS subj, '{_KG_WORKSFOR}' AS pred,
         '{_KG_ORG}' || ((i * 13 + 5) % 37) AS obj FROM ids
  UNION
  SELECT '{_KG_ENT}' || i, '{_KG_WORKSFOR}',
         '{_KG_ORG}' || ((i * 17 + 11) % 37) FROM ids
)
SELECT c.subj, c.pred, c.obj FROM cands c
WHERE NOT EXISTS (
  SELECT 1 FROM facts f
  WHERE f.subj = c.subj AND f.pred = c.pred AND f.obj = c.obj
)"""


QUERIES["q_kg_negatives"] = q_kg_negatives
ORACLES["q_kg_negatives"] = sql_kg_negatives


def q_markov_transitions(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-user behavioral transition matrix (the first-order Markov
    census behind next-event prediction and bot detection): each
    user's event stream ordered by the total order (epoch second,
    event_id), lag(1) pairs every event with its predecessor type,
    and one aggregation counts (src, dst) transitions. Shape: ONE
    shuffle on user_id for the window (ordering is within-partition),
    then a map-side-combined count — no self-join on the event table."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        "event_type",
        F.unix_timestamp("ts").cast("long").alias("ts_s"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    with_prev = ev.withColumn("src", F.lag("event_type").over(w))
    return (
        with_prev.where(F.col("src").isNotNull())
        .groupBy("src", F.col("event_type").alias("dst"))
        .agg(F.count("*").alias("n"))
    )


def sql_markov_transitions() -> str:
    return """WITH ev AS (
  SELECT user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_id
  FROM events
),
lagged AS (
  SELECT event_type AS dst,
         LAG(event_type) OVER (
           PARTITION BY user_id ORDER BY ts_s, event_id
         ) AS src
  FROM ev
)
SELECT src, dst, COUNT(*) AS n
FROM lagged WHERE src IS NOT NULL GROUP BY src, dst"""


QUERIES["q_markov_transitions"] = q_markov_transitions
ORACLES["q_markov_transitions"] = sql_markov_transitions


def q_type_cooccurrence(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Class co-typing census over the REAL extracted graph: subjects
    carrying two rdf:type assertions (the parser emits one per
    itemtype token, MicrodataRdfParser.ts multi-type handling) yield
    ordered (cls_a < cls_b) pairs with distinct-subject counts — the
    schema-overlap signal that drives class-merge decisions in
    ontology alignment. Shape: the type table is tiny relative to the
    graph (one row per rdf:type triple), the self-join keys on the
    skolemized subject, and the < predicate halves the pair space."""
    from ..operators.linking import RDF_TYPE

    pages = synthesize_oracle_pages(spark)
    triples = dedup_triples(skolemize(extract_triples(pages)), per_graph=True)
    typed = triples.where(F.col("pred") == RDF_TYPE).select(
        "subj", F.col("obj").alias("cls")
    )
    a = typed.select("subj", F.col("cls").alias("cls_a"))
    b = typed.select("subj", F.col("cls").alias("cls_b"))
    return (
        a.join(b, "subj")
        .where(F.col("cls_a") < F.col("cls_b"))
        .groupBy("cls_a", "cls_b")
        .agg(F.countDistinct("subj").alias("n_subjects"))
    )


def sql_type_cooccurrence() -> str:
    from ..operators.linking import RDF_TYPE

    return f"""WITH {_golden_skolemized_cte()},
typed AS (
  SELECT subj, obj AS cls FROM golden WHERE pred = '{RDF_TYPE}'
)
SELECT a.cls AS cls_a, b.cls AS cls_b,
       COUNT(DISTINCT a.subj) AS n_subjects
FROM typed a JOIN typed b ON a.subj = b.subj AND a.cls < b.cls
GROUP BY 1, 2"""


QUERIES["q_type_cooccurrence"] = q_type_cooccurrence
ORACLES["q_type_cooccurrence"] = sql_type_cooccurrence


# ---------------------------------------------------------------------------
# wave 11: semi-structured payloads, CUBE grouping sets, running totals
# ---------------------------------------------------------------------------


def q_json_props(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Semi-structured payload extraction: the events table carries a
    JSON props column ('{"k": N}' — the schemaless sidecar every
    telemetry pipeline accumulates); get_json_object pulls the field
    JVM-side (codegen, no Python), and one aggregation profiles it per
    event type. The scan reads only (event_type, props) — the JSON
    path never blocks column pruning.

    Malformed-payload contract (real telemetry is dirty): a field
    counts only when its lexical form is a strict integer
    (^-?[0-9]+$); everything else — malformed JSON, missing key,
    quoted non-numeric, fractional, boolean — is NULL on BOTH
    engines. Without the guard the engines genuinely diverge:
    Spark's ANSI cast throws on 'x' where DuckDB TRY_CAST rounds
    '1.5' to 2."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    raw = F.get_json_object(F.col("props"), "$.k")
    k = F.when(raw.rlike("^-?[0-9]+$"), raw.cast("long"))
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.count("k").alias("n_with_k"),
        F.sum("k").cast("long").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.countDistinct("k").alias("n_distinct_k"),
    )


def sql_json_props() -> str:
    return """WITH raw AS (
  SELECT event_type,
         CASE WHEN props IS NOT NULL AND json_valid(props)
              THEN json_extract_string(props, '$.k') END AS ks
  FROM events
),
ev AS (
  SELECT event_type,
         CASE WHEN regexp_matches(ks, '^-?[0-9]+$')
              THEN CAST(ks AS BIGINT) END AS k
  FROM raw
)
SELECT event_type, COUNT(*) AS n, COUNT(k) AS n_with_k,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       MIN(k) AS min_k, MAX(k) AS max_k,
       COUNT(DISTINCT k) AS n_distinct_k
FROM ev GROUP BY event_type"""


QUERIES["q_json_props"] = q_json_props
ORACLES["q_json_props"] = sql_json_props


def q_events_cube(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Event-type x epoch-day CUBE (all four grouping sets in one
    pass: cell, per-type, per-day, grand total) — the OLAP companion
    to q_sales_rollup's ROLLUP, over the behavioral table instead of
    the TPC-H dims. GROUPING flags disambiguate subtotal NULLs from
    data NULLs; value mass is micro-unit integer so every grouping
    set is fold-order exact."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
        F.floor(F.col("value") * 1e6).cast("long").alias("value_u"),
    )
    return (
        ev.cube("event_type", "day")
        .agg(
            F.grouping("event_type").cast("long").alias("g_type"),
            F.grouping("day").cast("long").alias("g_day"),
            F.count("*").alias("n"),
            F.sum("value_u").cast("long").alias("sum_value_u"),
        )
        .select("event_type", "day", "g_type", "g_day", "n", "sum_value_u")
    )


def sql_events_cube() -> str:
    return """WITH ev AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         CAST(floor(value * 1e6) AS BIGINT) AS value_u
  FROM events
)
SELECT event_type, day,
       CAST(CASE WHEN GROUPING(event_type) THEN 1 ELSE 0 END AS BIGINT)
         AS g_type,
       CAST(CASE WHEN GROUPING(day) THEN 1 ELSE 0 END AS BIGINT) AS g_day,
       COUNT(*) AS n,
       CAST(SUM(value_u) AS BIGINT) AS sum_value_u
FROM ev GROUP BY CUBE (event_type, day)"""


QUERIES["q_events_cube"] = q_events_cube
ORACLES["q_events_cube"] = sql_events_cube


def q_running_total(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-user running value total (unbounded-preceding window over
    the (epoch second, event_id) total order) — the cumulative-spend /
    session-budget shape. One shuffle on user_id; within-partition
    sort only; micro-unit longs keep the prefix sums exact under any
    partitioning."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").cast("long").alias("ts_s"),
        F.floor(F.col("value") * 1e6).cast("long").alias("value_u"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts_s",
        F.sum("value_u").over(w).cast("long").alias("cum_value_u"),
    )


def sql_running_total() -> str:
    return """WITH ev AS (
  SELECT event_id, user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         CAST(floor(value * 1e6) AS BIGINT) AS value_u
  FROM events
)
SELECT event_id, user_id, ts_s,
       CAST(SUM(value_u) OVER (
         PARTITION BY user_id ORDER BY ts_s, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cum_value_u
FROM ev"""


QUERIES["q_running_total"] = q_running_total
ORACLES["q_running_total"] = sql_running_total


def q_ann_recall(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """ANN quality evaluation — recall@k of the hyperplane-LSH path
    against the exact brute-force top-k, per query point: the metric
    that decides whether an approximate index is shippable. Both
    sides reuse the registered pipelines unchanged (one shared
    implementation, same md5 hyperplane lattice), joined on
    (query_id, vec_id); n_hits / n_exact is the recall. The oracle
    composes the two EXISTING verified oracle texts as subqueries —
    no third implementation to drift. Ties at the k boundary resolve
    by the same (cos desc, vec_id) total order on both engines, so
    the intersection is well-defined."""
    exact = q_topk_cosine(spark, sf_dir).select("query_id", "vec_id")
    ann = q_lsh_topk(spark, sf_dir).select(
        "query_id", "vec_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(ann, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_exact"),
            F.count("hit").alias("n_hits"),
        )
    )


def sql_ann_recall() -> str:
    return f"""SELECT ex.query_id, COUNT(*) AS n_exact,
       COUNT(an.vec_id) AS n_hits
FROM ({sql_topk_cosine()}) ex
LEFT JOIN ({sql_lsh_topk()}) an
  ON an.query_id = ex.query_id AND an.vec_id = ex.vec_id
GROUP BY ex.query_id"""


QUERIES["q_ann_recall"] = q_ann_recall
ORACLES["q_ann_recall"] = sql_ann_recall


# ---------------------------------------------------------------------------
# wave 13: SPARQL algebra completions — OPTIONAL and CONSTRUCT
# ---------------------------------------------------------------------------


def q_bgp_optional(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """SPARQL OPTIONAL — `?e worksFor ?org OPTIONAL { ?e name ?nm }` —
    as a left outer join: every employed entity appears, name-less
    ones (i % 11 == 0) with a NULL nm. Together with the inner-join
    star (q_star_bgp_pivot), the anti-join (q_shacl_mincount /
    q_kg_negatives: FILTER NOT EXISTS), the path join (q_path_2hop)
    and the closure (q_rdfs_subclass_infer: p*), this completes the
    BGP algebra surface. One hash join on the entity key; the
    optional side is the smaller filtered branch."""
    ids, _ = _kg_synth_base(spark, sf_dir)
    works = _kg_works(ids).select("subj", F.col("obj").alias("org"))
    names = ids.where(F.col("i") % 11 != 0).select(
        _kg_ent(F.col("i")).alias("subj"),
        F.concat(F.lit("n"), F.col("i").cast("string")).alias("nm"),
    )
    return works.join(names, "subj", "left")


def sql_bgp_optional() -> str:
    return f"""WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
works AS (
  SELECT '{_KG_ENT}' || i AS subj, '{_KG_ORG}' || (i % 37) AS org FROM ids
),
names AS (
  SELECT '{_KG_ENT}' || i AS subj, 'n' || i AS nm
  FROM ids WHERE i % 11 <> 0
)
SELECT w.subj, w.org, n.nm
FROM works w LEFT JOIN names n ON n.subj = w.subj"""


QUERIES["q_bgp_optional"] = q_bgp_optional
ORACLES["q_bgp_optional"] = sql_bgp_optional


def q_construct_inverse(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """SPARQL CONSTRUCT — reshaping matched patterns into NEW triples:
    every `?p worksFor ?o` yields `?o employs ?p` (inverse edge) plus
    `?o rdf:type Organization` (deduplicated), the materialized-view
    step that turns a subject-oriented graph into an object-oriented
    one before a reverse-traversal workload. Pure scan-side projection
    for the inverse branch; one distinct shuffle for the type branch —
    no joins at all."""
    from ..operators.linking import RDF_TYPE

    ids, _ = _kg_synth_base(spark, sf_dir)
    works = _kg_works(ids)
    inverse = works.select(
        F.col("obj").alias("subj"),
        F.lit("http://ex.org/employs").alias("pred"),
        F.col("subj").alias("obj"),
    )
    types = works.select(
        F.col("obj").alias("subj"),
        F.lit(RDF_TYPE).alias("pred"),
        F.lit(_KG_ORGCLS).alias("obj"),
    ).distinct()
    return inverse.unionByName(types)


def sql_construct_inverse() -> str:
    from ..operators.linking import RDF_TYPE

    return f"""WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
works AS (
  SELECT '{_KG_ENT}' || i AS person, '{_KG_ORG}' || (i % 37) AS org FROM ids
)
SELECT org AS subj, 'http://ex.org/employs' AS pred, person AS obj
FROM works
UNION ALL
SELECT DISTINCT org, '{RDF_TYPE}', '{_KG_ORGCLS}' FROM works"""


QUERIES["q_construct_inverse"] = q_construct_inverse
ORACLES["q_construct_inverse"] = sql_construct_inverse


# ---------------------------------------------------------------------------
# wave 14: SCD2 gaps-and-islands, table fingerprint (anti-entropy)
# ---------------------------------------------------------------------------


def q_scd2_islands(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Slowly-changing-dimension (SCD type 2) interval construction —
    the gaps-and-islands shape: four crawl snapshots (v = 0..3) of
    each entity's worksFor value are collapsed into validity intervals
    (subj, org, valid_from, valid_to) by the canonical lag-flag +
    running-sum island id. The synthetic rule
    org_v(i) = (i + 7 * ((v + i) div 3)) mod 37 breaks each entity's
    history at a position that varies with i mod 3, so islands of
    length 1..4 all occur. ONE shuffle on subj for the window; the
    island groupBy reuses the same partitioning (no second exchange
    needed by the key)."""
    ids, _ = _kg_synth_base(spark, sf_dir)
    snaps = ids.withColumn(
        "v", F.explode(F.sequence(F.lit(0), F.lit(3)))
    ).select(
        _kg_ent(F.col("i")).alias("subj"),
        F.col("v").cast("long").alias("v"),
        F.concat(
            F.lit(_KG_ORG),
            F.expr("(i + 7 * ((v + i) DIV 3)) % 37").cast("string"),
        ).alias("org"),
    )
    w = Window.partitionBy("subj").orderBy("v")
    flagged = snaps.withColumn(
        "chg",
        F.when(
            F.lag("org").over(w).isNull()
            | (F.lag("org").over(w) != F.col("org")),
            1,
        ).otherwise(0),
    ).withColumn("island", F.sum("chg").over(w))
    return flagged.groupBy("subj", "island").agg(
        F.min("org").alias("org"),
        F.min("v").alias("valid_from"),
        F.max("v").alias("valid_to"),
    ).select("subj", "org", "valid_from", "valid_to")


def sql_scd2_islands() -> str:
    return f"""WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
snaps AS (
  SELECT '{_KG_ENT}' || i AS subj, CAST(v AS BIGINT) AS v,
         '{_KG_ORG}' || ((i + 7 * ((v + i) // 3)) % 37) AS org
  FROM ids, (SELECT unnest([0, 1, 2, 3]) AS v)
),
flagged AS (
  SELECT subj, v, org,
         CASE WHEN LAG(org) OVER w IS NULL
                OR LAG(org) OVER w <> org THEN 1 ELSE 0 END AS chg
  FROM snaps WINDOW w AS (PARTITION BY subj ORDER BY v)
),
islands AS (
  SELECT subj, v, org,
         SUM(chg) OVER (PARTITION BY subj ORDER BY v) AS island
  FROM flagged
)
SELECT subj, MIN(org) AS org, MIN(v) AS valid_from, MAX(v) AS valid_to
FROM islands GROUP BY subj, island"""


QUERIES["q_scd2_islands"] = q_scd2_islands
ORACLES["q_scd2_islands"] = sql_scd2_islands


def q_table_fingerprint(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Whole-table anti-entropy fingerprint: every documents row is
    hashed (md5 over a \\x1f-joined, NULL-coalesced column tuple) to a
    48-bit-safe integer, and the table collapses to ONE row of
    order-independent aggregates (count, sum, min, max of the row
    hashes) — the replica-comparison / post-migration integrity check
    for a 100 TB table: one scan, zero data movement beyond the
    constant-size partial aggregates, mergeable across any partition
    layout by construction."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    key = F.concat_ws(
        "\x1f",
        F.col("doc_id").cast("string"),
        F.coalesce(F.col("text"), F.lit("")),
        F.coalesce(F.col("lang"), F.lit("")),
        F.coalesce(F.col("source"), F.lit("")),
        F.col("n_chars").cast("string"),
    )
    v = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
    return docs.select(v.alias("h")).agg(
        F.count("*").alias("n_rows"),
        F.sum("h").cast("long").alias("sum_h"),
        F.min("h").alias("min_h"),
        F.max("h").alias("max_h"),
    )


def sql_table_fingerprint() -> str:
    h8 = _sql_hex8(
        "md5(concat_ws(chr(31), CAST(doc_id AS VARCHAR), "
        "COALESCE(text, ''), COALESCE(lang, ''), COALESCE(source, ''), "
        "CAST(n_chars AS VARCHAR)))"
    )
    return f"""WITH hashed AS (
  SELECT {h8} AS h FROM documents
)
SELECT COUNT(*) AS n_rows, CAST(SUM(h) AS BIGINT) AS sum_h,
       CAST(MIN(h) AS BIGINT) AS min_h, CAST(MAX(h) AS BIGINT) AS max_h
FROM hashed"""


QUERIES["q_table_fingerprint"] = q_table_fingerprint
ORACLES["q_table_fingerprint"] = sql_table_fingerprint


def q_hypertable_rollup(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Hypertable continuous-aggregate rollup (TimescaleDB-style):
    events collapse to minute buckets, hours re-aggregate FROM the
    minute aggregates, days FROM the hours — never from raw rows
    again. Every statistic is chosen mergeable (count-sum, sum-sum,
    min-min, max-max) so each level is a pure combine of the level
    below: the property that makes continuous aggregates incremental
    at 100 TB (a late minute touches one hour row, one day row). The
    three levels are returned unioned with a level tag; the minute
    frame is the only scan of the raw table."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.unix_timestamp("ts").cast("long").alias("ts_s"),
        F.floor(F.col("value") * 1e6).cast("long").alias("value_u"),
    )
    minute = (
        ev.groupBy((F.floor(F.col("ts_s") / 60) * 60).alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum("value_u").cast("long").alias("sum_value_u"),
            F.min("value_u").alias("min_value_u"),
            F.max("value_u").alias("max_value_u"),
        )
    )
    def _up(df, width):
        return (
            df.groupBy(
                (F.floor(F.col("bucket") / width) * width).alias("bucket")
            )
            .agg(
                F.sum("n").cast("long").alias("n"),
                F.sum("sum_value_u").cast("long").alias("sum_value_u"),
                F.min("min_value_u").alias("min_value_u"),
                F.max("max_value_u").alias("max_value_u"),
            )
        )
    hour = _up(minute, 3600)
    day = _up(hour, 86400)
    return (
        minute.select(F.lit("minute").alias("level"), "*")
        .unionByName(hour.select(F.lit("hour").alias("level"), "*"))
        .unionByName(day.select(F.lit("day").alias("level"), "*"))
    )


def sql_hypertable_rollup() -> str:
    return """WITH ev AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         CAST(floor(value * 1e6) AS BIGINT) AS value_u
  FROM events
),
minute AS (
  SELECT (ts_s // 60) * 60 AS bucket, COUNT(*) AS n,
         CAST(SUM(value_u) AS BIGINT) AS sum_value_u,
         MIN(value_u) AS min_value_u, MAX(value_u) AS max_value_u
  FROM ev GROUP BY 1
),
hour AS (
  SELECT (bucket // 3600) * 3600 AS bucket,
         CAST(SUM(n) AS BIGINT) AS n,
         CAST(SUM(sum_value_u) AS BIGINT) AS sum_value_u,
         MIN(min_value_u) AS min_value_u, MAX(max_value_u) AS max_value_u
  FROM minute GROUP BY 1
),
day AS (
  SELECT (bucket // 86400) * 86400 AS bucket,
         CAST(SUM(n) AS BIGINT) AS n,
         CAST(SUM(sum_value_u) AS BIGINT) AS sum_value_u,
         MIN(min_value_u) AS min_value_u, MAX(max_value_u) AS max_value_u
  FROM hour GROUP BY 1
)
SELECT 'minute' AS level, * FROM minute
UNION ALL SELECT 'hour', * FROM hour
UNION ALL SELECT 'day', * FROM day"""


QUERIES["q_hypertable_rollup"] = q_hypertable_rollup
ORACLES["q_hypertable_rollup"] = sql_hypertable_rollup


# ---------------------------------------------------------------------------
# wave 13: applied bloom pruning, random projection, epoch shuffle,
# compaction planning
# ---------------------------------------------------------------------------

_BLOOM_M = 16384
_BLOOM_K = 3
_RP_OUT_DIM = 8
_RP_SCALE = 1_000
_RP_SEED = "rp-v1"
_ES_EPOCHS = 2
_ES_BLOCKS = 8
_CP_TARGET = 20_000


def q_rp_embed(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Johnson-Lindenstrauss random projection 64 -> 8 dims over the
    embeddings table (operators/similarity.random_projection): the
    dimensionality-reduction front of ANN / clustering at 100 TB —
    zero shuffles, zero joins, one scan; the md5 lattice projection
    matrix is embedded as plan-time literals on BOTH engines."""
    from ..operators.similarity import random_projection

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return random_projection(
        emb, out_dim=_RP_OUT_DIM, dim=_LSH_DIM, seed=_RP_SEED, scale=_RP_SCALE
    )


def sql_rp_embed() -> str:
    from ..functions.lattice import plane_weights

    planes = plane_weights(_LSH_DIM, _RP_OUT_DIM, seed=_RP_SEED)
    vals = ",\n   ".join(
        f"({j}, [" + ", ".join(str(w) for w in row) + "]::DOUBLE[])"
        for j, row in enumerate(planes)
    )
    return f"""WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
planes(dim_id, w) AS (VALUES
   {vals}
)
SELECT v.vec_id, CAST(p.dim_id AS BIGINT) AS dim_id,
       CAST(floor(list_reduce(
         list_transform(range(1, {_LSH_DIM} + 1), i -> v.e[i] * p.w[i]),
         (a, b) -> a + b) * {_RP_SCALE}) AS BIGINT) AS proj_u
FROM vecs v CROSS JOIN planes p"""


QUERIES["q_rp_embed"] = q_rp_embed
ORACLES["q_rp_embed"] = sql_rp_embed


def q_bloom_prune(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The Bloom pruning filter APPLIED (q_bloom_build only builds the
    artifact): custkeys of one market segment -> packed bit mask ->
    scan-side membership test pruning the orders probe BEFORE the real
    join. The mask is a bounded driver collect (<= m positions — plan
    metadata, like the k-means centroids) shipped as ~m/32 literal
    longs; the probe filter is pure bit codegen with zero shuffle, the
    residual exact join broadcasts the small build side. Output keeps
    ``n_bloom_candidates`` so the oracle replays the identical md5
    bloom math — false-positive behavior is cross-checked, not
    assumed."""
    from ..operators.layout import bloom_build, bloom_mask_words, bloom_member

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    build = cust.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("key")
    )
    positions = [
        r.pos for r in bloom_build(build, "key", m=_BLOOM_M, k=_BLOOM_K).collect()
    ]
    mask = bloom_mask_words(positions, m=_BLOOM_M)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cand = orders.where(
        bloom_member(F.col("o_custkey"), mask, m=_BLOOM_M, k=_BLOOM_K)
    )
    n_cand = cand.agg(F.count("*").cast("long").alias("n_bloom_candidates"))
    exact = (
        cand.join(F.broadcast(build), cand.o_custkey == F.col("key"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_custkeys"),
        )
    )
    return exact.crossJoin(F.broadcast(n_cand))


def sql_bloom_prune() -> str:
    probe = (
        "(CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR) || '#{i}'), 1, 8) "
        f"AS BIGINT) % {_BLOOM_M}) IN (SELECT pos FROM pos)"
    )
    conds = " AND ".join(probe.replace("{i}", str(i)) for i in range(_BLOOM_K))
    idx_vals = ", ".join(f"({i})" for i in range(_BLOOM_K))
    return f"""WITH build AS (
  SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'
),
pos AS (
  SELECT DISTINCT
    CAST('0x' || substr(md5(CAST(key AS VARCHAR) || '#' || i), 1, 8) AS BIGINT)
      % {_BLOOM_M} AS pos
  FROM build CROSS JOIN (VALUES {idx_vals}) t(i)
),
cand AS (
  SELECT * FROM orders WHERE {conds}
),
n_cand AS (SELECT COUNT(*) AS n_bloom_candidates FROM cand)
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_custkeys,
       (SELECT n_bloom_candidates FROM n_cand) AS n_bloom_candidates
FROM cand JOIN build ON cand.o_custkey = build.key
GROUP BY o_orderpriority"""


QUERIES["q_bloom_prune"] = q_bloom_prune
ORACLES["q_bloom_prune"] = sql_bloom_prune


def q_epoch_shuffle(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Deterministic per-epoch training-order shuffle
    (operators/split.epoch_shuffle): every epoch re-scatters the
    corpus into md5 blocks and orders within blocks by the digest —
    reproducible, one shuffle, no global sort."""
    from ..operators.split import epoch_shuffle

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return epoch_shuffle(
        docs, "doc_id", n_epochs=_ES_EPOCHS, n_blocks=_ES_BLOCKS
    )


def sql_epoch_shuffle() -> str:
    ep_vals = ", ".join(f"({e})" for e in range(_ES_EPOCHS))
    return f"""WITH ids AS (
  SELECT CAST(doc_id AS VARCHAR) AS id FROM documents
),
keyed AS (
  SELECT e.epoch, ids.id,
         md5('epoch-v1:' || e.epoch || ':' || ids.id) AS h
  FROM ids CROSS JOIN (VALUES {ep_vals}) e(epoch)
),
blocked AS (
  SELECT CAST(epoch AS BIGINT) AS epoch,
         CAST('0x' || substr(h, 1, 8) AS BIGINT) % {_ES_BLOCKS} AS block,
         h, id
  FROM keyed
)
SELECT epoch, block,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY epoch, block ORDER BY h, id) AS BIGINT) AS pos,
       id AS doc_id
FROM blocked"""


QUERIES["q_epoch_shuffle"] = q_epoch_shuffle
ORACLES["q_epoch_shuffle"] = sql_epoch_shuffle


def q_compaction_plan(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Small-file compaction planning (operators/layout.compaction_plan):
    per table partition (source), files sorted (size desc, id) fill
    bins by running byte count — the OPTIMIZE planner shape that works
    on file METADATA, so the window scale is file counts, not data."""
    from ..operators.layout import compaction_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return compaction_plan(docs, "source", "n_chars", "doc_id", _CP_TARGET)


def sql_compaction_plan() -> str:
    return f"""WITH binned AS (
  SELECT source AS part, n_chars AS sz,
         CAST(floor((SUM(n_chars) OVER (
            PARTITION BY source ORDER BY n_chars DESC, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
          ) - n_chars) / {_CP_TARGET}) AS BIGINT) AS bin_id
  FROM documents
)
SELECT part, bin_id, COUNT(*) AS n_files, CAST(SUM(sz) AS BIGINT) AS bin_bytes
FROM binned GROUP BY part, bin_id"""


QUERIES["q_compaction_plan"] = q_compaction_plan
ORACLES["q_compaction_plan"] = sql_compaction_plan


# ---------------------------------------------------------------------------
# wave 14: iterative BPE training, label-propagation communities,
# weighted sampling, native streaming dedup-within-watermark
# ---------------------------------------------------------------------------

_BPE_MERGES = 3
_LP_ROUNDS = 3
_WS_K = 25
_WS_SALT = "wsample-v1"


def q_bpe_train(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The actual iterative BPE merge loop (operators/bpe.bpe_train):
    corpus collapses to its vocabulary once, then each round is pair
    counts over the vocab + a one-row argmax collect + a scan-side
    literal-replace merge. The oracle unrolls the identical rounds."""
    from ..operators.bpe import bpe_train

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_train(docs, n_merges=_BPE_MERGES)


def _sql_bpe_chain() -> str:
    """Shared unrolled BPE CTE chain: words -> v0, then per round
    pair counts p{r}, argmax m{r}, merged vocab v{r} — used by both
    the train oracle (reads m1..mN) and the encode oracle (reads
    v{_BPE_MERGES})."""
    toks = _TOKS.format(c="text")
    parts = [
        f"""WITH toks AS (
  SELECT unnest({toks}) AS w FROM documents
),
words AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM toks
  WHERE regexp_matches(w, '^[a-z]+$') GROUP BY w
),
v0 AS (
  SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS tok, freq FROM words
)"""
    ]
    for r in range(1, _BPE_MERGES + 1):
        parts.append(f""",
p{r} AS (
  SELECT pr, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
    SELECT unnest(list_transform(range(1, len(a)),
                  i -> a[i] || ' ' || a[i + 1])) AS pr, freq
    FROM (SELECT string_split(tok, ' ') AS a, freq FROM v{r - 1})
    WHERE len(a) > 1
  ) GROUP BY pr
),
m{r} AS (
  SELECT CAST({r} AS BIGINT) AS round, pr AS pair, cnt
  FROM p{r} ORDER BY cnt DESC, pr LIMIT 1
),
v{r} AS (
  -- COALESCE sentinel '0 0': when round {r} found no pair (m{r}
  -- empty -> scalar subquery NULL), the pattern ' 0  0 ' can never
  -- match a vocabulary token (tokens are ^[a-z]+$ fragments), so the
  -- vocab passes through unchanged — mirroring the Spark loop break
  -- instead of NULLing every token
  SELECT trim(regexp_replace(
    replace(' ' || replace(tok, ' ', '  ') || ' ',
            ' ' || replace(COALESCE((SELECT pair FROM m{r}), '0 0'), ' ', '  ') || ' ',
            ' ' || replace(COALESCE((SELECT pair FROM m{r}), '0 0'), ' ', '') || ' '),
    ' +', ' ', 'g')) AS tok, freq
  FROM v{r - 1}
)""")
    return "".join(parts)


def sql_bpe_train() -> str:
    union = "\nUNION ALL ".join(
        f"SELECT * FROM m{r}" for r in range(1, _BPE_MERGES + 1)
    )
    return _sql_bpe_chain() + "\n" + union


QUERIES["q_bpe_train"] = q_bpe_train
ORACLES["q_bpe_train"] = sql_bpe_train


def q_label_prop(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Synchronous label-propagation communities
    (operators/graph.label_propagation, deterministic tie-break) over
    the same arithmetic synthetic web graph as q_pagerank/q_hits —
    fixed rounds so the oracle unrolls them exactly."""
    from ..operators.graph import label_propagation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    n_df = ids.agg(F.count("*").alias("n"))
    base = ids.crossJoin(F.broadcast(n_df))
    e1 = base.select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 31 + 7, F.col("n")).alias("dst"),
    )
    e2 = base.where(F.pmod(F.col("doc_id"), F.lit(3)) == 0).select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 17 + 3, F.col("n")).alias("dst"),
    )
    out = label_propagation(e1.union(e2), rounds=_LP_ROUNDS)
    return out.select(
        F.col("node").cast("long").alias("node"),
        F.col("label").cast("long").alias("label"),
    )


def sql_label_prop() -> str:
    parts = [
        """WITH n_docs AS (SELECT COUNT(*) AS n FROM documents),
ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
e_raw AS (
  SELECT id AS a, (31 * id + 7) % (SELECT n FROM n_docs) AS b FROM ids
  UNION ALL
  SELECT id, (17 * id + 3) % (SELECT n FROM n_docs) FROM ids WHERE id % 3 = 0
),
und AS (
  SELECT DISTINCT a, b FROM (
    SELECT a, b FROM e_raw UNION ALL SELECT b AS a, a AS b FROM e_raw
  )
),
l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM und)"""
    ]
    for r in range(1, _LP_ROUNDS + 1):
        parts.append(f""",
c{r} AS (
  SELECT u.a AS node, l.lbl, COUNT(*) AS c
  FROM und u JOIN l{r - 1} l ON u.b = l.node GROUP BY u.a, l.lbl
),
n{r} AS (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rk
    FROM c{r}
  ) WHERE rk = 1
),
l{r} AS (
  SELECT l.node, COALESCE(n.lbl, l.lbl) AS lbl
  FROM l{r - 1} l LEFT JOIN n{r} n ON l.node = n.node
)""")
    parts.append(
        f"\nSELECT node, lbl AS label FROM l{_LP_ROUNDS}"
    )
    return "".join(parts)


QUERIES["q_label_prop"] = q_label_prop
ORACLES["q_label_prop"] = sql_label_prop


def q_weighted_sample(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Deterministic weighted sampling without replacement
    (operators/split.weighted_sample): integer A-ES surrogate,
    priority = md5_u60(key|salt) div weight, one
    TakeOrderedAndProject reduction."""
    from ..operators.split import weighted_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return weighted_sample(docs, "doc_id", "n_chars", k=_WS_K, salt=_WS_SALT)


def sql_weighted_sample() -> str:
    return f"""WITH w AS (
  SELECT CAST(doc_id AS VARCHAR) AS key,
         GREATEST(CAST(n_chars AS BIGINT), 1) AS weight,
         CAST('0x' || substr(
           md5(CAST(doc_id AS VARCHAR) || '|{_WS_SALT}'), 1, 15) AS BIGINT)
           AS u60
  FROM documents
)
SELECT key, weight, CAST(u60 // weight AS BIGINT) AS priority
FROM w ORDER BY priority, key LIMIT {_WS_K}"""


QUERIES["q_weighted_sample"] = q_weighted_sample
ORACLES["q_weighted_sample"] = sql_weighted_sample


def q_stream_dedup_watermark(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """NATIVE streaming dedup: ``dropDuplicatesWithinWatermark`` on
    (user_id, event_type) under an event-time watermark — the built-in
    twin of the applyInPandasWithState first-seen operator
    (q_first_seen_dedup_stream). Arrival order decides WHICH row
    survives, so the checked projection is the distinct key set, which
    is deterministic; the whole corpus drains as one availableNow
    batch so no state is evicted mid-run."""
    import os
    import re
    import tempfile

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    src_dir = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_events_{tag}_{spark.sparkContext.applicationId}",
    )
    os.makedirs(src_dir, exist_ok=True)
    link = os.path.join(src_dir, "events.parquet")
    if os.path.lexists(link):
        os.unlink(link)
    os.symlink(path, link)
    src = spark.readStream.schema(schema).parquet(src_dir)
    # parquet micros land as TIMESTAMP_NTZ; watermarks need TIMESTAMP
    src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    dd = src.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    _STREAM_SEQ[0] += 1
    name = f"dedup_watermark_stream_{_STREAM_SEQ[0]}"
    q = (
        dd.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select("user_id", "event_type")


def sql_stream_dedup_watermark() -> str:
    return "SELECT DISTINCT user_id, event_type FROM events"


QUERIES["q_stream_dedup_watermark"] = q_stream_dedup_watermark
ORACLES["q_stream_dedup_watermark"] = sql_stream_dedup_watermark


# ---------------------------------------------------------------------------
# wave 15: BPE encode (train -> apply), deterministic random walks
# ---------------------------------------------------------------------------

_BPE_TOPN = 50
_RW_STEPS = 4


def q_bpe_encode(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The full tokenizer train -> APPLY loop: bpe_train's merge list
    fed to operators/bpe.bpe_encode, returning the corpus token
    histogram under the trained vocabulary — what a tokenization job
    ships. The oracle replays the identical unrolled merge chain and
    reads the final vocab CTE."""
    from ..operators.bpe import bpe_encode, bpe_train

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = [
        tuple(r.pair.split(" "))
        for r in bpe_train(docs, n_merges=_BPE_MERGES).collect()
    ]
    return bpe_encode(docs, merges, top_n=_BPE_TOPN)


def sql_bpe_encode() -> str:
    return (
        _sql_bpe_chain()
        + f"""
SELECT token, CAST(SUM(freq) AS BIGINT) AS cnt
FROM (
  SELECT unnest(string_split(tok, ' ')) AS token, freq
  FROM v{_BPE_MERGES}
)
GROUP BY token ORDER BY cnt DESC, token LIMIT {_BPE_TOPN}"""
    )


QUERIES["q_bpe_encode"] = q_bpe_encode
ORACLES["q_bpe_encode"] = sql_bpe_encode


def q_random_walks(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Deterministic uniform random walks (operators/graph.
    random_walks) over the synthetic arithmetic web graph — the
    DeepWalk/node2vec corpus-generation stage for KG embeddings; the
    md5 step draw is replayed exactly by the oracle's unrolled hops."""
    from ..operators.graph import random_walks

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    n_df = ids.agg(F.count("*").alias("n"))
    base = ids.crossJoin(F.broadcast(n_df))
    e1 = base.select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 31 + 7, F.col("n")).alias("dst"),
    )
    e2 = base.where(F.pmod(F.col("doc_id"), F.lit(3)) == 0).select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 17 + 3, F.col("n")).alias("dst"),
    )
    out = random_walks(e1.union(e2), steps=_RW_STEPS)
    return out.select(
        F.col("walk_id").cast("long").alias("walk_id"),
        F.col("step").cast("long").alias("step"),
        F.col("node").cast("long").alias("node"),
    )


def sql_random_walks() -> str:
    parts = [
        """WITH n_docs AS (SELECT COUNT(*) AS n FROM documents),
ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
e_raw AS (
  SELECT id AS a, (31 * id + 7) % (SELECT n FROM n_docs) AS b FROM ids
  UNION ALL
  SELECT id, (17 * id + 3) % (SELECT n FROM n_docs) FROM ids WHERE id % 3 = 0
),
e AS (SELECT DISTINCT a, b FROM e_raw),
adj AS (SELECT a, b, ROW_NUMBER() OVER (PARTITION BY a ORDER BY b) AS rk FROM e),
deg AS (SELECT a, COUNT(*) AS deg FROM e GROUP BY a),
w0 AS (SELECT DISTINCT a AS walk_id, a AS node FROM e)"""
    ]
    for t in range(1, _RW_STEPS + 1):
        parts.append(f""",
w{t} AS (
  SELECT w.walk_id, adj.b AS node
  FROM w{t - 1} w
  JOIN deg ON w.node = deg.a
  JOIN adj ON adj.a = w.node
   AND adj.rk = (CAST('0x' || substr(
       md5('walk-v1:' || CAST(w.walk_id AS VARCHAR) || ':{t}'),
       1, 8) AS BIGINT) % deg.deg) + 1
)""")
    union = "\nUNION ALL ".join(
        f"SELECT walk_id, CAST({t} AS BIGINT) AS step, node FROM w{t}"
        for t in range(0, _RW_STEPS + 1)
    )
    parts.append("\n" + union)
    return "".join(parts)


QUERIES["q_random_walks"] = q_random_walks
ORACLES["q_random_walks"] = sql_random_walks


# ---------------------------------------------------------------------------
# wave 16: mergeable quantile sketch, correlated-subquery decorrelation
# ---------------------------------------------------------------------------

_QS_SHARDS = 16
_QS_K_SHARD = 32
_QS_K_MERGED = 64
_QS_QS = (250_000, 500_000, 750_000)
_QS_SALT = "qsketch-v1"


def q_quantile_sketch(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Approximate quantiles from mergeable bounded per-shard samples
    (operators/sketch.quantile_sketch) — the deterministic t-digest/KLL
    stand-in: explicit md5-uniform shard samples, hash-smallest merge,
    exact ceil-ranks over the merged sample. Bounded state per shard,
    no global sort of the corpus."""
    from ..operators.sketch import quantile_sketch

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return quantile_sketch(
        ev,
        "value",
        "event_id",
        n_shards=_QS_SHARDS,
        k_per_shard=_QS_K_SHARD,
        k_merged=_QS_K_MERGED,
        qs_u=_QS_QS,
        salt=_QS_SALT,
    )


def sql_quantile_sketch() -> str:
    scale = 1_000_000
    q_vals = ", ".join(f"({q})" for q in _QS_QS)
    return f"""WITH rows AS (
  SELECT CAST(event_id AS BIGINT) % {_QS_SHARDS} AS shard,
         CAST(floor(CAST(value AS DOUBLE) * {scale}) AS BIGINT) AS v_u,
         md5(CAST(event_id AS VARCHAR) || '|{_QS_SALT}') AS h,
         CAST(event_id AS BIGINT) AS rid
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
),
shard_sample AS (
  SELECT v_u, h, rid FROM (
    SELECT v_u, h, rid,
           ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, rid) AS rk
    FROM rows
  ) WHERE rk <= {_QS_K_SHARD}
),
merged AS (
  SELECT v_u, rid FROM shard_sample ORDER BY h, rid LIMIT {_QS_K_MERGED}
),
ranked AS (
  SELECT v_u,
         CAST(ROW_NUMBER() OVER (ORDER BY v_u, rid) AS BIGINT) AS vrk,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM merged) AS sample_n
  FROM merged
)
SELECT q.q_u, r.v_u AS est_u, r.sample_n
FROM ranked r
JOIN (SELECT CAST(q_u AS BIGINT) AS q_u FROM (VALUES {q_vals}) t(q_u)) q
  ON r.vrk = (q.q_u * r.sample_n + {scale - 1}) // {scale}"""


QUERIES["q_quantile_sketch"] = q_quantile_sketch
ORACLES["q_quantile_sketch"] = sql_quantile_sketch


def q_max_order_per_cust(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Correlated-subquery decorrelation showcase: the query is
    SUBMITTED to Spark as the correlated SQL form ('orders whose price
    equals their customer's max') and Catalyst rewrites it into an
    aggregate + join — the plan contains no per-row subquery (pinned
    by test). The DuckDB oracle runs the same correlated SQL. Ties at
    the per-customer max keep every tied order on both engines."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders.createOrReplaceTempView("_orders_w16")
    return spark.sql(
        """SELECT o_custkey, o_orderkey,
                  CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents
           FROM _orders_w16 o
           WHERE o_totalprice = (SELECT MAX(o2.o_totalprice)
                                 FROM _orders_w16 o2
                                 WHERE o2.o_custkey = o.o_custkey)"""
    )


def sql_max_order_per_cust() -> str:
    return """SELECT o_custkey, o_orderkey,
       CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents
FROM orders o
WHERE o_totalprice = (SELECT MAX(o2.o_totalprice)
                      FROM orders o2
                      WHERE o2.o_custkey = o.o_custkey)"""


QUERIES["q_max_order_per_cust"] = q_max_order_per_cust
ORACLES["q_max_order_per_cust"] = sql_max_order_per_cust


# ---------------------------------------------------------------------------
# wave 17: video scene changes, audio activity segmentation
# ---------------------------------------------------------------------------

_SC_THRESHOLD = 13
_AS_NUM, _AS_DEN = 1, 2


def q_scene_changes(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Shot-boundary detection (multimodal.scene_changes) over videos
    with PLANTED scene structure: real Y4M decode -> per-frame Y-plane
    phash -> consecutive-frame split-half Hamming >= threshold. The
    corpus separates cleanly (within-scene <= 1 bit, cuts >= 26), so
    the query flags exactly the planted cuts."""
    from ..operators.multimodal import (
        decode_video_frames,
        scene_changes,
        synthesize_scene_media,
    )

    media = synthesize_scene_media(spark)
    frames = decode_video_frames(media, every_nth=1)
    return scene_changes(frames, threshold=_SC_THRESHOLD)


def sql_scene_changes() -> str:
    """Golden frame VALUES from the identical Y4M kernel; the lag +
    XOR-popcount comparison itself runs in SQL."""
    from ..operators.multimodal import scene_video_rows, video_frames_kernel

    vals = []
    for media_id, _url, _kind, payload, _ct, _nb in scene_video_rows():
        for idx, _ts, _w, _h, ph in video_frames_kernel(payload, 1):
            vals.append(f"({media_id}, {idx}, {_sql_str(ph)})")
    values = ",\n".join(vals)
    ham = "bit_count(xor(hi, phi)) + bit_count(xor(lo, plo))"
    return f"""WITH frames(media_id, frame_idx, phash) AS (VALUES
{values}
),
h AS (
  SELECT media_id, frame_idx,
         CAST('0x' || substr(phash, 1, 8) AS BIGINT) AS hi,
         CAST('0x' || substr(phash, 9, 8) AS BIGINT) AS lo
  FROM frames
),
c AS (
  SELECT media_id, frame_idx, hi, lo,
         LAG(frame_idx) OVER w AS prev_idx,
         LAG(hi) OVER w AS phi,
         LAG(lo) OVER w AS plo
  FROM h WINDOW w AS (PARTITION BY media_id ORDER BY frame_idx)
)
SELECT CAST(media_id AS BIGINT) AS media_id,
       CAST(prev_idx AS BIGINT) AS prev_idx,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST({ham} AS BIGINT) AS hamming
FROM c
WHERE prev_idx IS NOT NULL AND {ham} >= {_SC_THRESHOLD}"""


QUERIES["q_scene_changes"] = q_scene_changes
ORACLES["q_scene_changes"] = sql_scene_changes


def q_audio_segments(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Voice-activity segmentation (multimodal.active_segments) over
    WAVs with PLANTED silence windows: real PCM decode -> integer
    block energies -> per-track mean threshold -> gaps-and-islands
    runs. Every track must split into exactly two active segments."""
    from ..operators.multimodal import (
        active_segments,
        decode_audio_blocks,
        synthesize_scene_media,
    )

    media = synthesize_scene_media(spark)
    return active_segments(
        decode_audio_blocks(media), num=_AS_NUM, den=_AS_DEN
    )


def sql_audio_segments() -> str:
    """Golden block-energy VALUES from the identical WAV kernel; the
    threshold + islands logic runs in SQL."""
    from ..operators.multimodal import audio_block_energies, silent_audio_rows

    vals = []
    for media_id, _url, _kind, payload, _ct, _nb in silent_audio_rows():
        for i, e in enumerate(audio_block_energies(payload)):
            vals.append(f"({1000 + media_id}, {i}, {e})")
    values = ",\n".join(vals)
    return f"""WITH blocks(media_id, block_idx, energy) AS (VALUES
{values}
),
tot AS (
  SELECT media_id, SUM(energy) AS s, COUNT(*) AS n
  FROM blocks GROUP BY media_id
),
act AS (
  SELECT b.media_id, b.block_idx
  FROM blocks b JOIN tot t USING (media_id)
  WHERE b.energy * {_AS_DEN} * t.n > t.s * {_AS_NUM}
),
isl AS (
  SELECT media_id, block_idx,
         block_idx - ROW_NUMBER() OVER (
           PARTITION BY media_id ORDER BY block_idx) AS grp
  FROM act
),
seg AS (
  SELECT media_id, grp, MIN(block_idx) AS start_block,
         MAX(block_idx) AS end_block, COUNT(*) AS n_blocks
  FROM isl GROUP BY media_id, grp
)
SELECT CAST(media_id AS BIGINT) AS media_id,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY media_id ORDER BY start_block) AS BIGINT) AS seg_id,
       CAST(start_block AS BIGINT) AS start_block,
       CAST(end_block AS BIGINT) AS end_block,
       CAST(n_blocks AS BIGINT) AS n_blocks
FROM seg"""


QUERIES["q_audio_segments"] = q_audio_segments
ORACLES["q_audio_segments"] = sql_audio_segments


# ---------------------------------------------------------------------------
# wave 18: k-truss cohesive subgraph
# ---------------------------------------------------------------------------

_KT_K = 4
_KT_ROUNDS = 2


def q_ktruss(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Fixed-round k-truss peeling (operators/graph.ktruss) over a
    mixed circulant graph (+1/+2 rings for every node, +3 chords for
    every 4th) whose supports straddle the k-2 cut, so round one peels
    part of the ring and round two re-evaluates the survivors — the
    oracle unrolls both rounds."""
    from ..operators.graph import ktruss

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    n_df = ids.agg(F.count("*").alias("n"))
    base = ids.crossJoin(F.broadcast(n_df))
    rings = [
        base.select(
            F.col("doc_id").alias("src"),
            F.pmod(F.col("doc_id") + j, F.col("n")).alias("dst"),
        )
        for j in (1, 2)
    ]
    chords = base.where(F.pmod(F.col("doc_id"), F.lit(4)) == 0).select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") + 3, F.col("n")).alias("dst"),
    )
    e = rings[0].union(rings[1]).union(chords)
    out = ktruss(e, k=_KT_K, rounds=_KT_ROUNDS)
    return out.select(
        F.col("a").cast("long").alias("a"), F.col("b").cast("long").alias("b")
    )


def sql_ktruss() -> str:
    parts = [
        """WITH n_docs AS (SELECT COUNT(*) AS n FROM documents),
ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
e_raw AS (
  SELECT id AS x, (id + 1) % (SELECT n FROM n_docs) AS y FROM ids
  UNION ALL
  SELECT id, (id + 2) % (SELECT n FROM n_docs) FROM ids
  UNION ALL
  SELECT id, (id + 3) % (SELECT n FROM n_docs) FROM ids WHERE id % 4 = 0
),
e0 AS (
  SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
  FROM e_raw WHERE x <> y
)"""
    ]
    for r in range(1, _KT_ROUNDS + 1):
        parts.append(f""",
t{r} AS (
  SELECT e1.a AS u, e1.b AS v, e2.b AS w
  FROM e{r - 1} e1
  JOIN e{r - 1} e2 ON e1.b = e2.a
  JOIN e{r - 1} e3 ON e3.a = e1.a AND e3.b = e2.b
),
s{r} AS (
  SELECT a, b, COUNT(*) AS sup FROM (
    SELECT u AS a, v AS b FROM t{r}
    UNION ALL SELECT v, w FROM t{r}
    UNION ALL SELECT u, w FROM t{r}
  ) GROUP BY a, b
),
e{r} AS (
  SELECT e.a, e.b FROM e{r - 1} e
  LEFT JOIN s{r} s ON e.a = s.a AND e.b = s.b
  WHERE COALESCE(s.sup, 0) >= {_KT_K - 2}
)""")
    parts.append(f"\nSELECT a, b FROM e{_KT_ROUNDS}")
    return "".join(parts)


QUERIES["q_ktruss"] = q_ktruss
ORACLES["q_ktruss"] = sql_ktruss


# --- wave 19: bounded SCC, link prediction, gap-fill, outliers, -----------
# --- stratified sampling, referential-integrity audit ---------------------

_SCC_DEPTH = 8
_SCC_BLOCK = 6


def q_scc_bounded(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Bounded strongly-connected components
    (operators/graph.scc_bounded): directed graph of 6-cycles (block
    rings over doc ids) plus one-way chord edges every 7th node —
    redirect-ring / sameAs-loop detection. Mutual reachability within
    8 hops, labels = min mutual-reach node; the oracle replays the
    identical bound with a depth-limited recursive CTE."""
    from ..operators.graph import scc_bounded

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.select(F.col("doc_id").cast("long").alias("i"))
    n_df = ids.agg(F.count("*").alias("n"))
    base = ids.crossJoin(F.broadcast(n_df))
    ring = base.select(
        F.col("i").alias("subj"),
        F.when(
            (F.pmod(F.col("i"), F.lit(_SCC_BLOCK)) == _SCC_BLOCK - 1)
            | (F.col("i") == F.col("n") - 1),
            F.col("i") - F.pmod(F.col("i"), F.lit(_SCC_BLOCK)),
        )
        .otherwise(F.col("i") + 1)
        .alias("obj"),
    )
    chords = base.where(F.pmod(F.col("i"), F.lit(7)) == 0).select(
        F.col("i").alias("subj"),
        F.pmod(F.col("i") * 13 + 5, F.col("n")).alias("obj"),
    )
    out = scc_bounded(ring.union(chords), max_depth=_SCC_DEPTH)
    return out.select(
        F.col("node").cast("long").alias("node"),
        F.col("scc_id").cast("long").alias("scc_id"),
    )


def sql_scc_bounded() -> str:
    return f"""WITH RECURSIVE
n_docs AS (SELECT COUNT(*) AS n FROM documents),
ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
e AS (
  SELECT i AS src,
         CASE WHEN i % {_SCC_BLOCK} = {_SCC_BLOCK - 1}
                   OR i = (SELECT n FROM n_docs) - 1
              THEN i - (i % {_SCC_BLOCK}) ELSE i + 1 END AS dst
  FROM ids
  UNION ALL
  SELECT i, (13 * i + 5) % (SELECT n FROM n_docs)
  FROM ids WHERE i % 7 = 0
),
reach(u, v, d) AS (
  SELECT src, dst, 1 FROM e
  UNION
  SELECT r.u, e.dst, r.d + 1 FROM reach r JOIN e ON r.v = e.src
  WHERE r.d < {_SCC_DEPTH}
),
cl AS (
  SELECT DISTINCT u, v FROM reach
  UNION SELECT i, i FROM ids
)
SELECT c1.v AS node, MIN(c1.u) AS scc_id
FROM cl c1 JOIN cl c2 ON c1.u = c2.v AND c1.v = c2.u
GROUP BY c1.v"""


QUERIES["q_scc_bounded"] = q_scc_bounded
ORACLES["q_scc_bounded"] = sql_scc_bounded


_LPRED_MIN_COMMON = 2


def q_link_predict(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Common-neighbor link prediction
    (operators/graph.link_prediction) over the same arithmetic web
    graph as q_label_prop/q_pagerank: non-adjacent pairs with >= 2
    shared neighbors, scored by integer micro-unit neighborhood
    Jaccard — missing-edge candidates for KG completion."""
    from ..operators.graph import link_prediction

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    n_df = ids.agg(F.count("*").alias("n"))
    base = ids.crossJoin(F.broadcast(n_df))
    e1 = base.select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 31 + 7, F.col("n")).alias("dst"),
    )
    e2 = base.where(F.pmod(F.col("doc_id"), F.lit(3)) == 0).select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 17 + 3, F.col("n")).alias("dst"),
    )
    e3 = base.where(F.pmod(F.col("doc_id"), F.lit(2)) == 0).select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 7 + 11, F.col("n")).alias("dst"),
    )
    out = link_prediction(
        e1.union(e2).union(e3), min_common=_LPRED_MIN_COMMON
    )
    return out.select(
        F.col("u").cast("long").alias("u"),
        F.col("w").cast("long").alias("w"),
        "common",
        "jaccard_u",
    )


def sql_link_predict() -> str:
    return f"""WITH n_docs AS (SELECT COUNT(*) AS n FROM documents),
ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
e_raw AS (
  SELECT id AS a, (31 * id + 7) % (SELECT n FROM n_docs) AS b FROM ids
  UNION ALL
  SELECT id, (17 * id + 3) % (SELECT n FROM n_docs) FROM ids WHERE id % 3 = 0
  UNION ALL
  SELECT id, (7 * id + 11) % (SELECT n FROM n_docs) FROM ids WHERE id % 2 = 0
),
und AS (
  SELECT DISTINCT a, b FROM (
    SELECT a, b FROM e_raw UNION ALL SELECT b AS a, a AS b FROM e_raw
  ) WHERE a <> b
),
deg AS (SELECT a, COUNT(*) AS deg FROM und GROUP BY a),
wedge AS (
  SELECT e1.b AS u, e2.b AS w, COUNT(*) AS common
  FROM und e1 JOIN und e2 ON e1.a = e2.a
  WHERE e1.b < e2.b GROUP BY e1.b, e2.b
),
cand AS (
  SELECT c.u, c.w, c.common FROM wedge c
  LEFT JOIN und x ON c.u = x.a AND c.w = x.b
  WHERE x.a IS NULL AND c.common >= {_LPRED_MIN_COMMON}
)
SELECT c.u, c.w, CAST(c.common AS BIGINT) AS common,
       CAST((c.common * 1000000) // (du.deg + dw.deg - c.common)
            AS BIGINT) AS jaccard_u
FROM cand c
JOIN deg du ON du.a = c.u
JOIN deg dw ON dw.a = c.w"""


QUERIES["q_link_predict"] = q_link_predict
ORACLES["q_link_predict"] = sql_link_predict


def q_gap_fill(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Hourly gap-fill with last-observation-carried-forward
    (operators/temporal.gap_fill_locf): per-user dense hourly spine,
    observed buckets = integer micro-unit sums, empty buckets carry
    the previous value and flag is_gap — the time_bucket_gapfill +
    locf hypertable pair re-expressed for Spark."""
    from ..operators.temporal import gap_fill_locf

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = gap_fill_locf(ev, key_col="user_id", ts_col="ts",
                        value_col="value", step_hours=1)
    return out.select(
        "user_id",
        F.unix_timestamp("bucket_ts").cast("long").alias("bucket_s"),
        F.col("value_u").cast("long").alias("value_u"),
        "is_gap",
    )


def sql_gap_fill() -> str:
    return """WITH b AS (
  SELECT user_id AS key, date_trunc('hour', ts) AS bucket_ts,
         CAST(floor(value * 1000000) AS BIGINT) AS v_u
  FROM events
),
obs AS (
  SELECT key, bucket_ts, CAST(SUM(v_u) AS BIGINT) AS obs_u
  FROM b GROUP BY key, bucket_ts
),
rng AS (
  SELECT key, MIN(bucket_ts) AS lo, MAX(bucket_ts) AS hi
  FROM obs GROUP BY key
),
spine AS (
  SELECT key,
         unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_ts
  FROM rng
),
j AS (
  SELECT s.key, s.bucket_ts, o.obs_u
  FROM spine s LEFT JOIN obs o
    ON s.key = o.key AND s.bucket_ts = o.bucket_ts
)
SELECT key AS user_id, CAST(epoch(bucket_ts) AS BIGINT) AS bucket_s,
       CAST(last_value(obs_u IGNORE NULLS) OVER (
         PARTITION BY key ORDER BY bucket_ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS value_u,
       CAST(CASE WHEN obs_u IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_gap
FROM j"""


QUERIES["q_gap_fill"] = q_gap_fill
ORACLES["q_gap_fill"] = sql_gap_fill


_OUT_Z = 2
_OUT_SCALE = 100


def q_outliers(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-event-type z-score outliers (operators/stats.zscore_outliers):
    rows > 2 population standard deviations from their type's mean,
    decided by cross-multiplied integer arithmetic in centi-units —
    no doubles, no division, so both engines agree bit-for-bit."""
    from ..operators.stats import zscore_outliers

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = zscore_outliers(
        ev, group_col="event_type", id_col="event_id",
        value_col="value", z=_OUT_Z, scale=_OUT_SCALE,
    )
    return out.select(
        "event_type",
        F.col("event_id").cast("long").alias("event_id"),
        F.col("value_u").cast("long").alias("value_u"),
    )


def sql_outliers() -> str:
    return f"""WITH base AS (
  SELECT event_type AS grp, CAST(event_id AS BIGINT) AS id,
         CAST(floor(value * {_OUT_SCALE}) AS BIGINT) AS v_u
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
),
mom AS (
  SELECT grp, COUNT(*) AS n, CAST(SUM(v_u) AS BIGINT) AS s,
         CAST(SUM(v_u * v_u) AS BIGINT) AS q
  FROM base GROUP BY grp
)
SELECT b.grp AS event_type, b.id AS event_id, b.v_u AS value_u
FROM base b JOIN mom m ON b.grp = m.grp
WHERE (m.n * b.v_u - m.s) * (m.n * b.v_u - m.s)
      > {_OUT_Z * _OUT_Z} * (m.n * m.q - m.s * m.s)"""


QUERIES["q_outliers"] = q_outliers
ORACLES["q_outliers"] = sql_outliers


_SS_K = 40
_SS_SALT = "strat-v1"


def q_stratified_sample(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Deterministic stratified sample (operators/split.
    stratified_sample): exactly min(40, |stratum|) documents per
    language by md5 priority — the per-source quota draw of a
    training-mixture builder, reproducible across engines."""
    from ..operators.split import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.select("lang", F.col("doc_id").cast("long").alias("doc_id"))
    return stratified_sample(base, "lang", "doc_id", k=_SS_K, salt=_SS_SALT)


def sql_stratified_sample() -> str:
    return f"""WITH s AS (
  SELECT lang AS grp, CAST(doc_id AS BIGINT) AS key,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR) || '|{_SS_SALT}'), doc_id
         ) AS rk
  FROM documents
)
SELECT grp, key, CAST(rk AS INTEGER) AS rk FROM s WHERE rk <= {_SS_K}"""


QUERIES["q_stratified_sample"] = q_stratified_sample
ORACLES["q_stratified_sample"] = sql_stratified_sample


def q_fk_orphans(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Referential-integrity audit (operators/stats.
    referential_orphans): orders whose customer key is missing from a
    parent table with every 10th customer dropped — the dangling-
    reference check a KG load runs after ingest. left_anti + count;
    the parent key column broadcasts after pruning."""
    from ..operators.stats import referential_orphans

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").where(
        F.pmod(F.col("c_custkey"), F.lit(10)) != 0
    )
    out = referential_orphans(orders, cust, "o_custkey", "c_custkey")
    return out.select(
        F.col("fk").cast("long").alias("fk"),
        F.col("n_orphans").cast("long").alias("n_orphans"),
    )


def sql_fk_orphans() -> str:
    return """WITH par AS (
  SELECT c_custkey FROM customer WHERE c_custkey % 10 <> 0
)
SELECT CAST(o.o_custkey AS BIGINT) AS fk, COUNT(*) AS n_orphans
FROM orders o LEFT JOIN par p ON o.o_custkey = p.c_custkey
WHERE p.c_custkey IS NULL
GROUP BY o.o_custkey"""


QUERIES["q_fk_orphans"] = q_fk_orphans
ORACLES["q_fk_orphans"] = sql_fk_orphans


# --- wave 20: landmark harmonic centrality, sharded stratified draw, ------
# --- per-group winsorization ----------------------------------------------

_HC_SEEDS = 8
_HC_HOPS = 6


def q_harmonic_centrality(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Landmark harmonic centrality
    (operators/graph.harmonic_centrality): 8 fixed landmarks, 6-hop
    bounded distances over the arithmetic web graph, integer
    micro-unit 1/d contributions — the scalable closeness stand-in
    (exact all-pairs is O(nm))."""
    from ..operators.graph import harmonic_centrality

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    n_df = ids.agg(F.count("*").alias("n"))
    base = ids.crossJoin(F.broadcast(n_df))
    e1 = base.select(
        F.col("doc_id").alias("subj"),
        F.pmod(F.col("doc_id") * 31 + 7, F.col("n")).alias("obj"),
    )
    e2 = base.where(F.pmod(F.col("doc_id"), F.lit(3)) == 0).select(
        F.col("doc_id").alias("subj"),
        F.pmod(F.col("doc_id") * 17 + 3, F.col("n")).alias("obj"),
    )
    seeds = ids.where(F.col("doc_id") < _HC_SEEDS).select(
        F.col("doc_id").alias("seed")
    )
    out = harmonic_centrality(e1.union(e2), seeds, max_hops=_HC_HOPS)
    return out.select(
        F.col("node").cast("long").alias("node"),
        "centrality_u",
        "n_seeds_reached",
    )


def sql_harmonic_centrality() -> str:
    return f"""WITH RECURSIVE
n_docs AS (SELECT COUNT(*) AS n FROM documents),
ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
e AS (
  SELECT i AS src, (31 * i + 7) % (SELECT n FROM n_docs) AS dst FROM ids
  UNION ALL
  SELECT i, (17 * i + 3) % (SELECT n FROM n_docs) FROM ids WHERE i % 3 = 0
),
seeds AS (SELECT i AS seed FROM ids WHERE i < {_HC_SEEDS}),
reach(seed, node, d) AS (
  SELECT seed, seed, 0 FROM seeds
  UNION
  SELECT r.seed, e.dst, r.d + 1 FROM reach r JOIN e ON r.node = e.src
  WHERE r.d < {_HC_HOPS}
),
m AS (SELECT seed, node, MIN(d) AS d FROM reach GROUP BY seed, node)
SELECT node, CAST(SUM(1000000 // d) AS BIGINT) AS centrality_u,
       COUNT(*) AS n_seeds_reached
FROM m WHERE d >= 1 GROUP BY node"""


QUERIES["q_harmonic_centrality"] = q_harmonic_centrality
ORACLES["q_harmonic_centrality"] = sql_harmonic_centrality


_SSH_SHARDS = 8


def q_stratified_shard(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Two-level sharded stratified draw (operators/split.
    stratified_sample_sharded): identical rows to q_stratified_sample
    by the top-k associativity argument — the oracle IS the
    single-level SQL, so the equivalence is hash-checked every
    round, while the plan spreads each stratum over 8 shard tasks."""
    from ..operators.split import stratified_sample_sharded

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.select("lang", F.col("doc_id").cast("long").alias("doc_id"))
    return stratified_sample_sharded(
        base, "lang", "doc_id", k=_SS_K, salt=_SS_SALT, shards=_SSH_SHARDS
    )


QUERIES["q_stratified_shard"] = q_stratified_shard
ORACLES["q_stratified_shard"] = sql_stratified_sample


_WZ_LO = 10_000
_WZ_HI = 990_000


def q_winsorize(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-event-type winsorization (operators/stats.winsorize_u):
    every value clipped to its type's exact [p1, p99] micro-unit
    band (ceil-rank quantiles) — tail clamping before normalization.
    The quantile rows broadcast back onto the scan; the clip is
    codegen'd LEAST/GREATEST."""
    from ..operators.stats import winsorize_u

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = winsorize_u(
        ev, "event_type", "event_id", "value", lo_u=_WZ_LO, hi_u=_WZ_HI
    )
    return out.select(
        "event_type",
        F.col("event_id").cast("long").alias("event_id"),
        "value_u",
        "clipped_u",
    )


def sql_winsorize() -> str:
    return f"""WITH v AS (
  SELECT event_type AS g, CAST(event_id AS BIGINT) AS id,
         CAST(floor(value * 1000000) AS BIGINT) AS v_u
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
),
r AS (
  SELECT g, v_u,
         row_number() OVER (PARTITION BY g ORDER BY v_u) AS rn,
         COUNT(*) OVER (PARTITION BY g) AS n_g
  FROM v
),
q(q_u) AS (VALUES (CAST({_WZ_LO} AS BIGINT)), (CAST({_WZ_HI} AS BIGINT))),
qq AS (
  SELECT r.g, q.q_u, r.v_u FROM r
  JOIN q ON r.rn = (q.q_u * r.n_g + 999999) // 1000000
),
band AS (
  SELECT g,
         MAX(CASE WHEN q_u = {_WZ_LO} THEN v_u END) AS lo,
         MAX(CASE WHEN q_u = {_WZ_HI} THEN v_u END) AS hi
  FROM qq GROUP BY g
)
SELECT v.g AS event_type, v.id AS event_id, v.v_u AS value_u,
       LEAST(GREATEST(v.v_u, b.lo), b.hi) AS clipped_u
FROM v JOIN band b ON v.g = b.g"""


QUERIES["q_winsorize"] = q_winsorize
ORACLES["q_winsorize"] = sql_winsorize


# --- wave 21: skip-gram pairs from the DeepWalk walk table ----------------

_SG_WINDOW = 2


def q_walk_skipgrams(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Skip-gram training pairs (operators/graph.walk_skipgrams) over
    the q_random_walks walk table — walks become word2vec 'sentences',
    positions within 2 of each other become counted (center, context)
    pairs; the oracle wraps the identical unrolled-walk SQL and
    replays the same window self-join."""
    from ..operators.graph import random_walks, walk_skipgrams

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    n_df = ids.agg(F.count("*").alias("n"))
    base = ids.crossJoin(F.broadcast(n_df))
    e1 = base.select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 31 + 7, F.col("n")).alias("dst"),
    )
    e2 = base.where(F.pmod(F.col("doc_id"), F.lit(3)) == 0).select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 17 + 3, F.col("n")).alias("dst"),
    )
    walks = random_walks(e1.union(e2), steps=_RW_STEPS)
    out = walk_skipgrams(walks, window=_SG_WINDOW)
    return out.select(
        F.col("center").cast("long").alias("center"),
        F.col("context").cast("long").alias("context"),
        "n_pairs",
    )


def sql_walk_skipgrams() -> str:
    return f"""WITH walks AS (
  SELECT * FROM ({sql_random_walks()}) t
)
SELECT a.node AS center, b.node AS context, COUNT(*) AS n_pairs
FROM walks a JOIN walks b
  ON a.walk_id = b.walk_id
 AND abs(a.step - b.step) BETWEEN 1 AND {_SG_WINDOW}
GROUP BY a.node, b.node"""


QUERIES["q_walk_skipgrams"] = q_walk_skipgrams
ORACLES["q_walk_skipgrams"] = sql_walk_skipgrams


_LPRED_MAX_DEG = 4


def q_link_predict_capped(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Hub-capped link prediction (operators/graph.link_prediction
    with max_wedge_degree): wedge centers above degree 4 are excluded
    before the quadratic wedge join — the bounded-cost variant that
    survives power-law hubs at crawl scale; degrees in the Jaccard
    denominator stay exact. The oracle replays the identical cap."""
    from ..operators.graph import link_prediction

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    n_df = ids.agg(F.count("*").alias("n"))
    base = ids.crossJoin(F.broadcast(n_df))
    e1 = base.select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 31 + 7, F.col("n")).alias("dst"),
    )
    e2 = base.where(F.pmod(F.col("doc_id"), F.lit(3)) == 0).select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 17 + 3, F.col("n")).alias("dst"),
    )
    e3 = base.where(F.pmod(F.col("doc_id"), F.lit(2)) == 0).select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 7 + 11, F.col("n")).alias("dst"),
    )
    out = link_prediction(
        e1.union(e2).union(e3),
        min_common=_LPRED_MIN_COMMON,
        max_wedge_degree=_LPRED_MAX_DEG,
    )
    return out.select(
        F.col("u").cast("long").alias("u"),
        F.col("w").cast("long").alias("w"),
        "common",
        "jaccard_u",
    )


def sql_link_predict_capped() -> str:
    return f"""WITH n_docs AS (SELECT COUNT(*) AS n FROM documents),
ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
e_raw AS (
  SELECT id AS a, (31 * id + 7) % (SELECT n FROM n_docs) AS b FROM ids
  UNION ALL
  SELECT id, (17 * id + 3) % (SELECT n FROM n_docs) FROM ids WHERE id % 3 = 0
  UNION ALL
  SELECT id, (7 * id + 11) % (SELECT n FROM n_docs) FROM ids WHERE id % 2 = 0
),
und AS (
  SELECT DISTINCT a, b FROM (
    SELECT a, b FROM e_raw UNION ALL SELECT b AS a, a AS b FROM e_raw
  ) WHERE a <> b
),
deg AS (SELECT a, COUNT(*) AS deg FROM und GROUP BY a),
centers AS (SELECT a FROM deg WHERE deg <= {_LPRED_MAX_DEG}),
wedge AS (
  SELECT e1.b AS u, e2.b AS w, COUNT(*) AS common
  FROM und e1 JOIN und e2 ON e1.a = e2.a
  JOIN centers c ON c.a = e1.a
  WHERE e1.b < e2.b GROUP BY e1.b, e2.b
),
cand AS (
  SELECT c.u, c.w, c.common FROM wedge c
  LEFT JOIN und x ON c.u = x.a AND c.w = x.b
  WHERE x.a IS NULL AND c.common >= {_LPRED_MIN_COMMON}
)
SELECT c.u, c.w, CAST(c.common AS BIGINT) AS common,
       CAST((c.common * 1000000) // (du.deg + dw.deg - c.common)
            AS BIGINT) AS jaccard_u
FROM cand c
JOIN deg du ON du.a = c.u
JOIN deg dw ON dw.a = c.w"""


QUERIES["q_link_predict_capped"] = q_link_predict_capped
ORACLES["q_link_predict_capped"] = sql_link_predict_capped


# --- wave 22: reciprocal-rank fusion of the lexical + vector retrievers ---

_RRF_K = 60


def q_hybrid_rrf(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Hybrid retrieval (operators/search.rrf_fuse): the BM25 top-20
    (ranked by score desc, id asc — a window over 20 rows, not the
    corpus) fused with the cosine top-10 for query vector 0 by
    reciprocal-rank fusion, k=60 — the standard lexical+vector
    combiner of a retrieval/curation stack. Fusion cost is
    O(k x lists) regardless of corpus size."""
    from ..operators.search import bm25_topk, rrf_fuse
    from ..operators.similarity import cosine_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lex = bm25_topk(
        docs,
        _BM25_TERMS,
        topk=_BM25_TOPK,
        scale=_BM25_SCALE,
        k1_u=_BM25_K1_U,
        b_u=_BM25_B_U,
        idf_cap_u=_BM25_IDF_CAP_U,
    ).select(
        F.col("doc_id").alias("id"),
        F.row_number()
        .over(Window.orderBy(F.col("score_u").desc(), F.col("doc_id")))
        .cast("long")
        .alias("rank"),
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    vec = cosine_topk(emb, qv, k=_TOPK_K).select(
        F.col("vec_id").alias("id"), F.col("rank").cast("long").alias("rank")
    )
    out = rrf_fuse([lex, vec], k_const=_RRF_K)
    return out.select(F.col("id").cast("long").alias("id"), "rrf_u", "n_lists")


def sql_hybrid_rrf() -> str:
    return f"""WITH lex AS (
  SELECT CAST(doc_id AS BIGINT) AS id,
         ROW_NUMBER() OVER (ORDER BY score_u DESC, doc_id) AS rank
  FROM ({sql_bm25_topk()}) t
),
vec AS (
  SELECT CAST(vec_id AS BIGINT) AS id, rank
  FROM ({sql_topk_cosine()}) t WHERE query_id = 0
),
u AS (
  SELECT id, 1000000 // ({_RRF_K} + rank) AS c FROM lex
  UNION ALL
  SELECT id, 1000000 // ({_RRF_K} + rank) AS c FROM vec
)
SELECT id, CAST(SUM(c) AS BIGINT) AS rrf_u,
       CAST(COUNT(*) AS INTEGER) AS n_lists
FROM u GROUP BY id"""


QUERIES["q_hybrid_rrf"] = q_hybrid_rrf
ORACLES["q_hybrid_rrf"] = sql_hybrid_rrf


# ---------------------------------------------------------------------------
# wave 23: charset-aware decode (BOM -> meta prescan -> UTF-8 fallback)
# ---------------------------------------------------------------------------

def _charset_corpus_rows() -> list[tuple]:
    """Deterministic non-UTF-8 corpus: (url, raw_bytes, charset, name,
    text) — the last three are GROUND TRUTH BY CONSTRUCTION (the plain
    source string + the codec it was encoded with), not outputs of the
    sniffer, so the oracle is independent of functions/charset.py.

    Covers: windows-1252 via meta, the WHATWG iso-8859-1->cp1252 alias
    quirk (payload contains EURO/quote bytes 0x80/0x92 invalid in pure
    latin-1), Shift_JIS via http-equiv, GB2312->GBK, EUC-JP in single
    quotes, UTF-16LE BOM, UTF-8 BOM outranking a lying meta, plain
    UTF-8 fallback, an unknown label, and a declaration past the 1024-
    byte prescan window (NOT honored -> replacement characters).
    """

    def doc(decl: str, payload: str) -> str:
        return (
            f"<html><head>{decl}</head><body>"
            f'<div itemscope itemtype="http://schema.org/Thing">'
            f'<span itemprop="name">{payload}</span></div></body></html>'
        )

    pad = '<meta data-pad="' + "x" * 1200 + '">'
    late_payload = "caf\xe9 au lait"  # cp1252 bytes read as utf-8 ->
    late_text = late_payload.encode("cp1252").decode("utf-8", "replace")
    cases = [
        # (name, decl, payload, codec, bom, expected_charset, expected_text)
        ("c1252_meta", '<meta charset="windows-1252">',
         "Caf\xe9 d\xe9j\xe0 – l’\xe9t\xe9", "cp1252", b"",
         "cp1252", None),
        ("latin1_alias", "<meta charset=iso-8859-1>",
         "€ ’ na\xefve", "cp1252", b"", "cp1252", None),
        ("sjis_httpequiv",
         '<meta http-equiv="Content-Type" '
         'content="text/html; charset=Shift_JIS">',
         "日本語テスト", "cp932", b"",
         "cp932", None),
        ("gbk_meta", "<meta charset=GB2312>",
         "中文测试页面", "gbk", b"", "gbk", None),
        ("eucjp_quotes", "<meta charset='EUC-JP'>",
         "演習データ", "euc_jp", b"", "euc_jp", None),
        ("utf16le_bom", "", "Unicode 中 \xe9", "utf-16-le",
         b"\xff\xfe", "utf-16-le", None),
        ("utf8_bom_wins", "<meta charset=shift_jis>", "d\xe9j\xe0 vu",
         "utf-8", b"\xef\xbb\xbf", "utf-8", None),
        ("utf8_fallback", "", "na\xefve caf\xe9 中", "utf-8", b"",
         "utf-8", None),
        ("unknown_label", "<meta charset=x-klingon>", "plain ascii",
         "utf-8", b"", "utf-8", None),
        ("late_meta", pad + "<meta charset=windows-1252>", late_payload,
         "cp1252", b"", "utf-8", late_text),
    ]
    rows = []
    for name, decl, payload, codec, bom, exp_cs, exp_text in cases:
        url = f"http://charset.example.org/{name}.html"
        raw = bom + doc(decl, payload).encode(codec)
        text = exp_text if exp_text is not None else payload
        rows.append((url, raw, exp_cs, text, text))
    return rows


def q_extract_charset(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Charset contract end-to-end (operators/extract.page_charsets +
    extract_triples over non-UTF-8 pages): detected charset, the
    extracted itemprop=name literal, and the full text column — all
    must equal the by-construction ground truth, proving non-UTF-8
    crawl pages stop extracting mojibake (round-3 verdict item 1).
    Both stages are column-pruned scans + one Arrow mapInPandas; the
    join key is the tiny corpus url (AQE broadcasts it)."""
    from ..operators.extract import page_charsets

    rows = [(u, bytearray(raw)) for u, raw, *_ in _charset_corpus_rows()]
    pages = spark.createDataFrame(rows, "url string, html binary").coalesce(2)
    cs = page_charsets(pages)
    names = (
        extract_triples(pages)
        .filter(F.col("pred") == "http://schema.org/name")
        .select("url", F.col("obj").alias("name"))
    )
    return cs.join(names, "url").select("url", "charset", "name", "text")


def sql_extract_charset() -> str:
    rows = ",\n ".join(
        f"({_sql_str(u)}, {_sql_str(cs)}, {_sql_str(nm)}, {_sql_str(tx)})"
        for u, _raw, cs, nm, tx in _charset_corpus_rows()
    )
    return f"""SELECT CAST(url AS VARCHAR) AS url,
       CAST(charset AS VARCHAR) AS charset,
       CAST(name AS VARCHAR) AS name,
       CAST(text AS VARCHAR) AS text
FROM (VALUES
 {rows}
) t(url, charset, name, text)"""


QUERIES["q_extract_charset"] = q_extract_charset
ORACLES["q_extract_charset"] = sql_extract_charset


# ---------------------------------------------------------------------------
# wave 24: unbounded ontology closure (fixpoint, no depth guess)
# ---------------------------------------------------------------------------

def q_subclass_closure_fixpoint(
    spark: "SparkSession", sf_dir: str
) -> "DataFrame":
    """rdfs11 type propagation with NO depth guess
    (operators/graph.transitive_closure_fixpoint): a depth-64 CHAIN
    ontology (parent(c) = c - 1, 65 classes) — deep enough that the
    bounded variant's default max_depth=16 would silently truncate —
    closed by count-checked doubling rounds that converge at the
    fixpoint (7 rounds: ceil(log2 64) + 1). The closure (65*66/2 + 0
    rows, schema-sized) then broadcasts onto the instance table:
    direct type (i mod 64) + 1, never the root, so every ancestor
    count mixes inferred and direct typing. The oracle is an
    UNBOUNDED recursive CTE — neither side knows the depth a priori.
    Scale shape identical to q_rdfs_subclass_infer: fixpoint on the
    tiny schema side, one broadcast join + one agg shuffle on the
    big side."""
    from ..operators.graph import transitive_closure_fixpoint

    ids, _ = _kg_synth_base(spark, sf_dir)
    cls = spark.range(65).select(F.col("id").alias("c"))
    edges = cls.where(F.col("c") >= 1).select(
        F.col("c").alias("subj"),
        (F.col("c") - 1).cast("long").alias("obj"),
    )
    closure = transitive_closure_fixpoint(edges, reflexive=True)
    types = ids.select(F.col("i"), ((F.col("i") % 64) + 1).alias("c"))
    inferred = types.join(
        F.broadcast(closure.withColumnRenamed("subj", "c")), "c"
    )
    return inferred.groupBy(
        F.concat(F.lit(_KG_CLS), F.col("obj").cast("string")).alias("cls")
    ).agg(F.countDistinct("i").alias("n_inst"))


def sql_subclass_closure_fixpoint() -> str:
    return f"""WITH RECURSIVE
ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
cls AS (SELECT range AS c FROM range(65)),
anc(c, a) AS (
  SELECT c, c FROM cls
  UNION
  SELECT r.c, r.a - 1 FROM anc r WHERE r.a >= 1
),
types AS (SELECT i, (i % 64) + 1 AS c FROM ids)
SELECT '{_KG_CLS}' || a.a AS cls, COUNT(DISTINCT t.i) AS n_inst
FROM types t JOIN anc a ON a.c = t.c
GROUP BY a.a"""


QUERIES["q_subclass_closure_fixpoint"] = q_subclass_closure_fixpoint
ORACLES["q_subclass_closure_fixpoint"] = sql_subclass_closure_fixpoint


# ---------------------------------------------------------------------------
# wave 24b: end-to-end crawl frontier (seeds -> politeness -> delta)
# ---------------------------------------------------------------------------

_CF_PER_WAVE = 2
_CF_DELAY_S = 3
_CF_SALT = "frontier"
_CF_N_GONE = 5


def q_crawl_frontier(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The frontier loop a crawler actually runs, composed from the
    separately-verified pieces (round-3 review item 8): seeds =
    robots ``Sitemap:`` directives (operators/links.robots_sitemap_urls)
    ∪ sitemap ``<loc>`` entries (extract_sitemap_urls) ∪ RFC 3986-
    resolved hrefs (extract_links + resolve_links), filtered to
    fetchable http(s) URLs and deduped; then a per-host politeness
    schedule (crawl.politeness_schedule) over the frontier; then a
    presence delta (crawl.crawl_delta, digest = md5(url)) against the
    previous snapshot's ledger — `added` URLs are new fetch work,
    `unchanged` are re-visits, `removed` are retired pages kept with
    NULL schedule columns. Scale shape: every seed leg is a codegen'd
    regexp/explode scan, the schedule is ONE shuffle on host, the
    delta ONE shuffle on url against a ledger table; nothing touches
    the driver."""
    from ..operators.crawl import crawl_delta, politeness_schedule
    from ..operators.links import (
        HOST_PATTERN,
        extract_links,
        extract_sitemap_urls,
        resolve_links,
        robots_sitemap_urls,
    )

    robots = spark.createDataFrame(
        _robots_sitemap_rows(), "host string, robots_txt string"
    )
    sm_seeds = robots_sitemap_urls(robots).select(
        F.col("sitemap_url").alias("url")
    )
    sitemaps = spark.createDataFrame(
        _sitemap_rows(), "sitemap_url string, xml string"
    )
    loc_seeds = extract_sitemap_urls(sitemaps).select("url")
    pages = spark.createDataFrame(
        _link_page_rows(), "url string, html string"
    ).repartition(4)
    href_seeds = resolve_links(extract_links(pages)).select(
        F.col("dst_url").alias("url")
    )
    frontier = (
        sm_seeds.unionByName(loc_seeds)
        .unionByName(href_seeds)
        .where(F.col("url").rlike("^https?://"))
        .distinct()
        .select(
            "url", F.regexp_extract("url", HOST_PATTERN, 1).alias("_host")
        )
    )
    sched = politeness_schedule(
        frontier, per_wave=_CF_PER_WAVE, delay_s=_CF_DELAY_S, salt=_CF_SALT
    )
    gone = spark.range(_CF_N_GONE).select(
        F.concat(F.lit("http://gone.example.org/old/"),
                 F.col("id").cast("string")).alias("url")
    )
    old = (
        pages.select("url").unionByName(gone)
        .select("url", F.md5("url").alias("digest"))
    )
    new = sched.select("url", F.md5("url").alias("digest"))
    delta = crawl_delta(old, new)
    return delta.join(sched, "url", "left").select(
        "url", "status", "host", "host_rank", "wave", "offset_s"
    )


def sql_crawl_frontier() -> str:
    robots_vals = ",\n".join(
        f"({_sql_str(h)}, {_sql_str(t)})" for h, t in _robots_sitemap_rows()
    )
    sm_vals = ",\n".join(
        f"({_sql_str(u)}, {_sql_str(x)})" for u, x in _sitemap_rows()
    )
    href_vals = ",\n".join(
        f"({_sql_str(dst)})"
        for url, html in _link_page_rows()
        for dst in _replay_links_py(url, html)
    )
    old_vals = ",\n".join(
        [f"({_sql_str(u)})" for u, _ in _link_page_rows()]
        + [f"('http://gone.example.org/old/{j}')"
           for j in range(_CF_N_GONE)]
    )
    return f"""WITH robots(host, robots_txt) AS (VALUES
{robots_vals}
),
sm(sitemap_url, xml) AS (VALUES
{sm_vals}
),
hrefs(url) AS (VALUES
{href_vals}
),
seeds AS (
  SELECT unnest(regexp_extract_all(robots_txt,
           '(?im)^[ \\t]*sitemap:[ \\t]*(\\S+)', 1)) AS url FROM robots
  UNION
  SELECT trim(unnest(regexp_extract_all(xml,
           '<loc>\\s*([^<]+?)\\s*</loc>', 1))) FROM sm
  UNION
  SELECT url FROM hrefs
),
frontier AS (
  SELECT DISTINCT url FROM seeds WHERE regexp_matches(url, '^https?://')
),
sched AS (
  SELECT url,
         regexp_extract(url, '^https?://([^/]+)', 1) AS host,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY regexp_extract(url, '^https?://([^/]+)', 1)
           ORDER BY md5(url || '|{_CF_SALT}'), url) AS BIGINT) AS host_rank
  FROM frontier
),
old(url) AS (VALUES
{old_vals}
)
SELECT COALESCE(o.url, s.url) AS url,
       CASE WHEN o.url IS NULL THEN 'added'
            WHEN s.url IS NULL THEN 'removed'
            ELSE 'unchanged' END AS status,
       s.host,
       s.host_rank,
       CAST((s.host_rank - 1) // {_CF_PER_WAVE} AS BIGINT) AS wave,
       CAST(((s.host_rank - 1) // {_CF_PER_WAVE}) * {_CF_DELAY_S} AS BIGINT)
         AS offset_s
FROM old o FULL OUTER JOIN sched s ON o.url = s.url"""


QUERIES["q_crawl_frontier"] = q_crawl_frontier
ORACLES["q_crawl_frontier"] = sql_crawl_frontier


# --- wave 23: product quantization (FAISS-style PQ encode + ADC top-k) ---

_PQ_M = 4          # subspaces (64 dims -> 4 x 16)
_PQ_KSUB = 8       # codewords per subspace (code = 4 ids, 64x smaller
                   # than the 256-byte float32 vector)
_PQ_ITER = 2       # Lloyd rounds per subspace (first-8-by-id seed)
_PQ_BOOKS_CACHE: dict = {}


def _cached_pq_books(emb: "DataFrame", key: str) -> list:
    from ..operators.similarity import pq_codebooks_u

    if key not in _PQ_BOOKS_CACHE:
        _PQ_BOOKS_CACHE[key] = pq_codebooks_u(
            emb, m=_PQ_M, ksub=_PQ_KSUB, iterations=_PQ_ITER, dim=_LSH_DIM,
        )
    return _PQ_BOOKS_CACHE[key]


def q_pq_codes(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Product-quantization encoding of the embedding corpus:
    per-subspace integer-exact Lloyd codebooks (the IVF training
    machinery run m=4 times on 16-dim slices), then a scan-side argmin
    encode — (vec_id, c0..c3). Zero shuffles on the corpus side; the
    output is the 64x-compressed representation an ANN serving tier
    stores instead of raw vectors. Oracle replays all four subspace
    trainings as unrolled CTE chains."""
    from ..operators.similarity import pq_encode

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _assert_embedding_dim(emb)
    books = _cached_pq_books(emb, sf_dir)
    codes = pq_encode(emb, books)
    return codes.select(
        "vec_id",
        *[F.col("code")[j].cast("long").alias(f"c{j}") for j in range(_PQ_M)],
    )


def q_pq_topk(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """ADC nearest-neighbor search over PQ codes: per query a bounded
    m*ksub lookup table of integer subvector distances, broadcast onto
    the code table; distance per candidate is m element_at fetches —
    the corpus never materializes vector-width work at probe time.
    (query_id, vec_id, adc_u, rank<=k), ties to smaller vec_id."""
    from ..operators.similarity import pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _assert_embedding_dim(emb)
    books = _cached_pq_books(emb, sf_dir)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_topk(emb, queries, books, k=_TOPK_K).select(
        "query_id",
        "vec_id",
        F.col("adc_u").cast("long").alias("adc_u"),
        F.col("rank").cast("long").alias("rank"),
    )


def _sql_pq_subspaces(base: bool = True) -> str:
    """CTE block shared by the PQ oracles: micro-unit vectors, one
    16-dim slice + seed + unrolled Lloyd chain per subspace (prefix
    p{j}_), and the final per-subspace codeword assignment code{j}
    (vec_id, c{j}) with ties to the smaller codeword id. With
    ``base=False`` the vecs/vu header is omitted (for composition with
    an oracle that already defines them, e.g. sql_ivfpq_topk)."""
    sub = _LSH_DIM // _PQ_M
    parts = [] if not base else [f"""vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
vu AS (
  SELECT vec_id,
         list_transform(e, x -> CAST(floor(x * 1000000) AS BIGINT)) AS v
  FROM vecs
)"""]
    for j in range(_PQ_M):
        lo, hi = j * sub + 1, (j + 1) * sub
        parts.append(f"""vu{j} AS (
  SELECT vec_id, list_slice(v, {lo}, {hi}) AS v FROM vu
),
p{j}_0 AS (SELECT vec_id AS cid, v AS cv FROM vu{j} WHERE vec_id < {_PQ_KSUB}),
{_sql_lloyd_rounds(_PQ_ITER, dim=sub, vu=f"vu{j}", prefix=f"p{j}_")},
code{j} AS (
  SELECT vec_id, cid AS c{j} FROM (
    SELECT v.vec_id, c.cid, ROW_NUMBER() OVER (
      PARTITION BY v.vec_id ORDER BY
        list_reduce(list_transform(range(1, {sub + 1}),
          i -> (v.v[i] - c.cv[i]) * (v.v[i] - c.cv[i])), (a, b) -> a + b)
        ASC, c.cid ASC) AS rn
    FROM vu{j} v CROSS JOIN p{j}_{_PQ_ITER} c) WHERE rn = 1
)""")
    joins = " ".join(f"JOIN code{j} USING (vec_id)" for j in range(1, _PQ_M))
    parts.append(f"""codes AS (
  SELECT * FROM code0 {joins}
)""")
    return ",\n".join(parts)


def sql_pq_codes() -> str:
    cols = ", ".join(f"CAST(c{j} AS BIGINT) AS c{j}" for j in range(_PQ_M))
    return f"""WITH {_sql_pq_subspaces()}
SELECT vec_id, {cols} FROM codes"""


def sql_pq_topk() -> str:
    sub = _LSH_DIM // _PQ_M
    luts = []
    for j in range(_PQ_M):
        lo, hi = j * sub + 1, (j + 1) * sub
        luts.append(f"""lut{j} AS (
  SELECT q.query_id, c.cid,
         list_reduce(list_transform(range(1, {sub + 1}),
           i -> (list_slice(q.v, {lo}, {hi})[i] - c.cv[i])
                * (list_slice(q.v, {lo}, {hi})[i] - c.cv[i])),
           (a, b) -> a + b) AS d2
  FROM qv q CROSS JOIN p{j}_{_PQ_ITER} c
)""")
    lut_joins = " ".join(
        f"JOIN lut{j} l{j} ON l{j}.query_id = l0.query_id "
        f"AND l{j}.cid = cd.c{j}"
        for j in range(1, _PQ_M)
    )
    adc_sum = " + ".join(f"l{j}.d2" for j in range(_PQ_M))
    return f"""WITH {_sql_pq_subspaces()},
qv AS (SELECT vec_id AS query_id, v FROM vu WHERE vec_id < {_N_QUERIES}),
{",".join(luts)},
adc AS (
  SELECT l0.query_id, cd.vec_id, {adc_sum} AS adc_u
  FROM codes cd
  JOIN lut0 l0 ON l0.cid = cd.c0
  {lut_joins}
),
ranked AS (
  SELECT query_id, vec_id, adc_u,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_u ASC, vec_id ASC) AS rank
  FROM adc
)
SELECT query_id, vec_id, CAST(adc_u AS BIGINT) AS adc_u, rank
FROM ranked WHERE rank <= {_TOPK_K}"""


QUERIES["q_pq_codes"] = q_pq_codes
ORACLES["q_pq_codes"] = sql_pq_codes
QUERIES["q_pq_topk"] = q_pq_topk
ORACLES["q_pq_topk"] = sql_pq_topk


# --- wave 23b: Lee-et-al exact repeated-substring spans ---

_DSI_K = 8


def q_dup_spans(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Maximal cross-corpus duplicated token spans
    (operators/dedup.dup_span_islands): non-first duplicated k-gram
    occurrences merged by gaps-and-islands into (start, end) ranges —
    the exact-substring-dedup deliverable of Lee et al. 2022, found at
    any alignment (unlike the fixed windows of q_span_dedup). Oracle
    replays the gram walk, the corpus-first rule, and the island merge
    with window functions."""
    from ..operators.dedup import dup_span_islands

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dup_span_islands(docs, k=_DSI_K)
    return out.select(
        "doc_id",
        F.col("start_tok").cast("long").alias("start_tok"),
        F.col("end_tok").cast("long").alias("end_tok"),
        F.col("span_toks").cast("long").alias("span_toks"),
        F.col("n_dup_grams").cast("long").alias("n_dup_grams"),
    )


def sql_dup_spans() -> str:
    k = _DSI_K
    return f"""WITH toks AS (
  SELECT doc_id, {_TOKS.format(c="text")} AS t FROM documents
),
posns AS (
  SELECT doc_id, t,
         unnest(range(0, GREATEST(len(t) - {k} + 1, 0))) AS pos
  FROM toks
),
grams AS (
  SELECT doc_id, pos,
         md5(array_to_string(
           t[CAST(pos + 1 AS INT) : CAST(pos + {k} AS INT)], ' ')) AS gram
  FROM posns
),
occ AS (
  SELECT doc_id, pos,
         ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn,
         COUNT(*) OVER (PARTITION BY gram) AS n_occ
  FROM grams
),
dups AS (
  SELECT doc_id, pos FROM occ WHERE n_occ >= 2 AND rn >= 2
),
isl AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dups
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS start_tok,
       CAST(MAX(pos) + {k} - 1 AS BIGINT) AS end_tok,
       CAST(MAX(pos) - MIN(pos) + {k} AS BIGINT) AS span_toks,
       CAST(COUNT(*) AS BIGINT) AS n_dup_grams
FROM isl GROUP BY doc_id, grp"""


QUERIES["q_dup_spans"] = q_dup_spans
ORACLES["q_dup_spans"] = sql_dup_spans


def q_pq_recall(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """PQ quality evaluation — recall@k of the ADC/product-quantization
    path against the exact brute-force top-k, per query point (the
    twin of q_ann_recall for the compressed index; the number that
    decides how much quantization error the 64x storage saving costs).
    Both sides reuse the registered pipelines unchanged; the oracle
    composes the two EXISTING verified oracle texts as subqueries."""
    exact = q_topk_cosine(spark, sf_dir).select("query_id", "vec_id")
    pq = q_pq_topk(spark, sf_dir).select(
        "query_id", "vec_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(pq, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_exact"),
            F.count("hit").alias("n_hits"),
        )
    )


def sql_pq_recall() -> str:
    return f"""SELECT ex.query_id, COUNT(*) AS n_exact,
       COUNT(pq.vec_id) AS n_hits
FROM ({sql_topk_cosine()}) ex
LEFT JOIN ({sql_pq_topk()}) pq
  ON pq.query_id = ex.query_id AND pq.vec_id = ex.vec_id
GROUP BY ex.query_id"""


QUERIES["q_pq_recall"] = q_pq_recall
ORACLES["q_pq_recall"] = sql_pq_recall


def q_ivfpq_topk(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """IVF-PQ (operators/similarity.ivfpq_topk) — the FAISS serving
    shape: the verified coarse quantizer (q_ivf_topk's cached Lloyd
    centroids) prunes to _IVF_PROBE lists per query via a cid
    EQUI-join, and candidates rank by PQ asymmetric distance over the
    cached subspace codebooks (q_pq_topk's) — 4-byte codes, never raw
    vectors, two-level bucket-then-global top-k. The oracle composes
    the coarse Lloyd chain, the four subspace chains, the probe rule
    and the ADC lookup joins from the same verified pieces."""
    from ..operators.similarity import ivfpq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _assert_embedding_dim(emb)
    cents = _cached_centroids(emb, (sf_dir, "raw"))
    books = _cached_pq_books(emb, sf_dir)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_topk(
        emb, queries, cents, books, k=_TOPK_K, n_probe=_IVF_PROBE,
    ).select(
        "query_id",
        "vec_id",
        F.col("adc_u").cast("long").alias("adc_u"),
        F.col("rank").cast("long").alias("rank"),
    )


def sql_ivfpq_topk() -> str:
    cdot = (
        "list_reduce(list_transform(range(1, 65), "
        "i -> v.e[i] * c.ce[i]), (x, y) -> x + y)"
    )
    nrm = "sqrt(list_reduce(list_transform({v}, x -> x * x), (a, b) -> a + b))"
    sub = _LSH_DIM // _PQ_M
    luts = []
    for j in range(_PQ_M):
        lo, hi = j * sub + 1, (j + 1) * sub
        luts.append(f"""lut{j} AS (
  SELECT q.query_id, c.cid,
         list_reduce(list_transform(range(1, {sub + 1}),
           i -> (list_slice(q.v, {lo}, {hi})[i] - c.cv[i])
                * (list_slice(q.v, {lo}, {hi})[i] - c.cv[i])),
           (a, b) -> a + b) AS d2
  FROM qv q CROSS JOIN p{j}_{_PQ_ITER} c
)""")
    lut_joins = " ".join(
        f"JOIN lut{j} l{j} ON l{j}.query_id = cn.query_id "
        f"AND l{j}.cid = cd.c{j}"
        for j in range(1, _PQ_M)
    )
    adc_sum = " + ".join(f"l{j}.d2" for j in range(_PQ_M))
    return f"""WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
vu AS (
  SELECT vec_id,
         list_transform(e, x -> CAST(floor(x * 1000000) AS BIGINT)) AS v
  FROM vecs
),
c0 AS (SELECT vec_id AS cid, v AS cv FROM vu WHERE vec_id < {_IVF_CENTROIDS}),
{_sql_lloyd_rounds(_IVF_KMEANS_ITER)},
cents AS (
  SELECT cid, list_transform(cv, x -> x / 1000000.0) AS ce
  FROM c{_IVF_KMEANS_ITER}
),
vc AS (
  SELECT v.vec_id, c.cid,
         {cdot} / ({nrm.format(v="v.e")} * {nrm.format(v="c.ce")}) AS cos
  FROM vecs v CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
    FROM vc
  ) WHERE rn = 1
),
probe AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
    FROM vc WHERE vec_id < {_N_QUERIES}
  ) WHERE rn <= {_IVF_PROBE}
),
{_sql_pq_subspaces(base=False)},
qv AS (SELECT vec_id AS query_id, v FROM vu WHERE vec_id < {_N_QUERIES}),
{",".join(luts)},
cn AS (
  SELECT p.query_id, a.vec_id FROM probe p JOIN assign a USING (cid)
),
adc AS (
  SELECT cn.query_id, cn.vec_id, {adc_sum} AS adc_u
  FROM cn
  JOIN codes cd ON cd.vec_id = cn.vec_id
  JOIN lut0 l0 ON l0.query_id = cn.query_id AND l0.cid = cd.c0
  {lut_joins}
),
ranked AS (
  SELECT query_id, vec_id, adc_u,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_u ASC, vec_id ASC) AS rank
  FROM adc
)
SELECT query_id, vec_id, CAST(adc_u AS BIGINT) AS adc_u, rank
FROM ranked WHERE rank <= {_TOPK_K}"""


QUERIES["q_ivfpq_topk"] = q_ivfpq_topk
ORACLES["q_ivfpq_topk"] = sql_ivfpq_topk


# --- wave 23c: Unicode-normalization-aware exact dedup ---

_NFC_OFF = 10_000_000
# the same visible suffix in NFC-composed vs fully decomposed form
# (combining acute / diaeresis, Hangul jamo): NFC maps the second onto
# the first, raw bytes do not
_NFC_COMPOSED = " café naïve 각"
_NFC_DECOMP = " café naïve 각"


def q_nfc_dedup(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Unicode-normalization-aware exact dedup
    (operators/dedup.nfc_dedup) over a derived corpus that plants the
    same visible text in composed and decomposed encodings (real crawl
    variance: editors/OSes disagree on NFC): each original doc gains
    two variants whose suffixes differ only in byte encoding. NFC
    digesting merges every composed/decomposed pair (byte-level md5
    would not); the oracle replays the identical construction with
    DuckDB's nfc_normalize (differential-tested byte-identical to
    Python's unicodedata NFC on combining-mark reordering, Hangul
    composition and composition exclusions)."""
    from ..operators.dedup import nfc_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    var_a = docs.select(
        (F.col("doc_id") + _NFC_OFF).alias("doc_id"),
        F.concat("text", F.lit(_NFC_COMPOSED)).alias("text"),
    )
    var_b = docs.select(
        (F.col("doc_id") + 2 * _NFC_OFF).alias("doc_id"),
        F.concat("text", F.lit(_NFC_DECOMP)).alias("text"),
    )
    aug = docs.unionByName(var_a).unionByName(var_b)
    return nfc_dedup(aug)


def sql_nfc_dedup() -> str:
    return f"""WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_NFC_OFF}, text || '{_NFC_COMPOSED}' FROM documents
  UNION ALL
  SELECT doc_id + {2 * _NFC_OFF}, text || '{_NFC_DECOMP}' FROM documents
)
SELECT md5(nfc_normalize(COALESCE(text, ''))) AS digest,
       MIN(doc_id) AS canonical_doc_id,
       COUNT(*) AS n_dups
FROM aug GROUP BY 1"""


QUERIES["q_nfc_dedup"] = q_nfc_dedup
ORACLES["q_nfc_dedup"] = sql_nfc_dedup


# --- wave 24a: CCNet-style LM quality scoring + C4 blocklist gate ---

_BG_SCALE = 1_000_000


def _sql_bigram_scored() -> str:
    """Shared CTE chain: documents -> per-doc add-one bigram
    surprisal (same contract as operators/stats.bigram_surprisal)."""
    toks = _TOKS.format(c="text")
    return f"""tk AS (
  SELECT doc_id, list_filter({toks}, t -> t <> '') AS toks FROM documents
),
pos AS (
  SELECT doc_id, generate_subscripts(toks, 1) AS pos, unnest(toks) AS t
  FROM tk
),
bg AS (
  SELECT a.doc_id, a.t AS t1, b.t AS t2
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
bgc AS (SELECT t1, t2, COUNT(*) AS cnt12 FROM bg GROUP BY t1, t2),
ctx AS (SELECT t1, SUM(cnt12) AS ctx1 FROM bgc GROUP BY t1),
voc AS (SELECT COUNT(DISTINCT t) AS v FROM pos),
bg_scored AS (
  SELECT bg.doc_id,
         SUM(((ctx.ctx1 + (SELECT v FROM voc)) * {_BG_SCALE})
             // (bgc.cnt12 + 1)) AS ss,
         COUNT(*) AS n
  FROM bg JOIN bgc USING (t1, t2) JOIN ctx USING (t1)
  GROUP BY bg.doc_id
),
bg_final AS (
  SELECT d.doc_id AS id,
         CAST(COALESCE(s.n, 0) AS BIGINT) AS n_bigrams,
         CAST(COALESCE(s.ss // s.n, 0) AS BIGINT) AS surprisal_u
  FROM documents d LEFT JOIN bg_scored s ON s.doc_id = d.doc_id
)"""


def q_bigram_surprisal(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-doc mean add-one bigram surprisal
    (operators/stats.bigram_surprisal) — the CCNet/KenLM perplexity
    filter's integer-exact bigram stand-in; the oracle rebuilds the
    identical LM (context counts, vocab, per-bigram floors)."""
    from ..operators.stats import bigram_surprisal

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bigram_surprisal(docs, scale=_BG_SCALE)


def sql_bigram_surprisal() -> str:
    return f"""WITH {_sql_bigram_scored()}
SELECT id, n_bigrams, surprisal_u FROM bg_final"""


QUERIES["q_bigram_surprisal"] = q_bigram_surprisal
ORACLES["q_bigram_surprisal"] = sql_bigram_surprisal


def q_perplexity_buckets(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """CCNet head/middle/tail split (Wenzek et al. 2020 §4.3) of the
    bigram-surprisal scores: exact tercile cuts over the
    distinct-value histogram (operators/stats.tercile_buckets), ties
    share a bucket, assignment broadcast back scan-side."""
    from ..operators.stats import bigram_surprisal, tercile_buckets

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tercile_buckets(bigram_surprisal(docs, scale=_BG_SCALE))


def sql_perplexity_buckets() -> str:
    return f"""WITH {_sql_bigram_scored()},
hist AS (SELECT surprisal_u AS v, COUNT(*) AS cnt FROM bg_final GROUP BY 1),
cum AS (SELECT v, SUM(cnt) OVER (ORDER BY v) AS cum FROM hist),
tot AS (SELECT COUNT(*) AS n FROM bg_final),
cuts AS (
  SELECT MIN(CASE WHEN cum * 3 >= (SELECT n FROM tot) THEN v END) AS cut1,
         MIN(CASE WHEN cum * 3 >= 2 * (SELECT n FROM tot) THEN v END) AS cut2
  FROM cum
)
SELECT id, surprisal_u,
       CASE WHEN surprisal_u <= cut1 THEN 'head'
            WHEN surprisal_u <= cut2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM bg_final, cuts"""


QUERIES["q_perplexity_buckets"] = q_perplexity_buckets
ORACLES["q_perplexity_buckets"] = sql_perplexity_buckets


# neutral stand-in blocklist (the real C4 list is a profanity list);
# 'dup' and 'spark' occur in the synthetic corpus, 'spam' never does —
# the gate exercises both hit and miss paths. Shared contract with the
# oracle's IN list.
_BLOCK_TERMS = ("dup", "spark", "spam")
_BLOCK_MAX_RATIO_U = 40_000  # 4% token budget (C4 default is 0)


def q_blocklist_filter(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """C4-style token-blocklist gate (operators/scrub.blocklist_filter):
    exact normalized-token matches against a plan-time literal term
    list, per-doc hit ratio in micro-units, keep = ratio within
    budget. Scan-side isin, one map-side-combined shuffle."""
    from ..operators.scrub import blocklist_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return blocklist_filter(
        docs, _BLOCK_TERMS, max_ratio_u=_BLOCK_MAX_RATIO_U
    )


def sql_blocklist_filter() -> str:
    toks = _TOKS.format(c="text")
    in_list = ", ".join(_sql_str(t) for t in _BLOCK_TERMS)
    return f"""WITH tk AS (
  SELECT doc_id, unnest(list_filter({toks}, t -> t <> '')) AS t
  FROM documents
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_toks,
         SUM(CASE WHEN t IN ({in_list}) THEN 1 ELSE 0 END) AS hits
  FROM tk GROUP BY doc_id
),
base AS (
  SELECT d.doc_id,
         CAST(COALESCE(a.n_toks, 0) AS BIGINT) AS n_toks,
         CAST(COALESCE(a.hits, 0) AS BIGINT) AS hits
  FROM documents d LEFT JOIN agg a USING (doc_id)
)
SELECT doc_id, n_toks, hits,
       CAST(CASE WHEN n_toks > 0 THEN (hits * {_BG_SCALE}) // n_toks
                 ELSE 0 END AS BIGINT) AS hit_ratio_u,
       (CASE WHEN n_toks > 0 THEN (hits * {_BG_SCALE}) // n_toks
             ELSE 0 END) <= {_BLOCK_MAX_RATIO_U} AS keep
FROM base"""


QUERIES["q_blocklist_filter"] = q_blocklist_filter
ORACLES["q_blocklist_filter"] = sql_blocklist_filter


# --- wave 24b: diversity metric, HRW sharding, temperature mixing ---

_HRW_SHARDS = ("alpha", "bravo", "charlie", "delta", "echo")
_HRW_ADDED = "foxtrot"
_TEMP_TARGET = 300


def q_ngram_diversity(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-doc distinct-1/distinct-2 diversity ratios
    (operators/stats.ngram_diversity) — the Li et al. degeneracy
    metric a curation pass uses to drop repetitive boilerplate;
    entirely in-row array code, zero shuffles (plan-pinned)."""
    from ..operators.stats import ngram_diversity

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_diversity(docs)


def sql_ngram_diversity() -> str:
    toks = _TOKS.format(c="text")
    return f"""WITH tk AS (
  SELECT doc_id, list_filter({toks}, t -> t <> '') AS toks FROM documents
),
b AS (
  SELECT doc_id, toks,
         list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i + 1]) AS bgs
  FROM tk
)
SELECT doc_id AS id,
       CAST(len(toks) AS BIGINT) AS n1,
       CAST(len(list_distinct(toks)) AS BIGINT) AS d1,
       CAST(len(bgs) AS BIGINT) AS n2,
       CAST(len(list_distinct(bgs)) AS BIGINT) AS d2,
       CAST(CASE WHEN len(toks) > 0
                 THEN (len(list_distinct(toks)) * 1000000) // len(toks)
                 ELSE 0 END AS BIGINT) AS div1_u,
       CAST(CASE WHEN len(bgs) > 0
                 THEN (len(list_distinct(bgs)) * 1000000) // len(bgs)
                 ELSE 0 END AS BIGINT) AS div2_u
FROM b"""


QUERIES["q_ngram_diversity"] = q_ngram_diversity
ORACLES["q_ngram_diversity"] = sql_ngram_diversity


def _sql_hrw_case(key_expr: str, shards: tuple[str, ...]) -> str:
    """DuckDB twin of operators/layout.rendezvous_assign's WHEN chain:
    earliest shard whose score >= every other score."""
    score = {
        s: _sql_hex8(f"md5({key_expr} || '|{s}')") for s in shards
    }
    whens = []
    for i, s in enumerate(shards):
        conds = " AND ".join(
            f"{score[s]} >= {score[t]}" for j, t in enumerate(shards) if j != i
        )
        whens.append(f"WHEN {conds} THEN '{s}'")
    return "CASE " + " ".join(whens) + " END"


def q_rendezvous_shards(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """HRW / rendezvous-hash shard assignment under the current shard
    list and under the list grown by one
    (operators/layout.rendezvous_assign), aggregated to the
    (shard_old, shard_new) movement matrix — the expand-without-
    full-rewrite property checked head-on: every moved key's new
    shard IS the added shard (pinned by test). Assignment is pure
    scan-side codegen; the single shuffle is the k x (k+1)-cell
    count."""
    from ..operators.layout import rendezvous_assign

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old = list(_HRW_SHARDS)
    new = old + [_HRW_ADDED]
    out = rendezvous_assign(
        rendezvous_assign(docs, "doc_id", old, out_col="shard_old"),
        "doc_id",
        new,
        out_col="shard_new",
    )
    return (
        out.groupBy("shard_old", "shard_new")
        .agg(F.count("*").cast("long").alias("n_keys"))
    )


def sql_rendezvous_shards() -> str:
    key = "CAST(doc_id AS VARCHAR)"
    old_case = _sql_hrw_case(key, _HRW_SHARDS)
    new_case = _sql_hrw_case(key, _HRW_SHARDS + (_HRW_ADDED,))
    return f"""WITH a AS (
  SELECT {old_case} AS shard_old, {new_case} AS shard_new
  FROM documents
)
SELECT shard_old, shard_new, CAST(COUNT(*) AS BIGINT) AS n_keys
FROM a GROUP BY shard_old, shard_new"""


QUERIES["q_rendezvous_shards"] = q_rendezvous_shards
ORACLES["q_rendezvous_shards"] = sql_rendezvous_shards


def q_temperature_mix(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """alpha=0.5 temperature-resampling plan over the ``source``
    column (operators/split.temperature_weights): integer isqrt
    smoothing, per-source keep rates that hit the target total in
    expectation — the multilingual/multi-source mixing recipe as a
    deterministic k-row plan."""
    from ..operators.split import temperature_weights

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return temperature_weights(docs, "source", target_total=_TEMP_TARGET)


def sql_temperature_mix() -> str:
    return f"""WITH c AS (
  SELECT source AS grp, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM documents GROUP BY source
),
r0 AS (
  SELECT grp, cnt,
         CAST(floor(sqrt(CAST(cnt AS DOUBLE))) AS BIGINT) AS r
  FROM c
),
ws AS (
  SELECT grp, cnt,
         CASE WHEN (r + 1) * (r + 1) <= cnt THEN r + 1
              WHEN r * r > cnt THEN r - 1
              ELSE r END AS w
  FROM r0
),
tot AS (SELECT SUM(w) AS sum_w FROM ws)
SELECT grp, cnt, w,
       CAST(least(1000000,
            ({_TEMP_TARGET} * w * 1000000) // (sum_w * cnt)) AS BIGINT)
         AS rate_u,
       CAST((cnt * least(1000000,
            ({_TEMP_TARGET} * w * 1000000) // (sum_w * cnt))) // 1000000
         AS BIGINT) AS expect_keep
FROM ws, tot"""


QUERIES["q_temperature_mix"] = q_temperature_mix
ORACLES["q_temperature_mix"] = sql_temperature_mix


# --- wave 24c: DSIR selection, community modularity, MinHash recall ---

_DSIR_BUCKETS = 256


def q_dsir_weights(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """DSIR importance weights (operators/stats.dsir_weights): hashed
    unigram+bigram likelihood ratios of the lang='en' target slice vs
    the whole raw corpus — the targeted-pretraining selection score.
    The bucket LM is 256 rows regardless of corpus size and
    broadcasts; the oracle rebuilds the identical hashed model."""
    from ..operators.stats import dsir_weights

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dsir_weights(
        docs, target=F.col("lang") == "en", buckets=_DSIR_BUCKETS
    )


def sql_dsir_weights() -> str:
    toks = _TOKS.format(c="text")
    b_expr = _sql_hex8("md5(feat)") + f" % {_DSIR_BUCKETS}"
    return f"""WITH tk AS (
  SELECT doc_id, lang = 'en' AS is_t,
         list_filter({toks}, t -> t <> '') AS toks
  FROM documents
),
feats AS (
  SELECT doc_id, is_t,
         unnest(list_concat(
           toks,
           list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i + 1]))) AS feat
  FROM tk
),
st AS (SELECT doc_id, is_t, {b_expr} AS b FROM feats),
lm AS (
  SELECT b, SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS cnt_t,
         COUNT(*) AS cnt_r
  FROM st GROUP BY b
),
sc AS (
  SELECT doc_id,
         SUM(((cnt_t + 1) * 1000000) // (cnt_r + 1)) AS sw,
         COUNT(*) AS n
  FROM st JOIN lm USING (b) GROUP BY doc_id
)
SELECT d.doc_id AS id,
       CAST(COALESCE(s.n, 0) AS BIGINT) AS n_feats,
       CAST(COALESCE(s.sw // s.n, 0) AS BIGINT) AS importance_u
FROM documents d LEFT JOIN sc s ON s.doc_id = d.doc_id"""


QUERIES["q_dsir_weights"] = q_dsir_weights
ORACLES["q_dsir_weights"] = sql_dsir_weights


def q_modularity(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Newman modularity of the label-propagation communities over the
    same arithmetic web graph as q_label_prop (operators/graph.
    modularity): integer numerators only — Q = sum(q_num)/(4 m^2) —
    so the quality score is exact-rational on both engines. Composes
    two verified pieces: the LPA oracle supplies the labels, the
    modularity contract scores them."""
    from ..operators.graph import label_propagation, modularity

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    n_df = ids.agg(F.count("*").alias("n"))
    base = ids.crossJoin(F.broadcast(n_df))
    e1 = base.select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 31 + 7, F.col("n")).alias("dst"),
    )
    e2 = base.where(F.pmod(F.col("doc_id"), F.lit(3)) == 0).select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 17 + 3, F.col("n")).alias("dst"),
    )
    edges = e1.union(e2)
    labels = label_propagation(edges, rounds=_LP_ROUNDS)
    out = modularity(edges, labels)
    return out.select(
        F.col("label").cast("long").alias("label"),
        "n_nodes",
        "e_in",
        "k_sum",
        "m",
        "q_num",
    )


def sql_modularity() -> str:
    return f"""WITH n_docs AS (SELECT COUNT(*) AS n FROM documents),
ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
e_raw AS (
  SELECT id AS a, (31 * id + 7) % (SELECT n FROM n_docs) AS b FROM ids
  UNION ALL
  SELECT id, (17 * id + 3) % (SELECT n FROM n_docs) FROM ids WHERE id % 3 = 0
),
und AS (
  SELECT DISTINCT a, b FROM (
    SELECT a, b FROM e_raw UNION ALL SELECT b AS a, a AS b FROM e_raw
  )
),
lab AS (SELECT node, label FROM ({sql_label_prop()})),
deg AS (SELECT a AS node, COUNT(*) AS deg FROM und GROUP BY a),
pairs AS (SELECT a, b FROM und WHERE a <= b),
mm AS (SELECT COUNT(*) AS m FROM pairs),
ein AS (
  SELECT la.label AS lbl, COUNT(*) AS e_in
  FROM pairs p
  JOIN lab la ON la.node = p.a
  JOIN lab lb ON lb.node = p.b
  WHERE la.label = lb.label
  GROUP BY la.label
),
per_c AS (
  SELECT l.label AS lbl, COUNT(*) AS n_nodes,
         SUM(COALESCE(d.deg, 0)) AS k_sum
  FROM lab l LEFT JOIN deg d ON d.node = l.node
  GROUP BY l.label
)
SELECT CAST(p.lbl AS BIGINT) AS label,
       CAST(p.n_nodes AS BIGINT) AS n_nodes,
       CAST(COALESCE(e.e_in, 0) AS BIGINT) AS e_in,
       CAST(p.k_sum AS BIGINT) AS k_sum,
       CAST((SELECT m FROM mm) AS BIGINT) AS m,
       CAST(4 * (SELECT m FROM mm) * COALESCE(e.e_in, 0)
            - p.k_sum * p.k_sum AS BIGINT) AS q_num
FROM per_c p LEFT JOIN ein e ON e.lbl = p.lbl"""


QUERIES["q_modularity"] = q_modularity
ORACLES["q_modularity"] = sql_modularity


def q_minhash_recall(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Recall of the MinHash-LSH candidate pairs against the exact
    n-gram Jaccard >= 0.8 ground truth — the eval that decides the
    (bands, rows) operating point before a crawl-scale dedup run.
    Both sides reuse the registered pipelines; the oracle composes
    the two EXISTING verified oracle texts, so there is no third
    implementation to drift (the q_ann_recall pattern, applied to
    dedup)."""
    truth = q_ngram_jaccard_pairs(spark, sf_dir).select(
        "doc_id_a", "doc_id_b"
    )
    cand = q_minhash_lsh_pairs(spark, sf_dir).select(
        "doc_id_a", "doc_id_b", F.lit(1).alias("hit")
    )
    joined = truth.join(cand, ["doc_id_a", "doc_id_b"], "left")
    return joined.agg(
        F.count("*").cast("long").alias("n_true"),
        F.count("hit").cast("long").alias("n_found"),
        F.expr("CASE WHEN count(1) > 0 THEN (count(hit) * 1000000)"
               " div count(1) ELSE 0 END")
        .cast("long")
        .alias("recall_u"),
    )


def sql_minhash_recall() -> str:
    return f"""SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(COUNT(c.doc_id_a) AS BIGINT) AS n_found,
       CAST(CASE WHEN COUNT(*) > 0
                 THEN (COUNT(c.doc_id_a) * 1000000) // COUNT(*)
                 ELSE 0 END AS BIGINT) AS recall_u
FROM ({sql_ngram_jaccard_pairs()}) t
LEFT JOIN ({sql_minhash_lsh_pairs()}) c
  ON c.doc_id_a = t.doc_id_a AND c.doc_id_b = t.doc_id_b"""


QUERIES["q_minhash_recall"] = q_minhash_recall
ORACLES["q_minhash_recall"] = sql_minhash_recall


# --- wave 24d: FineWeb line rules, URL path rollup, LSH precision ---

# multi-line augmentation so the line-level rules are exercised, not
# vacuously zero: duplicate lines, punctuation-terminated prose lines,
# and a short fragment (shared verbatim with the oracle)
_FW_AUG = (
    "\nCookie notice applies to this site.\n"
    "Cookie notice applies to this site.\n"
    "A reasonably long prose line that ends with terminal punctuation.\n"
    "menu"
)


def q_fineweb_rules(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """FineWeb/C4 line-level quality gate
    (operators/stats.fineweb_rules): duplicated-line character mass,
    terminal-punctuation line fraction, short-line fraction, and the
    conjunctive keep flag — all in-row array code, zero shuffles
    (plan-pinned). Every second doc gets the same multi-line
    augmentation on both engines."""
    from ..operators.stats import fineweb_rules

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    aug = docs.select(
        "doc_id",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(2)) == 0,
            F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(_FW_AUG)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return fineweb_rules(aug)


def sql_fineweb_rules() -> str:
    aug = _FW_AUG.replace("\n", "' || chr(10) || '")
    return f"""WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0
              THEN COALESCE(text, '') || '{aug}'
              ELSE text END AS text
  FROM documents
),
b AS (
  SELECT doc_id, string_split(COALESCE(text, ''), chr(10)) AS lines
  FROM aug
),
m AS (
  SELECT doc_id,
    CAST(len(lines) AS BIGINT) AS n_lines,
    CAST(COALESCE(list_sum(list_transform(lines, x -> length(x))), 0)
      AS BIGINT) AS chars,
    CAST(COALESCE(list_sum(list_transform(list_distinct(lines),
                                          x -> length(x))), 0)
      AS BIGINT) AS dchars,
    CAST(len(list_filter(lines,
         x -> regexp_matches(rtrim(x), '[.!?"]$'))) AS BIGINT) AS n_punct,
    CAST(len(list_filter(lines,
         x -> length(trim(x)) < 30)) AS BIGINT) AS n_short
  FROM b
),
r AS (
  SELECT doc_id, n_lines,
    CAST(CASE WHEN chars > 0
         THEN ((chars - dchars) * 1000000) // chars ELSE 0 END AS BIGINT)
      AS dup_char_u,
    CAST(CASE WHEN n_lines > 0
         THEN (n_punct * 1000000) // n_lines ELSE 0 END AS BIGINT)
      AS punct_end_u,
    CAST(CASE WHEN n_lines > 0
         THEN (n_short * 1000000) // n_lines ELSE 0 END AS BIGINT)
      AS short_line_u
  FROM m
)
SELECT doc_id, n_lines, dup_char_u, punct_end_u, short_line_u,
       (dup_char_u <= 300000 AND punct_end_u >= 120000
        AND short_line_u <= 670000) AS keep
FROM r"""


QUERIES["q_fineweb_rules"] = q_fineweb_rules
ORACLES["q_fineweb_rules"] = sql_fineweb_rules


def q_url_path_rollup(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Hierarchical URL-path census (the crawl-budget / sitemap view a
    frontier planner reads): synthetic paths /s{id%3}/t{id%5}/p{id}
    exploded to their prefixes at every depth, one map-side-combined
    count per (depth, prefix). The prefix array is in-row codegen;
    the single shuffle is the census itself."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = F.concat(F.lit("/s"), F.pmod(F.col("doc_id"), F.lit(3)).cast("string"))
    t = F.concat(s, F.lit("/t"), F.pmod(F.col("doc_id"), F.lit(5)).cast("string"))
    p = F.concat(t, F.lit("/p"), F.col("doc_id").cast("string"))
    out = docs.select(
        F.explode(
            F.array(
                F.struct(F.lit(1).cast("long").alias("depth"), s.alias("prefix")),
                F.struct(F.lit(2).cast("long").alias("depth"), t.alias("prefix")),
                F.struct(F.lit(3).cast("long").alias("depth"), p.alias("prefix")),
            )
        ).alias("e")
    )
    return (
        out.select("e.depth", "e.prefix")
        .groupBy("depth", "prefix")
        .agg(F.count("*").cast("long").alias("n_pages"))
    )


def sql_url_path_rollup() -> str:
    return """WITH paths AS (
  SELECT '/s' || CAST(doc_id % 3 AS VARCHAR) AS s,
         '/s' || CAST(doc_id % 3 AS VARCHAR)
           || '/t' || CAST(doc_id % 5 AS VARCHAR) AS t,
         '/s' || CAST(doc_id % 3 AS VARCHAR)
           || '/t' || CAST(doc_id % 5 AS VARCHAR)
           || '/p' || CAST(doc_id AS VARCHAR) AS p
  FROM documents
),
e AS (
  SELECT 1 AS depth, s AS prefix FROM paths
  UNION ALL SELECT 2, t FROM paths
  UNION ALL SELECT 3, p FROM paths
)
SELECT CAST(depth AS BIGINT) AS depth, prefix,
       CAST(COUNT(*) AS BIGINT) AS n_pages
FROM e GROUP BY depth, prefix"""


QUERIES["q_url_path_rollup"] = q_url_path_rollup
ORACLES["q_url_path_rollup"] = sql_url_path_rollup


def q_minhash_precision(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Precision of the MinHash-LSH candidates against the exact
    Jaccard >= 0.8 truth — q_minhash_recall's dual: the fraction of
    candidate pairs the exact verification pass will keep, i.e. the
    wasted-verification cost of the banding operating point. Same
    compose-two-verified-oracles shape."""
    cand = q_minhash_lsh_pairs(spark, sf_dir).select("doc_id_a", "doc_id_b")
    truth = q_ngram_jaccard_pairs(spark, sf_dir).select(
        "doc_id_a", "doc_id_b", F.lit(1).alias("good")
    )
    joined = cand.join(truth, ["doc_id_a", "doc_id_b"], "left")
    return joined.agg(
        F.count("*").cast("long").alias("n_cand"),
        F.count("good").cast("long").alias("n_good"),
        F.expr("CASE WHEN count(1) > 0 THEN (count(good) * 1000000)"
               " div count(1) ELSE 0 END")
        .cast("long")
        .alias("precision_u"),
    )


def sql_minhash_precision() -> str:
    return f"""SELECT CAST(COUNT(*) AS BIGINT) AS n_cand,
       CAST(COUNT(t.doc_id_a) AS BIGINT) AS n_good,
       CAST(CASE WHEN COUNT(*) > 0
                 THEN (COUNT(t.doc_id_a) * 1000000) // COUNT(*)
                 ELSE 0 END AS BIGINT) AS precision_u
FROM ({sql_minhash_lsh_pairs()}) c
LEFT JOIN ({sql_ngram_jaccard_pairs()}) t
  ON t.doc_id_a = c.doc_id_a AND t.doc_id_b = c.doc_id_b"""


QUERIES["q_minhash_precision"] = q_minhash_precision
ORACLES["q_minhash_precision"] = sql_minhash_precision


# --- wave 25: bloom ingest gate, SimHash eval, tokenizer fertility ---

_BIG_M = 4096
_BIG_K = 3


def q_bloom_ingest(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Incremental-ingest dedup gate (operators/dedup.bloom_ingest_gate):
    the previous snapshot (doc_id % 5 != 0) summarized as an m-bit
    digest Bloom mask; the re-crawl batch (all docs) splits scan-side
    into definitely-new (bloom-negative, no join ever) and candidates
    that alone pay the exact verification join. The oracle replays
    the identical md5 position math, so false-positive behavior is
    cross-checked, not assumed."""
    from ..operators.dedup import bloom_ingest_gate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old = docs.where(F.pmod(F.col("doc_id"), F.lit(5)) != 0)
    return bloom_ingest_gate(docs, old, m=_BIG_M, k=_BIG_K)


def sql_bloom_ingest() -> str:
    norm = _NORM.format(c="COALESCE(text, '')")
    idx_vals = ", ".join(f"({i})" for i in range(_BIG_K))
    probe = (
        "(CAST('0x' || substr(md5(dig || '#{i}'), 1, 8) AS BIGINT)"
        f" % {_BIG_M}) IN (SELECT pos FROM pos)"
    )
    conds = " AND ".join(probe.replace("{i}", str(i)) for i in range(_BIG_K))
    return f"""WITH old_d AS (
  SELECT DISTINCT md5({norm}) AS dig FROM documents WHERE doc_id % 5 <> 0
),
pos AS (
  SELECT DISTINCT
    CAST('0x' || substr(md5(dig || '#' || i), 1, 8) AS BIGINT) % {_BIG_M} AS pos
  FROM old_d CROSS JOIN (VALUES {idx_vals}) t(i)
),
newd AS (SELECT doc_id, md5({norm}) AS dig FROM documents),
flag AS (SELECT doc_id, dig, ({conds}) AS bloom_hit FROM newd)
SELECT doc_id, bloom_hit,
       CASE WHEN NOT bloom_hit THEN TRUE
            ELSE dig NOT IN (SELECT dig FROM old_d) END AS is_new
FROM flag"""


QUERIES["q_bloom_ingest"] = q_bloom_ingest
ORACLES["q_bloom_ingest"] = sql_bloom_ingest


def q_simhash_recall(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """How much of the exact Jaccard >= 0.8 truth the 63-bit SimHash
    hamming <= 3 pair path recovers — the second dedup family's
    operating-point eval, composing the two existing verified oracles
    exactly like q_minhash_recall (bit-signature blocking and shingle
    banding trade recall differently; now both are measured)."""
    truth = q_ngram_jaccard_pairs(spark, sf_dir).select(
        "doc_id_a", "doc_id_b"
    )
    cand = q_simhash_pairs(spark, sf_dir).select(
        "doc_id_a", "doc_id_b", F.lit(1).alias("hit")
    )
    joined = truth.join(cand, ["doc_id_a", "doc_id_b"], "left")
    return joined.agg(
        F.count("*").cast("long").alias("n_true"),
        F.count("hit").cast("long").alias("n_found"),
        F.expr("CASE WHEN count(1) > 0 THEN (count(hit) * 1000000)"
               " div count(1) ELSE 0 END")
        .cast("long")
        .alias("recall_u"),
    )


def sql_simhash_recall() -> str:
    return f"""SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(COUNT(c.doc_id_a) AS BIGINT) AS n_found,
       CAST(CASE WHEN COUNT(*) > 0
                 THEN (COUNT(c.doc_id_a) * 1000000) // COUNT(*)
                 ELSE 0 END AS BIGINT) AS recall_u
FROM ({sql_ngram_jaccard_pairs()}) t
LEFT JOIN (SELECT doc_id_a, doc_id_b FROM ({sql_simhash_pairs()})) c
  ON c.doc_id_a = t.doc_id_a AND c.doc_id_b = t.doc_id_b"""


QUERIES["q_simhash_recall"] = q_simhash_recall
ORACLES["q_simhash_recall"] = sql_simhash_recall


def q_token_fertility(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-language tokenizer fertility (subwords per word under the
    shared BPE-ish word-piece regex) — the multilingual-tokenizer
    health metric (high fertility = a language pays more sequence
    positions per word, the mT5/XLM vocabulary-pressure signal).
    One map-side-combined shuffle; ratios floored micro-units over
    the corpus sums, not per-doc means."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    agg = docs.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("long").alias("n_words"),
        F.sum(subword_count(F.col("text"))).cast("long").alias("n_subwords"),
    )
    return agg.select(
        "lang",
        "n_docs",
        F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
        "n_subwords",
        F.when(
            F.coalesce(F.col("n_words"), F.lit(0)) > 0,
            F.expr("(n_subwords * 1000000) div n_words"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("fertility_u"),
    )


def sql_token_fertility() -> str:
    toks = _TOKS.format(c="text")
    return f"""WITH a AS (
  SELECT lang, COUNT(*) AS n_docs,
         SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len({toks}) END) AS n_words,
         SUM(COALESCE(len(regexp_extract_all(text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')), 0)) AS n_subwords
  FROM documents GROUP BY lang
)
SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(COALESCE(n_words, 0) AS BIGINT) AS n_words,
       CAST(n_subwords AS BIGINT) AS n_subwords,
       CAST(CASE WHEN COALESCE(n_words, 0) > 0
                 THEN (n_subwords * 1000000) // n_words
                 ELSE 0 END AS BIGINT) AS fertility_u
FROM a"""


QUERIES["q_token_fertility"] = q_token_fertility
ORACLES["q_token_fertility"] = sql_token_fertility


# --- wave 26: scorer/blocking evaluation and curation priors ---

_PRIOR_ALPHA = 20


def q_quality_auc(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """ROC-AUC of the quality scorer as an English-document ranker
    (operators/stats.ranking_auc): the Mann-Whitney identity over the
    GROUPED score histogram — the corpus collapses to at most |score
    domain| = 1e6+1 rows in one map-side-combined shuffle, so the
    ordered cumulative window never sees data-sized input at any
    corpus size. Ties earn exact half credit in BIGINT; no floats,
    no global rank over rows. The calibration readout every scorer
    change should gate on."""
    from ..functions.text import quality_score_u
    from ..operators.stats import ranking_auc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = docs.select(
        quality_score_u(F.col("text")).alias("quality_u"),
        (F.col("lang") == "en").alias("is_en"),
    )
    return ranking_auc(scored, "quality_u", "is_en")


def sql_quality_auc() -> str:
    return f"""WITH scored AS (
  SELECT quality_u, (lang = 'en') AS is_en
  FROM ({sql_quality()}) q JOIN documents USING (doc_id)
),
hist AS (
  SELECT quality_u AS s,
         SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS np,
         SUM(CASE WHEN is_en THEN 0 ELSE 1 END) AS nn
  FROM scored GROUP BY quality_u
),
terms AS (
  SELECT np, nn,
         COALESCE(SUM(nn) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_nn
  FROM hist
),
agg AS (
  SELECT SUM(np) AS n_pos, SUM(nn) AS n_neg,
         SUM(2 * np * cum_nn + np * nn) AS u2
  FROM terms
)
SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
       CAST(CASE WHEN n_pos > 0 AND n_neg > 0
                 THEN (u2 * 1000000) // (2 * n_pos * n_neg)
                 ELSE 0 END AS BIGINT) AS auc_u
FROM agg"""


QUERIES["q_quality_auc"] = q_quality_auc
ORACLES["q_quality_auc"] = sql_quality_auc


def q_source_prior(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-source quality prior with additive shrinkage
    (operators/stats.shrunk_group_prior): small sources inherit the
    corpus mean, large sources earn their own — the per-domain prior
    a curation loop feeds back into crawl scheduling. Exact BIGINT
    rational (sum_g*T + alpha*S) div ((n_g+alpha)*T); one grouped
    shuffle plus a one-row broadcast of the corpus totals."""
    from ..functions.text import quality_score_u
    from ..operators.stats import shrunk_group_prior

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = docs.select(
        "source", quality_score_u(F.col("text")).alias("quality_u")
    )
    return shrunk_group_prior(
        scored, "source", "quality_u", alpha=_PRIOR_ALPHA
    )


def sql_source_prior() -> str:
    a = _PRIOR_ALPHA
    return f"""WITH scored AS (
  SELECT source, quality_u
  FROM ({sql_quality()}) q JOIN documents USING (doc_id)
),
per AS (
  SELECT source, COUNT(*) AS n_docs, SUM(quality_u) AS sv
  FROM scored GROUP BY source
),
tot AS (SELECT COUNT(*) AS t_cnt, SUM(quality_u) AS t_sum FROM scored)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(sv // n_docs AS BIGINT) AS mean_u,
       CAST((sv * t_cnt + {a} * t_sum) // ((n_docs + {a}) * t_cnt)
            AS BIGINT) AS prior_u
FROM per CROSS JOIN tot"""


QUERIES["q_source_prior"] = q_source_prior
ORACLES["q_source_prior"] = sql_source_prior


def q_signal_corr(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Pearson correlation (signed, squared micro-units) between
    curation signals — (tokens, subwords) and (chars, quality) — the
    signal-redundancy readout that decides whether a new filter adds
    information or re-measures an old one. Sums are exact BIGINTs in
    ONE map-side-combined aggregation; the final ratio is a fixed
    double expression tree evaluated in the identical shape on both
    engines (bigint->double casts and IEEE ops are deterministic), so
    floor(corr^2 * 1e6) cannot drift. Zero-variance signals report 0."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from ..functions.text import quality_score_u

    base = docs.select(
        token_count(F.col("text")).cast("long").alias("x1"),
        subword_count(F.col("text")).cast("long").alias("y1"),
        F.col("n_chars").cast("long").alias("x2"),
        quality_score_u(F.col("text")).cast("long").alias("y2"),
    )
    agg = base.agg(
        F.count("*").cast("long").alias("n"),
        *[
            F.sum(F.expr(e)).cast("long").alias(a)
            for e, a in [
                ("x1", "sx1"), ("y1", "sy1"), ("x1 * x1", "sxx1"),
                ("y1 * y1", "syy1"), ("x1 * y1", "sxy1"),
                ("x2", "sx2"), ("y2", "sy2"), ("x2 * x2", "sxx2"),
                ("y2 * y2", "syy2"), ("x2 * y2", "sxy2"),
            ]
        ],
    )

    def corr_exprs(i: str):
        num = (
            f"cast(n as double) * cast(sxy{i} as double)"
            f" - cast(sx{i} as double) * cast(sy{i} as double)"
        )
        dx = (
            f"cast(n as double) * cast(sxx{i} as double)"
            f" - cast(sx{i} as double) * cast(sx{i} as double)"
        )
        dy = (
            f"cast(n as double) * cast(syy{i} as double)"
            f" - cast(sy{i} as double) * cast(sy{i} as double)"
        )
        corr2 = (
            f"CASE WHEN ({dx}) > 0 AND ({dy}) > 0 THEN"
            f" cast(floor((({num}) * ({num})) / (({dx}) * ({dy}))"
            f" * 1000000.0) as bigint) ELSE 0 END"
        )
        sign = (
            f"CASE WHEN ({num}) > 0 THEN 1 WHEN ({num}) < 0 THEN -1"
            f" ELSE 0 END"
        )
        return corr2, sign

    c1, s1 = corr_exprs("1")
    c2, s2 = corr_exprs("2")
    return agg.select(
        "n",
        F.expr(c1).alias("corr2_tok_sub_u"),
        F.expr(s1).cast("long").alias("sign_tok_sub"),
        F.expr(c2).alias("corr2_len_q_u"),
        F.expr(s2).cast("long").alias("sign_len_q"),
    )


def sql_signal_corr() -> str:
    toks = _TOKS.format(c="text")

    def corr_sql(i: str):
        num = (
            f"CAST(n AS DOUBLE) * CAST(sxy{i} AS DOUBLE)"
            f" - CAST(sx{i} AS DOUBLE) * CAST(sy{i} AS DOUBLE)"
        )
        dx = (
            f"CAST(n AS DOUBLE) * CAST(sxx{i} AS DOUBLE)"
            f" - CAST(sx{i} AS DOUBLE) * CAST(sx{i} AS DOUBLE)"
        )
        dy = (
            f"CAST(n AS DOUBLE) * CAST(syy{i} AS DOUBLE)"
            f" - CAST(sy{i} AS DOUBLE) * CAST(sy{i} AS DOUBLE)"
        )
        corr2 = (
            f"CASE WHEN ({dx}) > 0 AND ({dy}) > 0 THEN"
            f" CAST(floor((({num}) * ({num})) / (({dx}) * ({dy}))"
            f" * 1000000.0) AS BIGINT) ELSE 0 END"
        )
        sign = (
            f"CASE WHEN ({num}) > 0 THEN 1 WHEN ({num}) < 0 THEN -1"
            f" ELSE 0 END"
        )
        return corr2, sign

    c1, s1 = corr_sql("1")
    c2, s2 = corr_sql("2")
    return f"""WITH base AS (
  SELECT
    (CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({toks}) END) AS x1,
    COALESCE(len(regexp_extract_all(text,
        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')), 0) AS y1,
    n_chars AS x2,
    q.quality_u AS y2
  FROM documents JOIN ({sql_quality()}) q USING (doc_id)
),
agg AS (
  SELECT COUNT(*) AS n,
         SUM(x1) AS sx1, SUM(y1) AS sy1, SUM(x1 * x1) AS sxx1,
         SUM(y1 * y1) AS syy1, SUM(x1 * y1) AS sxy1,
         SUM(x2) AS sx2, SUM(y2) AS sy2, SUM(x2 * x2) AS sxx2,
         SUM(y2 * y2) AS syy2, SUM(x2 * y2) AS sxy2
  FROM base
)
SELECT CAST(n AS BIGINT) AS n,
       {c1} AS corr2_tok_sub_u,
       CAST({s1} AS BIGINT) AS sign_tok_sub,
       {c2} AS corr2_len_q_u,
       CAST({s2} AS BIGINT) AS sign_len_q
FROM agg"""


QUERIES["q_signal_corr"] = q_signal_corr
ORACLES["q_signal_corr"] = sql_signal_corr


def q_pack_efficiency(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Packing utilization per token-stream bucket — used positions
    over chunk capacity, the padding-waste readout of the packing
    layout (composes the verified pack_sequences oracle). The groupBy
    key equals the pack window's partition key, so AQE reuses the
    existing hash partitioning: no second data shuffle."""
    packed = q_pack_sequences(spark, sf_dir)
    agg = packed.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("used_tokens"),
        (F.max("last_chunk") + 1).cast("long").alias("n_chunks"),
    )
    return agg.select(
        "bucket",
        "n_docs",
        "used_tokens",
        "n_chunks",
        (F.col("n_chunks") * _PACK_SEQ_LEN).cast("long").alias("capacity"),
        F.expr(
            f"(used_tokens * 1000000) div (n_chunks * {_PACK_SEQ_LEN})"
        ).cast("long").alias("util_u"),
    )


def sql_pack_efficiency() -> str:
    L = _PACK_SEQ_LEN
    return f"""WITH packed AS ({sql_pack_sequences()}),
agg AS (
  SELECT bucket, COUNT(*) AS n_docs, SUM(n_tokens) AS used_tokens,
         MAX(last_chunk) + 1 AS n_chunks
  FROM packed GROUP BY bucket
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(used_tokens AS BIGINT) AS used_tokens,
       CAST(n_chunks AS BIGINT) AS n_chunks,
       CAST(n_chunks * {L} AS BIGINT) AS capacity,
       CAST((used_tokens * 1000000) // (n_chunks * {L}) AS BIGINT) AS util_u
FROM agg"""


QUERIES["q_pack_efficiency"] = q_pack_efficiency
ORACLES["q_pack_efficiency"] = sql_pack_efficiency


def q_blocking_agreement(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Jaccard agreement between the two near-dup blocking families'
    candidate-pair sets (MinHash-LSH banding vs 63-bit SimHash
    hamming) — with per-family recall/precision already measured, this
    closes the eval triangle: do the families flag the SAME pairs or
    complementary ones (union-worth-it signal)? Pair sets are
    blocking-sized, not corpus-sized; one full outer join on the pair
    key, one-row output."""
    mh = q_minhash_lsh_pairs(spark, sf_dir).select(
        "doc_id_a", "doc_id_b", F.lit(1).alias("m")
    )
    sh = q_simhash_pairs(spark, sf_dir).select(
        "doc_id_a", "doc_id_b", F.lit(1).alias("s")
    )
    j = mh.join(sh, ["doc_id_a", "doc_id_b"], "full")
    return j.agg(
        F.count("m").cast("long").alias("n_minhash"),
        F.count("s").cast("long").alias("n_simhash"),
        F.sum(
            F.when(F.col("m").isNotNull() & F.col("s").isNotNull(), 1)
            .otherwise(0)
        ).cast("long").alias("n_both"),
    ).select(
        "n_minhash",
        "n_simhash",
        "n_both",
        F.when(
            F.col("n_minhash") + F.col("n_simhash") - F.col("n_both") > 0,
            F.expr(
                "(n_both * 1000000)"
                " div (n_minhash + n_simhash - n_both)"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("jaccard_u"),
    )


def sql_blocking_agreement() -> str:
    return f"""WITH mh AS (SELECT doc_id_a, doc_id_b FROM ({sql_minhash_lsh_pairs()})),
sh AS (SELECT doc_id_a, doc_id_b FROM ({sql_simhash_pairs()})),
j AS (
  SELECT mh.doc_id_a AS ma, sh.doc_id_a AS sa
  FROM mh FULL OUTER JOIN sh
    ON mh.doc_id_a = sh.doc_id_a AND mh.doc_id_b = sh.doc_id_b
),
agg AS (
  SELECT COUNT(ma) AS n_minhash, COUNT(sa) AS n_simhash,
         SUM(CASE WHEN ma IS NOT NULL AND sa IS NOT NULL
                  THEN 1 ELSE 0 END) AS n_both
  FROM j
)
SELECT CAST(n_minhash AS BIGINT) AS n_minhash,
       CAST(n_simhash AS BIGINT) AS n_simhash,
       CAST(n_both AS BIGINT) AS n_both,
       CAST(CASE WHEN n_minhash + n_simhash - n_both > 0
                 THEN (n_both * 1000000)
                      // (n_minhash + n_simhash - n_both)
                 ELSE 0 END AS BIGINT) AS jaccard_u
FROM agg"""


QUERIES["q_blocking_agreement"] = q_blocking_agreement
ORACLES["q_blocking_agreement"] = sql_blocking_agreement


# --- wave 27: regression fit, calibration, join-size estimate,
# range-partitioner bounds, vocabulary saturation ---

_CAL_BINS = 10
_RB_BUCKETS = 8
_RB_MOD = 20
_VS_BUCKETS = 8


def q_linreg_fit(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """OLS trend line quality_u ~ n_chars (operators/stats.linreg_fit)
    via closed-form normal equations: exact BIGINT moment sums in ONE
    map-side-combined aggregation, then a fixed double expression tree
    for the two ratios (identical shape both engines — IEEE ops on
    identical inputs cannot drift). The does-length-predict-quality
    readout; at 100 TB still one linear agg producing five numbers."""
    from ..functions.text import quality_score_u
    from ..operators.stats import linreg_fit

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.select(
        F.col("n_chars").alias("x"),
        quality_score_u(F.col("text")).alias("y"),
    )
    return linreg_fit(base, "x", "y")


def sql_linreg_fit() -> str:
    num_s = (
        "CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)"
    )
    num_i = (
        "CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE)"
    )
    den = (
        "CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
    )
    return f"""WITH base AS (
  SELECT n_chars AS x, q.quality_u AS y
  FROM documents JOIN ({sql_quality()}) q USING (doc_id)
),
agg AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy
  FROM base
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(CASE WHEN ({den}) > 0
                 THEN CAST(floor(({num_s}) / ({den}) * 1000000.0) AS BIGINT)
                 ELSE 0 END AS BIGINT) AS slope_u,
       CAST(CASE WHEN ({den}) > 0
                 THEN CAST(floor(({num_i}) / ({den}) * 1000000.0) AS BIGINT)
                 ELSE 0 END AS BIGINT) AS intercept_u
FROM agg"""


QUERIES["q_linreg_fit"] = q_linreg_fit
ORACLES["q_linreg_fit"] = sql_linreg_fit


def q_calibration_bins(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Reliability diagram for the quality scorer as an English
    predictor (operators/stats.calibration_bins): equal-width decile
    bins of quality_u, each with its is_en rate. The companion to
    q_quality_auc — AUC checks ORDER, calibration checks whether the
    score VALUE means its claim. One grouped shuffle into <= 10 rows
    at any corpus size."""
    from ..functions.text import quality_score_u
    from ..operators.stats import calibration_bins

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = docs.select(
        quality_score_u(F.col("text")).alias("quality_u"),
        (F.col("lang") == "en").alias("is_en"),
    )
    return calibration_bins(scored, "quality_u", "is_en", bins=_CAL_BINS)


def sql_calibration_bins() -> str:
    b = _CAL_BINS
    return f"""WITH scored AS (
  SELECT quality_u, (lang = 'en') AS is_en
  FROM ({sql_quality()}) q JOIN documents USING (doc_id)
),
binned AS (
  SELECT LEAST({b - 1}, (quality_u * {b}) // 1000000) AS bin,
         CASE WHEN is_en THEN 1 ELSE 0 END AS p
  FROM scored
),
agg AS (
  SELECT bin, COUNT(*) AS n, SUM(p) AS n_pos FROM binned GROUP BY bin
)
SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
       CAST(n_pos AS BIGINT) AS n_pos,
       CAST((n_pos * 1000000) // n AS BIGINT) AS rate_u
FROM agg"""


QUERIES["q_calibration_bins"] = q_calibration_bins
ORACLES["q_calibration_bins"] = sql_calibration_bins


def q_join_size_estimate(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """CMS/AMS join-cardinality estimation
    (operators/sketch.count_min_inner_product): the self-equi-join
    size of lineitem on l_partkey — exact sum_k c(k)^2 from a grouped
    count vs the sketch inner product min_r sum_b cnt[r,b]^2. The
    estimator an optimizer consults before committing a shuffle
    strategy; one-sided (est >= exact ALWAYS) so worst-case planning
    never under-provisions. The estimate path touches only
    depth x width sketch cells however large the relation."""
    from ..operators.sketch import count_min_build, count_min_inner_product

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    keys = li.select("l_partkey")
    sk = count_min_build(keys, "l_partkey", depth=_CMS_DEPTH, width=_CMS_WIDTH)
    est = count_min_inner_product(sk, sk, depth=_CMS_DEPTH).select(
        F.col("est").alias("est_pairs")
    )
    exact = (
        keys.groupBy("l_partkey")
        .agg(F.count("*").alias("c"))
        .agg(
            F.count("*").cast("long").alias("n_keys"),
            F.sum(F.expr("c * c")).cast("long").alias("exact_pairs"),
        )
    )
    return exact.crossJoin(F.broadcast(est))


def sql_join_size_estimate() -> str:
    cells = "\n  UNION ALL\n".join(
        f"  SELECT {j} AS row,"
        f" {_sql_hex8(f'''md5(CAST(l_partkey AS VARCHAR) || '#{j}')''')}"
        f" % {_CMS_WIDTH} AS bucket FROM lineitem"
        for j in range(_CMS_DEPTH)
    )
    return f"""WITH cnts AS (
  SELECT l_partkey, COUNT(*) AS c FROM lineitem GROUP BY l_partkey
),
exact AS (
  SELECT COUNT(*) AS n_keys, SUM(c * c) AS exact_pairs FROM cnts
),
cells AS (
{cells}
),
sketch AS (
  SELECT row, bucket, COUNT(*) AS cnt FROM cells GROUP BY row, bucket
),
ip AS (
  SELECT row, SUM(cnt * cnt) AS ip FROM sketch GROUP BY row
),
est AS (SELECT MIN(ip) AS est_pairs FROM ip)
SELECT CAST(n_keys AS BIGINT) AS n_keys,
       CAST(exact_pairs AS BIGINT) AS exact_pairs,
       CAST(est_pairs AS BIGINT) AS est_pairs
FROM exact CROSS JOIN est"""


QUERIES["q_join_size_estimate"] = q_join_size_estimate
ORACLES["q_join_size_estimate"] = sql_join_size_estimate


def q_range_bounds(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Range-partitioner boundary estimation + balance readout
    (operators/layout.range_partition_bounds) over the events stream's
    epoch seconds: deterministic md5-residue sample -> NTILE
    boundaries over the bounded sample -> scan-side CASE-chain
    assignment of every row -> per-bucket counts. Exactly the global
    sort / sorted-write preparation step at 100 TB: the data never
    sorts globally, boundaries are the partitioner (bounded plan
    literals, the same collect Spark's own RangePartitioner does)."""
    from ..operators.layout import range_partition_bounds

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    base = ev.select(
        F.unix_timestamp("ts").alias("v"),
        F.col("event_id").alias("rid"),
    )
    return range_partition_bounds(
        base, "v", "rid", buckets=_RB_BUCKETS, sample_mod=_RB_MOD
    )


def sql_range_bounds() -> str:
    b = _RB_BUCKETS
    h = _sql_hex8("md5(CAST(d.rid AS VARCHAR) || '#rb')")
    return f"""WITH data AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS v, event_id AS rid
  FROM events
),
sample AS (
  SELECT d.v, d.rid FROM data d
  WHERE {h} % {_RB_MOD} = 0
),
tiles AS (
  SELECT v, NTILE({b}) OVER (ORDER BY v, rid) AS tile FROM sample
),
bounds AS (
  SELECT tile, MAX(v) AS hi FROM tiles GROUP BY tile HAVING tile < {b}
),
assigned AS (
  SELECT d.rid, d.v, COUNT(bo.hi) AS bucket
  FROM data d LEFT JOIN bounds bo ON d.v > bo.hi
  GROUP BY d.rid, d.v
)
SELECT CAST(bucket AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(v) AS BIGINT) AS v_min, CAST(MAX(v) AS BIGINT) AS v_max
FROM assigned GROUP BY bucket"""


QUERIES["q_range_bounds"] = q_range_bounds
ORACLES["q_range_bounds"] = sql_range_bounds


def q_vocab_saturation(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Heaps-law vocabulary-growth curve
    (operators/stats.vocab_saturation): the corpus in 8 id-order
    prefixes, each reporting its NEVER-seen-before term count plus
    cumulative vocabulary and token totals — the marginal-return-of-
    more-data signal a crawl-budget decision reads. Exact (token ->
    min(first bucket) in one token-domain groupBy, the same shuffle
    as corpus_ngrams); cumulative window over <= 8 rows."""
    from ..operators.stats import vocab_saturation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return vocab_saturation(docs, "text", "doc_id", buckets=_VS_BUCKETS)


def sql_vocab_saturation() -> str:
    b = _VS_BUCKETS
    toks = _TOKS.format(c="text")
    return f"""WITH tot AS (SELECT COUNT(*) AS t_n FROM documents),
toks AS (
  SELECT LEAST({b - 1}, (doc_id * {b}) // t_n) AS bucket,
         unnest({toks}) AS tok
  FROM documents CROSS JOIN tot
),
toks2 AS (SELECT bucket, tok FROM toks WHERE tok <> ''),
firsts AS (SELECT tok, MIN(bucket) AS fb FROM toks2 GROUP BY tok),
newv AS (SELECT fb AS bucket, COUNT(*) AS new_terms FROM firsts GROUP BY fb),
btoks AS (
  SELECT bucket, COUNT(*) AS bucket_tokens FROM toks2 GROUP BY bucket
),
j AS (
  SELECT bt.bucket, COALESCE(nv.new_terms, 0) AS new_terms,
         bt.bucket_tokens
  FROM btoks bt LEFT JOIN newv nv ON nv.bucket = bt.bucket
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(new_terms AS BIGINT) AS new_terms,
       CAST(SUM(new_terms) OVER (ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_vocab,
       CAST(bucket_tokens AS BIGINT) AS bucket_tokens,
       CAST(SUM(bucket_tokens) OVER (ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_tokens
FROM j"""


QUERIES["q_vocab_saturation"] = q_vocab_saturation
ORACLES["q_vocab_saturation"] = sql_vocab_saturation


# --- wave 28: rank correlation, min/max pruning, dataset card,
# CMS heavy hitters ---

_MMP_FILES = 64
_HH_DENOM = 100  # heavy hitter = >= 1/_HH_DENOM of all tokens


def q_spearman(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Spearman rank correlation between document length and quality
    (operators/stats.spearman_rho), tie-exact WITHOUT ranking data
    rows: both signals collapse to grouped value histograms, average
    ranks live in integer half-units (2*cum + n_v + 1), rows re-join
    their ranks by value, and Pearson runs over the paired ranks with
    exact BIGINT sums. The monotone-association readout that, next to
    q_signal_corr's linear one, tells whether a nonlinear quality
    filter is just re-measuring length."""
    from ..functions.text import quality_score_u
    from ..operators.stats import spearman_rho

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.select(
        F.col("n_chars").alias("x"),
        quality_score_u(F.col("text")).alias("y"),
    )
    return spearman_rho(base, "x", "y")


def sql_spearman() -> str:
    num = (
        "CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)"
    )
    dx = (
        "CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
    )
    dy = (
        "CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)"
    )
    return f"""WITH base AS (
  SELECT n_chars AS x, q.quality_u AS y
  FROM documents JOIN ({sql_quality()}) q USING (doc_id)
),
hx AS (SELECT x AS v, COUNT(*) AS c FROM base GROUP BY x),
rx AS (
  SELECT v, 2 * COALESCE(SUM(c) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r
  FROM hx
),
hy AS (SELECT y AS v, COUNT(*) AS c FROM base GROUP BY y),
ry AS (
  SELECT v, 2 * COALESCE(SUM(c) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r
  FROM hy
),
paired AS (
  SELECT rx.r AS rx, ry.r AS ry
  FROM base JOIN rx ON rx.v = base.x JOIN ry ON ry.v = base.y
),
agg AS (
  SELECT COUNT(*) AS n, SUM(rx) AS sx, SUM(ry) AS sy,
         SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy, SUM(rx * ry) AS sxy
  FROM paired
)
SELECT CAST(n AS BIGINT) AS n,
       CASE WHEN ({dx}) > 0 AND ({dy}) > 0 THEN
         CAST(floor((({num}) * ({num})) / (({dx}) * ({dy}))
              * 1000000.0) AS BIGINT)
       ELSE 0 END AS rho2_u,
       CAST(CASE WHEN ({num}) > 0 THEN 1 WHEN ({num}) < 0 THEN -1
                 ELSE 0 END AS BIGINT) AS sign
FROM agg"""


QUERIES["q_spearman"] = q_spearman
ORACLES["q_spearman"] = sql_spearman


def q_minmax_prune(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """File-skipping readout (operators/layout.minmax_file_stats):
    events cut into {_MMP_FILES} id-order "files", per-file min/max
    epoch stats (the parquet-footer / Iceberg-manifest statistics),
    then a 30-40%-of-timespan range predicate counts the files it can
    SKIP outright vs the rows it must scan vs the rows that match.
    The arithmetic that lets a 100 TB time-range query touch a sliver:
    stats are file-count-sized, the predicate range is a one-row
    broadcast, only the matching-rows count rescans data (with the
    predicate pushed down)."""
    from ..operators.layout import minmax_file_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    base = ev.select(
        F.unix_timestamp("ts").alias("v"),
        F.col("event_id").alias("rid"),
    )
    tot = base.agg(
        F.count("*").cast("long").alias("t_n"),
        F.min("v").alias("t_lo"),
        F.max("v").alias("t_hi"),
    )
    rng = tot.select(
        "t_n",
        F.expr("t_lo + ((t_hi - t_lo) * 30) div 100").alias("p_lo"),
        F.expr("t_lo + ((t_hi - t_lo) * 40) div 100").alias("p_hi"),
    )
    filed = base.crossJoin(F.broadcast(tot)).select(
        F.least(
            F.lit(_MMP_FILES - 1),
            F.expr(f"(rid * {_MMP_FILES}) div t_n"),
        ).cast("long").alias("file_id"),
        "v",
    )
    stats = minmax_file_stats(filed, "file_id", "v")
    pruned = (
        stats.crossJoin(F.broadcast(rng))
        .agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum(
                F.when(
                    (F.col("v_max") < F.col("p_lo"))
                    | (F.col("v_min") > F.col("p_hi")),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_pruned"),
            F.sum(
                F.when(
                    (F.col("v_max") >= F.col("p_lo"))
                    & (F.col("v_min") <= F.col("p_hi")),
                    F.col("n_rows"),
                ).otherwise(0)
            ).cast("long").alias("rows_scanned"),
        )
    )
    matching = (
        base.crossJoin(F.broadcast(rng))
        .where((F.col("v") >= F.col("p_lo")) & (F.col("v") <= F.col("p_hi")))
        .agg(F.count("*").cast("long").alias("rows_matching"))
    )
    return pruned.crossJoin(F.broadcast(matching))


def sql_minmax_prune() -> str:
    m = _MMP_FILES
    return f"""WITH base AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS v, event_id AS rid
  FROM events
),
tot AS (
  SELECT COUNT(*) AS t_n, MIN(v) AS t_lo, MAX(v) AS t_hi FROM base
),
rng AS (
  SELECT t_lo + ((t_hi - t_lo) * 30) // 100 AS p_lo,
         t_lo + ((t_hi - t_lo) * 40) // 100 AS p_hi
  FROM tot
),
filed AS (
  SELECT LEAST({m - 1}, (rid * {m}) // t_n) AS file_id, v
  FROM base CROSS JOIN tot
),
stats AS (
  SELECT file_id, COUNT(*) AS n_rows, MIN(v) AS v_min, MAX(v) AS v_max
  FROM filed GROUP BY file_id
),
pruned AS (
  SELECT COUNT(*) AS n_files,
         SUM(CASE WHEN v_max < p_lo OR v_min > p_hi THEN 1 ELSE 0 END)
           AS n_pruned,
         SUM(CASE WHEN v_max >= p_lo AND v_min <= p_hi THEN n_rows
                  ELSE 0 END) AS rows_scanned
  FROM stats CROSS JOIN rng
),
matching AS (
  SELECT COUNT(*) AS rows_matching
  FROM base CROSS JOIN rng WHERE v >= p_lo AND v <= p_hi
)
SELECT CAST(n_files AS BIGINT) AS n_files,
       CAST(n_pruned AS BIGINT) AS n_pruned,
       CAST(rows_scanned AS BIGINT) AS rows_scanned,
       CAST(rows_matching AS BIGINT) AS rows_matching
FROM pruned CROSS JOIN matching"""


QUERIES["q_minmax_prune"] = q_minmax_prune
ORACLES["q_minmax_prune"] = sql_minmax_prune


def q_dataset_card(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-source datasheet — the "dataset card" table a corpus
    release ships: document count, exact token total, English share,
    mean quality, mean length, all integer micro-units, ONE map-side-
    combined groupBy(source) whatever the corpus size. Composes the
    verified token/quality kernels; 100 TB cost = one scan plus a
    source-count-sized shuffle."""
    from ..functions.text import quality_score_u

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.select(
        "source",
        token_count(F.col("text")).cast("long").alias("toks"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("en"),
        quality_score_u(F.col("text")).cast("long").alias("q"),
        F.col("n_chars").cast("long").alias("ch"),
    )
    agg = base.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("toks").cast("long").alias("tokens"),
        F.sum("en").cast("long").alias("en_docs"),
        F.sum("q").cast("long").alias("sq"),
        F.sum("ch").cast("long").alias("sch"),
    )
    return agg.select(
        "source",
        "n_docs",
        "tokens",
        F.expr("(en_docs * 1000000) div n_docs").cast("long")
        .alias("en_share_u"),
        F.expr("sq div n_docs").cast("long").alias("mean_quality_u"),
        F.expr("sch div n_docs").cast("long").alias("mean_chars"),
    )


def sql_dataset_card() -> str:
    toks = _TOKS.format(c="text")
    return f"""WITH base AS (
  SELECT source,
         (CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len({toks}) END) AS toks,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS en,
         q.quality_u AS q, n_chars AS ch
  FROM documents JOIN ({sql_quality()}) q USING (doc_id)
),
agg AS (
  SELECT source, COUNT(*) AS n_docs, SUM(toks) AS tokens,
         SUM(en) AS en_docs, SUM(q) AS sq, SUM(ch) AS sch
  FROM base GROUP BY source
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(tokens AS BIGINT) AS tokens,
       CAST((en_docs * 1000000) // n_docs AS BIGINT) AS en_share_u,
       CAST(sq // n_docs AS BIGINT) AS mean_quality_u,
       CAST(sch // n_docs AS BIGINT) AS mean_chars
FROM agg"""


QUERIES["q_dataset_card"] = q_dataset_card
ORACLES["q_dataset_card"] = sql_dataset_card


def q_heavy_hitters(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """CMS phi-heavy-hitters with exact verification: every token the
    depth-{_CMS_DEPTH} x width-{_CMS_WIDTH} sketch estimates at
    >= 1/{_HH_DENOM} of all token occurrences, beside its exact count
    and whether it truly clears the bar. est >= exact means the CMS
    can only OVER-report (false positives, never false negatives) —
    the guarantee that makes sketch-first heavy-hitter mining safe:
    the expensive exact pass touches only the sketch's shortlist. The
    oracle rebuilds the identical md5 sketch so even the false
    positives match exactly."""
    from ..operators.dedup import shingles
    from ..operators.sketch import count_min_build, count_min_estimate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        F.explode(shingles(F.col("text"), 1)).alias("tok")
    ).where(F.col("tok") != "")
    sketch = count_min_build(toks, "tok", depth=_CMS_DEPTH, width=_CMS_WIDTH)
    exact = toks.groupBy("tok").agg(F.count("*").cast("long").alias("exact"))
    est = count_min_estimate(
        sketch, exact.select("tok"), "tok",
        depth=_CMS_DEPTH, width=_CMS_WIDTH,
    )
    thr = toks.agg(
        F.expr(f"(count(*) div {_HH_DENOM})").cast("long").alias("thr")
    )
    return (
        est.join(exact, "tok")
        .crossJoin(F.broadcast(thr))
        .where(F.col("est") >= F.col("thr"))
        .select(
            "tok",
            "exact",
            F.col("est").cast("long").alias("est"),
            (F.col("exact") >= F.col("thr")).alias("true_hh"),
        )
    )


def sql_heavy_hitters() -> str:
    toks = _TOKS.format(c="text")
    cells = "\n  UNION ALL\n".join(
        f"  SELECT {j} AS row,"
        f" {_sql_hex8(f'''md5(tok || '#{j}')''')} % {_CMS_WIDTH} AS bucket"
        f" FROM toks"
        for j in range(_CMS_DEPTH)
    )
    probe_cells = "\n  UNION ALL\n".join(
        f"  SELECT tok, {j} AS row,"
        f" {_sql_hex8(f'''md5(tok || '#{j}')''')} % {_CMS_WIDTH} AS bucket"
        f" FROM exact"
        for j in range(_CMS_DEPTH)
    )
    return f"""WITH toks AS (
  SELECT tok FROM (
    SELECT unnest({toks}) AS tok FROM documents
  ) t WHERE tok <> ''
),
exact AS (SELECT tok, COUNT(*) AS exact FROM toks GROUP BY tok),
thr AS (SELECT COUNT(*) // {_HH_DENOM} AS thr FROM toks),
cells AS (
{cells}
),
sketch AS (
  SELECT row, bucket, COUNT(*) AS cnt FROM cells GROUP BY row, bucket
),
probe_cells AS (
{probe_cells}
),
est AS (
  SELECT p.tok, MIN(COALESCE(s.cnt, 0)) AS est
  FROM probe_cells p
  LEFT JOIN sketch s ON s.row = p.row AND s.bucket = p.bucket
  GROUP BY p.tok
)
SELECT e.tok, CAST(x.exact AS BIGINT) AS exact, CAST(e.est AS BIGINT) AS est,
       (x.exact >= t.thr) AS true_hh
FROM est e JOIN exact x ON x.tok = e.tok CROSS JOIN thr t
WHERE e.est >= t.thr"""


QUERIES["q_heavy_hitters"] = q_heavy_hitters
ORACLES["q_heavy_hitters"] = sql_heavy_hitters


# --- wave 29: sliding windows (batch + streaming) and native
# session windows ---

_SLIDE_DUR_S = 600
_SLIDE_STEP_S = 300


def q_events_sliding(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Sliding (overlapping) windows via Spark's NATIVE
    F.window(ts, '600 seconds', '300 seconds'): every event lands in
    exactly duration/slide = 2 windows, the hopping-aggregation shape
    a rate monitor runs. Integer-exact: per-row floor(value*1e6)
    longs. The oracle replays the window assignment arithmetic
    (epoch-floored seconds are exact here because boundaries are
    whole multiples of the slide). One shuffle, 2x row expansion
    inside the aggregate — no joins."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    win = F.window(
        "ts", f"{_SLIDE_DUR_S} seconds", f"{_SLIDE_STEP_S} seconds"
    )
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 1e6).cast("long"))
            .cast("long")
            .alias("sum_value_u"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value_u",
        )
    )


def sql_events_sliding() -> str:
    d, s = _SLIDE_DUR_S, _SLIDE_STEP_S
    k = d // s
    starts = ", ".join(f"(fs // {s}) * {s} - {i * s}" for i in range(k))
    return f"""WITH e AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS fs, event_type,
         CAST(floor(value * 1e6) AS BIGINT) AS v_u
  FROM events
),
x AS (
  SELECT unnest([{starts}]) AS window_start, event_type, v_u FROM e
)
SELECT CAST(window_start AS BIGINT) AS window_start, event_type,
       COUNT(*) AS n_events, CAST(SUM(v_u) AS BIGINT) AS sum_value_u
FROM x GROUP BY 1, 2"""


QUERIES["q_events_sliding"] = q_events_sliding
ORACLES["q_events_sliding"] = sql_events_sliding


def q_events_sliding_stream(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The sliding-window aggregation as a REAL Structured Streaming
    job (file readStream -> stateful hopping-window aggregation ->
    memory sink, availableNow) — same integer-exact aggregate as
    q_events_sliding so state-store merge order cannot drift the
    result; the oracle is the identical window-assignment replay."""
    import os
    import re
    import tempfile

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    src_dir = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_events_{tag}_{spark.sparkContext.applicationId}",
    )
    os.makedirs(src_dir, exist_ok=True)
    link = os.path.join(src_dir, "events.parquet")
    if os.path.lexists(link):
        os.unlink(link)
    os.symlink(path, link)
    src = spark.readStream.schema(schema).parquet(src_dir)
    win = F.window(
        "ts", f"{_SLIDE_DUR_S} seconds", f"{_SLIDE_STEP_S} seconds"
    )
    agg = (
        src.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 1e6).cast("long"))
            .cast("long")
            .alias("sum_value_u"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value_u",
        )
    )
    _STREAM_SEQ[0] += 1
    name = f"events_sliding_stream_{_STREAM_SEQ[0]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


QUERIES["q_events_sliding_stream"] = q_events_sliding_stream
ORACLES["q_events_sliding_stream"] = sql_events_sliding


def q_events_session_native(
    spark: "SparkSession", sf_dir: str
) -> "DataFrame":
    """Spark's NATIVE F.session_window(ts, '30 minutes') — the
    merge-overlapping-[t, t+gap) session operator (vs
    q_events_sessionize's handwritten gaps-and-islands): window.end
    is last_event + gap by definition. The oracle replays the merge
    rule EXACTLY in microsecond integers (epoch_us; new session iff
    the gap to the previous event is >= 30 min — an event at exactly
    prev + gap falls outside [prev, prev+gap)), so sub-second
    timestamps cannot drift the boundaries. One shuffle on user_id."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.session_window("ts", f"{_SESSION_GAP_S} seconds").alias("sw"),
            "user_id",
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("sw.start")).alias("session_start"),
            F.unix_timestamp(F.col("sw.end")).alias("session_end"),
            "n_events",
        )
    )


def sql_events_session_native() -> str:
    gap_us = _SESSION_GAP_S * 1_000_000
    return f"""WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_id FROM events
),
flagged AS (
  SELECT user_id, us, event_id,
         CASE WHEN us - LAG(us) OVER (
                PARTITION BY user_id ORDER BY us, event_id) >= {gap_us}
              THEN 1 ELSE 0 END AS ns
  FROM e
),
sess AS (
  SELECT user_id, us,
         SUM(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
),
g AS (
  SELECT user_id, sid, MIN(us) AS mn, MAX(us) AS mx,
         COUNT(*) AS n_events
  FROM sess GROUP BY user_id, sid
)
SELECT user_id, CAST(mn // 1000000 AS BIGINT) AS session_start,
       CAST((mx + {gap_us}) // 1000000 AS BIGINT) AS session_end,
       CAST(n_events AS BIGINT) AS n_events
FROM g"""


QUERIES["q_events_session_native"] = q_events_session_native
ORACLES["q_events_session_native"] = sql_events_session_native


# --- wave 30: embedding drift, A/B test, per-group AUC ---

_AB_SRC_A = "src0"
_AB_SRC_B = "src1"


def q_embed_drift(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Embedding-space corpus drift (operators/similarity.
    centroid_drift): cosine between the centroid of the first and
    second id-order half of the embeddings table — q_corpus_drift's
    semantic twin (token distributions vs meaning). Scan-side
    micro-unit flooring, one posexplode groupBy(split, dim) shuffle
    into 2*64 rows, final dot/norms over 64 rows; cosine of sums ==
    cosine of means so no division until the last expression."""
    from ..operators.similarity import centroid_drift

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    tot = emb.agg(F.count("*").cast("long").alias("t_n"))
    base = emb.crossJoin(F.broadcast(tot)).select(
        F.least(F.lit(1), F.expr("(vec_id * 2) div t_n")).alias("half"),
        "embedding",
    )
    return centroid_drift(base, "embedding", "half")


def sql_embed_drift() -> str:
    return """WITH tot AS (SELECT COUNT(*) AS t_n FROM embeddings),
vu AS (
  SELECT LEAST(1, (vec_id * 2) // t_n) AS half,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS v
  FROM embeddings CROSS JOIN tot
),
dims AS (
  SELECT half, d.i AS pos, SUM(v[d.i]) AS s
  FROM vu CROSS JOIN range(1, 65) d(i)
  GROUP BY half, d.i
),
ip AS (
  SELECT SUM(a.s * b.s) AS dot, SUM(a.s * a.s) AS na2,
         SUM(b.s * b.s) AS nb2
  FROM (SELECT pos, s FROM dims WHERE half = 0) a
  JOIN (SELECT pos, s FROM dims WHERE half = 1) b USING (pos)
),
cnts AS (
  SELECT SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n_b
  FROM vu
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(CASE WHEN na2 > 0 AND nb2 > 0 THEN
         CAST(floor(CAST(dot AS DOUBLE)
           / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))
           * 1000000.0) AS BIGINT)
       ELSE 0 END AS BIGINT) AS cos_u
FROM cnts CROSS JOIN ip"""


QUERIES["q_embed_drift"] = q_embed_drift
ORACLES["q_embed_drift"] = sql_embed_drift


def q_ab_ttest(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Welch two-sample z (operators/stats.welch_z) on quality between
    sources {_AB_SRC_A} and {_AB_SRC_B} — the filter-change A/B
    readout. Exact BIGINT moments from one pass over the two slices
    (predicate pushed to the scan); the statistic is a fixed double
    tree, floor(z * 1e6)."""
    from ..functions.text import quality_score_u
    from ..operators.stats import welch_z

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = docs.select(
        "source", quality_score_u(F.col("text")).alias("quality_u")
    )
    return welch_z(scored, "source", "quality_u", _AB_SRC_A, _AB_SRC_B)


def sql_ab_ttest() -> str:
    se2 = (
        "(CAST(na AS DOUBLE) * CAST(qa AS DOUBLE)"
        " - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))"
        " / (CAST(na AS DOUBLE) * CAST(na AS DOUBLE)"
        " * (CAST(na AS DOUBLE) - 1.0))"
        " + (CAST(nb AS DOUBLE) * CAST(qb AS DOUBLE)"
        " - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))"
        " / (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE)"
        " * (CAST(nb AS DOUBLE) - 1.0))"
    )
    diff = (
        "CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)"
        " - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)"
    )
    return f"""WITH scored AS (
  SELECT source, quality_u
  FROM ({sql_quality()}) q JOIN documents USING (doc_id)
  WHERE source IN ('{_AB_SRC_A}', '{_AB_SRC_B}')
),
agg AS (
  SELECT
    SUM(CASE WHEN source = '{_AB_SRC_A}' THEN 1 ELSE 0 END) AS na,
    SUM(CASE WHEN source = '{_AB_SRC_B}' THEN 1 ELSE 0 END) AS nb,
    SUM(CASE WHEN source = '{_AB_SRC_A}' THEN quality_u ELSE 0 END) AS sa,
    SUM(CASE WHEN source = '{_AB_SRC_B}' THEN quality_u ELSE 0 END) AS sb,
    SUM(CASE WHEN source = '{_AB_SRC_A}'
             THEN quality_u * quality_u ELSE 0 END) AS qa,
    SUM(CASE WHEN source = '{_AB_SRC_B}'
             THEN quality_u * quality_u ELSE 0 END) AS qb
  FROM scored
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(CASE WHEN na > 0 THEN sa // na ELSE 0 END AS BIGINT)
         AS mean_a_u,
       CAST(CASE WHEN nb > 0 THEN sb // nb ELSE 0 END AS BIGINT)
         AS mean_b_u,
       CAST(CASE WHEN na >= 2 AND nb >= 2 AND ({se2}) > 0 THEN
         CAST(floor(({diff}) / sqrt({se2}) * 1000000.0) AS BIGINT)
       ELSE 0 END AS BIGINT) AS z_u
FROM agg"""


QUERIES["q_ab_ttest"] = q_ab_ttest
ORACLES["q_ab_ttest"] = sql_ab_ttest


def q_grouped_auc(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-source scorer AUC (operators/stats.grouped_ranking_auc) —
    the fairness-by-domain readout: a scorer can rank well globally
    (q_quality_auc) while inverting inside one source. The cumulative
    window is PARTITIONED by source over per-source score histograms;
    sources lacking both classes report 0."""
    from ..functions.text import quality_score_u
    from ..operators.stats import grouped_ranking_auc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = docs.select(
        "source",
        quality_score_u(F.col("text")).alias("quality_u"),
        (F.col("lang") == "en").alias("is_en"),
    )
    return grouped_ranking_auc(scored, "source", "quality_u", "is_en")


def sql_grouped_auc() -> str:
    return f"""WITH scored AS (
  SELECT source, quality_u, (lang = 'en') AS is_en
  FROM ({sql_quality()}) q JOIN documents USING (doc_id)
),
hist AS (
  SELECT source, quality_u AS s,
         SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS np,
         SUM(CASE WHEN is_en THEN 0 ELSE 1 END) AS nn
  FROM scored GROUP BY source, quality_u
),
terms AS (
  SELECT source, np, nn,
         COALESCE(SUM(nn) OVER (PARTITION BY source ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_nn
  FROM hist
),
agg AS (
  SELECT source, SUM(np) AS n_pos, SUM(nn) AS n_neg,
         SUM(2 * np * cum_nn + np * nn) AS u2
  FROM terms GROUP BY source
)
SELECT source, CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_neg AS BIGINT) AS n_neg,
       CAST(CASE WHEN n_pos > 0 AND n_neg > 0
                 THEN (u2 * 1000000) // (2 * n_pos * n_neg)
                 ELSE 0 END AS BIGINT) AS auc_u
FROM agg"""


QUERIES["q_grouped_auc"] = q_grouped_auc
ORACLES["q_grouped_auc"] = sql_grouped_auc


# --- wave 31: TPC-H Q8 market share, P/R threshold sweep,
# host-graph reciprocity ---

_Q8_REGION = "ASIA"
_Q8_TYPE = "PROMO"
_Q8_NATION = "NATION_5"
_PRC_STEP_U = 100_000


def q_market_share(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """TPC-H Q8-shaped national market share: within region
    {_Q8_REGION} and part type {_Q8_TYPE}, the share of yearly revenue
    supplied by {_Q8_NATION}. 8-way join whose 100 TB plan shape is:
    part filter, supplier->nation dim, and region->nation->customer
    scope all broadcast into the lineitem scan (each a few MB at any
    SF); the only shuffles are lineitem><orders on orderkey and
    ><customer on custkey plus a years-sized aggregate. Revenue in
    floor-cents, share as integer micro-units — fold order cannot
    drift either engine."""
    region = spark.read.parquet(f"{sf_dir}/region.parquet").filter(
        F.col("r_name") == _Q8_REGION
    )
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet").filter(
        F.col("p_type") == _Q8_TYPE
    ).select("p_partkey")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    cust_scope = (
        cust.join(
            F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"]
        )
        .join(
            F.broadcast(region),
            nation["n_regionkey"] == region["r_regionkey"],
        )
        .select("c_custkey")
    )
    supp_dim = supp.join(
        F.broadcast(nation.select(
            F.col("n_nationkey").alias("sn_key"),
            F.col("n_name").alias("supp_nation"),
        )),
        supp["s_nationkey"] == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    rev = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100
    ).cast("long")
    agg = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(supp_dim), li["l_suppkey"] == F.col("s_suppkey"))
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust_scope, orders["o_custkey"] == F.col("c_custkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(rev).cast("long").alias("total_rev_c"),
            F.sum(
                F.when(F.col("supp_nation") == _Q8_NATION, rev).otherwise(0)
            ).cast("long").alias("nation_rev_c"),
        )
    )
    return agg.select(
        "o_year",
        "total_rev_c",
        "nation_rev_c",
        F.expr(
            "CASE WHEN total_rev_c > 0 THEN"
            " (nation_rev_c * 1000000) div total_rev_c ELSE 0 END"
        ).cast("long").alias("share_u"),
    )


def sql_market_share() -> str:
    return f"""WITH agg AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100)
             AS BIGINT)) AS total_rev_c,
         SUM(CASE WHEN sn.n_name = {_sql_str(_Q8_NATION)}
                  THEN CAST(floor(l_extendedprice * (1.0 - l_discount)
                       * 100) AS BIGINT)
                  ELSE 0 END) AS nation_rev_c
  FROM lineitem, part, supplier, orders, customer,
       nation cn, nation sn, region
  WHERE l_partkey = p_partkey AND p_type = {_sql_str(_Q8_TYPE)}
    AND l_suppkey = s_suppkey AND s_nationkey = sn.n_nationkey
    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
    AND c_nationkey = cn.n_nationkey AND cn.n_regionkey = r_regionkey
    AND r_name = {_sql_str(_Q8_REGION)}
  GROUP BY 1
)
SELECT o_year, CAST(total_rev_c AS BIGINT) AS total_rev_c,
       CAST(nation_rev_c AS BIGINT) AS nation_rev_c,
       CAST(CASE WHEN total_rev_c > 0
                 THEN (nation_rev_c * 1000000) // total_rev_c
                 ELSE 0 END AS BIGINT) AS share_u
FROM agg"""


QUERIES["q_market_share"] = q_market_share
ORACLES["q_market_share"] = sql_market_share


def q_pr_curve(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Precision/recall/F1 sweep of the quality>=t classifier for 11
    evenly-spaced thresholds — the operating-point table a filter
    deployment picks its cutoff from. Pure integers end to end:
    confusion counts come from the bounded score HISTOGRAM (never the
    data) left-joined to an 11-row threshold frame, so every
    threshold row exists even when nothing clears it."""
    from ..functions.text import quality_score_u

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hist = (
        docs.select(
            quality_score_u(F.col("text")).alias("s"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("p"),
        )
        .groupBy("s")
        .agg(
            F.sum("p").cast("long").alias("np"),
            F.sum(F.expr("1 - p")).cast("long").alias("nn"),
        )
    )
    thr = spark.createDataFrame(
        [(k * _PRC_STEP_U,) for k in range(11)], "thr_u long"
    )
    tot = hist.agg(F.sum("np").cast("long").alias("pos"))
    conf = (
        thr.join(hist, hist["s"] >= thr["thr_u"], "left")
        .groupBy("thr_u")
        .agg(
            F.coalesce(F.sum("np"), F.lit(0)).cast("long").alias("tp"),
            F.coalesce(F.sum("nn"), F.lit(0)).cast("long").alias("fp"),
        )
        .crossJoin(F.broadcast(tot))
    )
    return conf.select(
        "thr_u",
        "tp",
        "fp",
        (F.col("pos") - F.col("tp")).cast("long").alias("fn"),
        F.expr(
            "CASE WHEN tp + fp > 0 THEN (tp * 1000000) div (tp + fp)"
            " ELSE 0 END"
        ).cast("long").alias("precision_u"),
        F.expr(
            "CASE WHEN pos > 0 THEN (tp * 1000000) div pos ELSE 0 END"
        ).cast("long").alias("recall_u"),
        F.expr(
            "CASE WHEN (CASE WHEN tp + fp > 0 THEN (tp * 1000000)"
            " div (tp + fp) ELSE 0 END)"
            " + (CASE WHEN pos > 0 THEN (tp * 1000000) div pos"
            " ELSE 0 END) > 0 THEN"
            " (2 * (CASE WHEN tp + fp > 0 THEN (tp * 1000000)"
            " div (tp + fp) ELSE 0 END)"
            " * (CASE WHEN pos > 0 THEN (tp * 1000000) div pos"
            " ELSE 0 END))"
            " div ((CASE WHEN tp + fp > 0 THEN (tp * 1000000)"
            " div (tp + fp) ELSE 0 END)"
            " + (CASE WHEN pos > 0 THEN (tp * 1000000) div pos"
            " ELSE 0 END)) ELSE 0 END"
        ).cast("long").alias("f1_u"),
    )


def sql_pr_curve() -> str:
    ks = ", ".join(str(k * _PRC_STEP_U) for k in range(11))
    prec = "CASE WHEN tp + fp > 0 THEN (tp * 1000000) // (tp + fp) ELSE 0 END"
    rec = "CASE WHEN pos > 0 THEN (tp * 1000000) // pos ELSE 0 END"
    return f"""WITH scored AS (
  SELECT quality_u AS s, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS p
  FROM ({sql_quality()}) q JOIN documents USING (doc_id)
),
hist AS (
  SELECT s, SUM(p) AS np, SUM(1 - p) AS nn FROM scored GROUP BY s
),
thr AS (SELECT unnest([{ks}]) AS thr_u),
tot AS (SELECT SUM(np) AS pos FROM hist),
conf AS (
  SELECT t.thr_u, COALESCE(SUM(h.np), 0) AS tp,
         COALESCE(SUM(h.nn), 0) AS fp
  FROM thr t LEFT JOIN hist h ON h.s >= t.thr_u
  GROUP BY t.thr_u
)
SELECT CAST(thr_u AS BIGINT) AS thr_u, CAST(tp AS BIGINT) AS tp,
       CAST(fp AS BIGINT) AS fp,
       CAST(pos - tp AS BIGINT) AS fn,
       CAST({prec} AS BIGINT) AS precision_u,
       CAST({rec} AS BIGINT) AS recall_u,
       CAST(CASE WHEN ({prec}) + ({rec}) > 0 THEN
              (2 * ({prec}) * ({rec})) // (({prec}) + ({rec}))
            ELSE 0 END AS BIGINT) AS f1_u
FROM conf CROSS JOIN tot"""


QUERIES["q_pr_curve"] = q_pr_curve
ORACLES["q_pr_curve"] = sql_pr_curve


def q_graph_reciprocity(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Host-graph reciprocity: of the distinct non-loop host->host
    link edges (same tokenizer-grade extraction + RFC 3986 resolution
    as q_host_pagerank), the fraction whose REVERSE edge also exists —
    the mutual-linking signal that separates organic link neighborhoods
    from link farms. One self-intersect of the deduped edge list (a
    hash join on the reversed key); output is one row."""
    from ..operators.links import extract_links, host_edges, resolve_links

    pages = spark.createDataFrame(
        _linked_page_rows(), "url string, html string"
    ).repartition(4)
    edges = (
        host_edges(resolve_links(extract_links(pages)))
        .select("subj", "obj")
        .where(F.col("subj") != F.col("obj"))
        .distinct()
    )
    rev = edges.select(
        F.col("obj").alias("subj"), F.col("subj").alias("obj")
    )
    n = edges.agg(F.count("*").cast("long").alias("n_edges"))
    r = edges.intersect(rev).agg(
        F.count("*").cast("long").alias("n_recip")
    )
    return n.crossJoin(F.broadcast(r)).select(
        "n_edges",
        "n_recip",
        F.expr(
            "CASE WHEN n_edges > 0 THEN (n_recip * 1000000) div n_edges"
            " ELSE 0 END"
        ).cast("long").alias("reciprocity_u"),
    )


def sql_graph_reciprocity() -> str:
    import re as _re

    edges = []
    for url, html in _linked_page_rows():
        src = _re.match(r"^https?://([^/]+)", url).group(1)
        for dst_url in _replay_links_py(url, html):
            m = _re.match(r"^https?://([^/]+)", dst_url)
            if m:
                edges.append((src, m.group(1)))
    e_values = ",\n".join(f"({_sql_str(a)}, {_sql_str(b)})" for a, b in edges)
    return f"""WITH e AS (SELECT subj, obj FROM (VALUES
{e_values}
) t(subj, obj)),
d AS (SELECT DISTINCT subj, obj FROM e WHERE subj <> obj),
n AS (SELECT COUNT(*) AS n_edges FROM d),
r AS (
  SELECT COUNT(*) AS n_recip FROM d
  WHERE EXISTS (SELECT 1 FROM d d2
                WHERE d2.subj = d.obj AND d2.obj = d.subj)
)
SELECT CAST(n_edges AS BIGINT) AS n_edges,
       CAST(n_recip AS BIGINT) AS n_recip,
       CAST(CASE WHEN n_edges > 0 THEN (n_recip * 1000000) // n_edges
                 ELSE 0 END AS BIGINT) AS reciprocity_u
FROM n CROSS JOIN r"""


QUERIES["q_graph_reciprocity"] = q_graph_reciprocity
ORACLES["q_graph_reciprocity"] = sql_graph_reciprocity


# --- wave 32: filter agreement, dedup survivorship audit,
# robots crawl-loss ---


def q_filter_kappa(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Cohen's kappa between the two quality gates (Gopher keep vs
    FineWeb keep): chance-corrected agreement from the 2x2 confusion
    table — the redundancy check that says whether stacking the
    second filter changes the kept set or re-applies the first. One
    equi-join of two scan-side rule frames, one global aggregate; the
    kappa ratio is a fixed double tree over exact BIGINT cells
    (floor is identical both engines, including negative kappa)."""
    g = q_gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("gk")
    )
    f = q_fineweb_rules(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("fk")
    )
    cells = g.join(f, "doc_id").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("gk") & F.col("fk"), 1).otherwise(0))
        .cast("long").alias("n11"),
        F.sum(F.when(F.col("gk") & ~F.col("fk"), 1).otherwise(0))
        .cast("long").alias("n10"),
        F.sum(F.when(~F.col("gk") & F.col("fk"), 1).otherwise(0))
        .cast("long").alias("n01"),
        F.sum(F.when(~F.col("gk") & ~F.col("fk"), 1).otherwise(0))
        .cast("long").alias("n00"),
    )
    num = (
        "cast((n11 + n00) as double) * cast(n as double)"
        " - (cast((n11 + n10) as double) * cast((n11 + n01) as double)"
        " + cast((n00 + n01) as double) * cast((n00 + n10) as double))"
    )
    den = (
        "cast(n as double) * cast(n as double)"
        " - (cast((n11 + n10) as double) * cast((n11 + n01) as double)"
        " + cast((n00 + n01) as double) * cast((n00 + n10) as double))"
    )
    return cells.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr(
            f"CASE WHEN ({den}) > 0 THEN"
            f" cast(floor(({num}) / ({den}) * 1000000.0) as bigint)"
            f" ELSE 0 END"
        ).alias("kappa_u"),
    )


def sql_filter_kappa() -> str:
    num = (
        "CAST((n11 + n00) AS DOUBLE) * CAST(n AS DOUBLE)"
        " - (CAST((n11 + n10) AS DOUBLE) * CAST((n11 + n01) AS DOUBLE)"
        " + CAST((n00 + n01) AS DOUBLE) * CAST((n00 + n10) AS DOUBLE))"
    )
    den = (
        "CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
        " - (CAST((n11 + n10) AS DOUBLE) * CAST((n11 + n01) AS DOUBLE)"
        " + CAST((n00 + n01) AS DOUBLE) * CAST((n00 + n10) AS DOUBLE))"
    )
    return f"""WITH g AS (
  SELECT doc_id, keep AS gk FROM ({sql_gopher_rules()})
),
f AS (
  SELECT doc_id, keep AS fk FROM ({sql_fineweb_rules()})
),
cells AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN gk AND fk THEN 1 ELSE 0 END) AS n11,
         SUM(CASE WHEN gk AND NOT fk THEN 1 ELSE 0 END) AS n10,
         SUM(CASE WHEN NOT gk AND fk THEN 1 ELSE 0 END) AS n01,
         SUM(CASE WHEN NOT gk AND NOT fk THEN 1 ELSE 0 END) AS n00
  FROM g JOIN f USING (doc_id)
)
SELECT CAST(n AS BIGINT) AS n, CAST(n11 AS BIGINT) AS n11,
       CAST(n10 AS BIGINT) AS n10, CAST(n01 AS BIGINT) AS n01,
       CAST(n00 AS BIGINT) AS n00,
       CAST(CASE WHEN ({den}) > 0 THEN
         CAST(floor(({num}) / ({den}) * 1000000.0) AS BIGINT)
       ELSE 0 END AS BIGINT) AS kappa_u
FROM cells"""


QUERIES["q_filter_kappa"] = q_filter_kappa
ORACLES["q_filter_kappa"] = sql_filter_kappa


def q_dedup_audit(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Survivorship audit of the end-to-end near-dup resolution: what
    did dedup actually delete? One row over q_dedup_clusters joined
    back to the corpus — docs kept/removed, characters kept/removed,
    and the removed-character share in micro-units. The before/after
    accounting a dedup deployment reports next to its cluster count;
    all counts exact, one join + one aggregate on top of the verified
    cluster oracle."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.col("n_chars").cast("long").alias("ch")
    )
    clusters = q_dedup_clusters(spark, sf_dir).select("doc_id", "keep")
    j = clusters.join(docs, "doc_id")
    agg = j.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0))
        .cast("long").alias("n_kept"),
        F.sum("ch").cast("long").alias("chars_total"),
        F.sum(F.when(~F.col("keep"), F.col("ch")).otherwise(0))
        .cast("long").alias("chars_removed"),
    )
    return agg.select(
        "n_docs",
        "n_kept",
        (F.col("n_docs") - F.col("n_kept")).cast("long").alias("n_removed"),
        "chars_total",
        "chars_removed",
        F.expr(
            "CASE WHEN chars_total > 0 THEN"
            " (chars_removed * 1000000) div chars_total ELSE 0 END"
        ).cast("long").alias("removed_share_u"),
    )


def sql_dedup_audit() -> str:
    return f"""WITH clusters AS ({sql_dedup_clusters()}),
j AS (
  SELECT c.keep, d.n_chars AS ch
  FROM clusters c JOIN documents d USING (doc_id)
),
agg AS (
  SELECT COUNT(*) AS n_docs,
         SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS n_kept,
         SUM(ch) AS chars_total,
         SUM(CASE WHEN NOT keep THEN ch ELSE 0 END) AS chars_removed
  FROM j
)
SELECT CAST(n_docs AS BIGINT) AS n_docs, CAST(n_kept AS BIGINT) AS n_kept,
       CAST(n_docs - n_kept AS BIGINT) AS n_removed,
       CAST(chars_total AS BIGINT) AS chars_total,
       CAST(chars_removed AS BIGINT) AS chars_removed,
       CAST(CASE WHEN chars_total > 0
                 THEN (chars_removed * 1000000) // chars_total
                 ELSE 0 END AS BIGINT) AS removed_share_u
FROM agg"""


QUERIES["q_dedup_audit"] = q_dedup_audit
ORACLES["q_dedup_audit"] = sql_dedup_audit


def q_robots_loss(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Crawl loss to robots.txt: of the discovered URL frontier, how
    many URLs (and what share) the RFC 9309 evaluation refuses — the
    budget-planning number next to the per-URL q_robots_filter
    verdicts. One aggregate over the verified filter output."""
    verdicts = q_robots_filter(spark, sf_dir)
    agg = verdicts.agg(
        F.count("*").cast("long").alias("n_urls"),
        F.sum(F.when(~F.col("allowed"), 1).otherwise(0))
        .cast("long").alias("n_blocked"),
    )
    return agg.select(
        "n_urls",
        "n_blocked",
        F.expr(
            "CASE WHEN n_urls > 0 THEN (n_blocked * 1000000) div n_urls"
            " ELSE 0 END"
        ).cast("long").alias("blocked_share_u"),
    )


def sql_robots_loss() -> str:
    return f"""WITH verdicts AS ({sql_robots_filter()}),
agg AS (
  SELECT COUNT(*) AS n_urls,
         SUM(CASE WHEN NOT allowed THEN 1 ELSE 0 END) AS n_blocked
  FROM verdicts
)
SELECT CAST(n_urls AS BIGINT) AS n_urls,
       CAST(n_blocked AS BIGINT) AS n_blocked,
       CAST(CASE WHEN n_urls > 0 THEN (n_blocked * 1000000) // n_urls
                 ELSE 0 END AS BIGINT) AS blocked_share_u
FROM agg"""


QUERIES["q_robots_loss"] = q_robots_loss
ORACLES["q_robots_loss"] = sql_robots_loss


# --- wave 33: KMV corpus overlap, degree assortativity, k-anonymity ---

_KMV_OV_K = 64
_KANON_K = 5


def q_kmv_overlap(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Cross-corpus vocabulary overlap from KMV set sketches
    (operators/sketch.kmv_sketch/kmv_merge/kmv_ndv): the two id-order
    corpus halves each keep only their k={_KMV_OV_K} smallest token
    md5s; the union sketch's hit-rate against both sides gives the
    intersection and Jaccard estimates (Beyer et al. 2007). THE shape
    for "how much does the new crawl overlap the old corpus" at
    100 TB: each side collapses to k rows wherever it lives, the
    comparison is k-row joins. Estimates are exact-rebuildable (md5 +
    integer-valued 12-nibble fraction), so the oracle matches bit for
    bit, not approximately."""
    from ..operators.dedup import shingles
    from ..operators.sketch import kmv_merge, kmv_ndv, kmv_sketch

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tot = docs.agg(F.count("*").cast("long").alias("t_n"))
    toks = (
        docs.crossJoin(F.broadcast(tot))
        .select(
            F.least(F.lit(1), F.expr("(doc_id * 2) div t_n")).alias("half"),
            F.explode(shingles(F.col("text"), 1)).alias("tok"),
        )
        .where(F.col("tok") != "")
    )
    k = _KMV_OV_K
    a = kmv_sketch(toks.where(F.col("half") == 0), "tok", k=k)
    b = kmv_sketch(toks.where(F.col("half") == 1), "tok", k=k)
    u = kmv_merge(a, b, k=k)
    ndv_a = kmv_ndv(a, k=k).select(F.col("ndv_estimate").alias("ndv_a"))
    ndv_b = kmv_ndv(b, k=k).select(F.col("ndv_estimate").alias("ndv_b"))
    ndv_u = kmv_ndv(u, k=k).select(
        F.col("n_seen").alias("u_seen"),
        F.col("ndv_estimate").alias("ndv_union"),
    )
    common = (
        u.join(a, "h").join(b, "h")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    return (
        ndv_a.crossJoin(F.broadcast(ndv_b))
        .crossJoin(F.broadcast(ndv_u))
        .crossJoin(F.broadcast(common))
        .select(
            "ndv_a",
            "ndv_b",
            "ndv_union",
            "n_common",
            F.expr(
                "CASE WHEN u_seen > 0 THEN"
                " (n_common * ndv_union) div u_seen ELSE 0 END"
            ).cast("long").alias("inter_est"),
            F.expr(
                "CASE WHEN u_seen > 0 THEN"
                " (n_common * 1000000) div u_seen ELSE 0 END"
            ).cast("long").alias("jaccard_est_u"),
        )
    )


def sql_kmv_overlap() -> str:
    k = _KMV_OV_K
    toks = _TOKS.format(c="text")
    frac = (
        "("
        + " + ".join(
            f"(strpos('0123456789abcdef', substr(kth, {i + 1}, 1)) - 1)"
            f" * {16 ** (11 - i)}.0"
            for i in range(12)
        )
        + f") / {float(16 ** 12)}"
    )
    est = (
        f"CASE WHEN n_seen < {k} THEN n_seen"
        f" ELSE CAST(floor({k - 1} / ({frac})) AS BIGINT) END"
    )
    return f"""WITH tot AS (SELECT COUNT(*) AS t_n FROM documents),
toks AS (
  SELECT half, tok FROM (
    SELECT LEAST(1, (doc_id * 2) // t_n) AS half, unnest({toks}) AS tok
    FROM documents CROSS JOIN tot
  ) t WHERE tok <> ''
),
a AS (SELECT DISTINCT md5(tok) AS h FROM toks WHERE half = 0
      ORDER BY h LIMIT {k}),
b AS (SELECT DISTINCT md5(tok) AS h FROM toks WHERE half = 1
      ORDER BY h LIMIT {k}),
u AS (SELECT h FROM (SELECT h FROM a UNION SELECT h FROM b) x
      ORDER BY h LIMIT {k}),
stats_a AS (
  SELECT COUNT(*) AS n_seen, MAX(h) AS kth FROM a
),
stats_b AS (
  SELECT COUNT(*) AS n_seen, MAX(h) AS kth FROM b
),
stats_u AS (
  SELECT COUNT(*) AS n_seen, MAX(h) AS kth FROM u
),
common AS (
  SELECT COUNT(*) AS n_common
  FROM u JOIN a USING (h) JOIN b USING (h)
)
SELECT
  CAST((SELECT {est} FROM stats_a) AS BIGINT) AS ndv_a,
  CAST((SELECT {est} FROM stats_b) AS BIGINT) AS ndv_b,
  CAST((SELECT {est} FROM stats_u) AS BIGINT) AS ndv_union,
  CAST(n_common AS BIGINT) AS n_common,
  CAST(CASE WHEN (SELECT n_seen FROM stats_u) > 0 THEN
    (n_common * (SELECT {est} FROM stats_u))
      // (SELECT n_seen FROM stats_u)
  ELSE 0 END AS BIGINT) AS inter_est,
  CAST(CASE WHEN (SELECT n_seen FROM stats_u) > 0 THEN
    (n_common * 1000000) // (SELECT n_seen FROM stats_u)
  ELSE 0 END AS BIGINT) AS jaccard_est_u
FROM common"""


QUERIES["q_kmv_overlap"] = q_kmv_overlap
ORACLES["q_kmv_overlap"] = sql_kmv_overlap


def q_degree_assortativity(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Degree assortativity of the host link graph: Pearson
    correlation between the total degrees at the two ends of every
    distinct non-loop edge — positive = hubs link hubs (organic core),
    negative = hubs link leaves (hub-and-spoke/link-farm shape). Same
    exact-BIGINT-sums + fixed-double-tree recipe as q_signal_corr;
    degrees come from one union-all groupBy, edges join their endpoint
    degrees by key (degree table is host-count-sized)."""
    from ..operators.links import extract_links, host_edges, resolve_links

    pages = spark.createDataFrame(
        _linked_page_rows(), "url string, html string"
    ).repartition(4)
    edges = (
        host_edges(resolve_links(extract_links(pages)))
        .select("subj", "obj")
        .where(F.col("subj") != F.col("obj"))
        .distinct()
    )
    deg = (
        edges.select(F.col("subj").alias("host"))
        .unionAll(edges.select(F.col("obj").alias("host")))
        .groupBy("host")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    paired = (
        edges.join(
            F.broadcast(deg.select(
                F.col("host").alias("subj"), F.col("deg").alias("x")
            )),
            "subj",
        )
        .join(
            F.broadcast(deg.select(
                F.col("host").alias("obj"), F.col("deg").alias("y")
            )),
            "obj",
        )
    )
    agg = paired.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr("x * x")).cast("long").alias("sxx"),
        F.sum(F.expr("y * y")).cast("long").alias("syy"),
        F.sum(F.expr("x * y")).cast("long").alias("sxy"),
    )
    num = (
        "cast(n as double) * cast(sxy as double)"
        " - cast(sx as double) * cast(sy as double)"
    )
    dx = (
        "cast(n as double) * cast(sxx as double)"
        " - cast(sx as double) * cast(sx as double)"
    )
    dy = (
        "cast(n as double) * cast(syy as double)"
        " - cast(sy as double) * cast(sy as double)"
    )
    return agg.select(
        F.col("n").alias("n_edges"),
        F.expr(
            f"CASE WHEN ({dx}) > 0 AND ({dy}) > 0 THEN"
            f" cast(floor((({num}) * ({num})) / (({dx}) * ({dy}))"
            f" * 1000000.0) as bigint) ELSE 0 END"
        ).alias("r2_u"),
        F.expr(
            f"CASE WHEN ({num}) > 0 THEN 1 WHEN ({num}) < 0 THEN -1"
            f" ELSE 0 END"
        ).cast("long").alias("sign"),
    )


def sql_degree_assortativity() -> str:
    import re as _re

    edges = []
    for url, html in _linked_page_rows():
        src = _re.match(r"^https?://([^/]+)", url).group(1)
        for dst_url in _replay_links_py(url, html):
            m = _re.match(r"^https?://([^/]+)", dst_url)
            if m:
                edges.append((src, m.group(1)))
    e_values = ",\n".join(f"({_sql_str(a)}, {_sql_str(b)})" for a, b in edges)
    num = (
        "CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)"
    )
    dx = (
        "CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
    )
    dy = (
        "CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)"
    )
    return f"""WITH e AS (SELECT subj, obj FROM (VALUES
{e_values}
) t(subj, obj)),
d AS (SELECT DISTINCT subj, obj FROM e WHERE subj <> obj),
deg AS (
  SELECT host, COUNT(*) AS deg FROM (
    SELECT subj AS host FROM d UNION ALL SELECT obj FROM d
  ) x GROUP BY host
),
paired AS (
  SELECT dx.deg AS x, dy.deg AS y
  FROM d JOIN deg dx ON dx.host = d.subj
         JOIN deg dy ON dy.host = d.obj
),
agg AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy, SUM(x * x) AS sxx,
         SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM paired
)
SELECT CAST(n AS BIGINT) AS n_edges,
       CASE WHEN ({dx}) > 0 AND ({dy}) > 0 THEN
         CAST(floor((({num}) * ({num})) / (({dx}) * ({dy}))
              * 1000000.0) AS BIGINT)
       ELSE 0 END AS r2_u,
       CAST(CASE WHEN ({num}) > 0 THEN 1 WHEN ({num}) < 0 THEN -1
                 ELSE 0 END AS BIGINT) AS sign
FROM agg"""


QUERIES["q_degree_assortativity"] = q_degree_assortativity
ORACLES["q_degree_assortativity"] = sql_degree_assortativity


def q_k_anonymity(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """k-anonymity audit over the (source, lang) quasi-identifier:
    how many identifier groups — and how many ROWS — sit in groups
    smaller than k={_KANON_K}, i.e. are re-identification risks if
    this table were released. The governance readout next to PII
    redaction (q_redact_pii); one map-side-combined groupBy into a
    group-count-sized aggregate."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    grp = docs.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("c")
    )
    agg = grp.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.sum(F.when(F.col("c") < _KANON_K, 1).otherwise(0))
        .cast("long").alias("n_risky_groups"),
        F.sum(F.when(F.col("c") < _KANON_K, F.col("c")).otherwise(0))
        .cast("long").alias("n_risky_rows"),
        F.sum("c").cast("long").alias("n_rows"),
    )
    return agg.select(
        "n_groups",
        "n_risky_groups",
        "n_risky_rows",
        F.expr(
            "CASE WHEN n_rows > 0 THEN (n_risky_rows * 1000000) div n_rows"
            " ELSE 0 END"
        ).cast("long").alias("risky_share_u"),
    )


def sql_k_anonymity() -> str:
    return f"""WITH grp AS (
  SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY source, lang
),
agg AS (
  SELECT COUNT(*) AS n_groups,
         SUM(CASE WHEN c < {_KANON_K} THEN 1 ELSE 0 END) AS n_risky_groups,
         SUM(CASE WHEN c < {_KANON_K} THEN c ELSE 0 END) AS n_risky_rows,
         SUM(c) AS n_rows
  FROM grp
)
SELECT CAST(n_groups AS BIGINT) AS n_groups,
       CAST(n_risky_groups AS BIGINT) AS n_risky_groups,
       CAST(n_risky_rows AS BIGINT) AS n_risky_rows,
       CAST(CASE WHEN n_rows > 0
                 THEN (n_risky_rows * 1000000) // n_rows
                 ELSE 0 END AS BIGINT) AS risky_share_u
FROM agg"""


QUERIES["q_k_anonymity"] = q_k_anonymity
ORACLES["q_k_anonymity"] = sql_k_anonymity


# --- wave 34: page-card metadata extraction and canonical clustering ---


def _meta_page_rows() -> list:
    """Deterministic page-metadata fixture corpus: quoting styles,
    case quirks, duplicate titles, entities, relative/protocol-
    relative canonicals, shared canonical targets. Used by the Spark
    side AND replayed through the same pure kernel for the oracle."""
    host = "http://meta.example.org"
    return [
        (f"{host}/a1", "<html><head><title>Alpha Page</title>"
         '<meta name="description" content="first desc">'
         '<meta property="og:title" content="Alpha OG">'
         '<link rel="canonical" href="/canon/alpha">'
         "</head><body>x</body></html>"),
        (f"{host}/a2", "<HTML><HEAD><TITLE>Alpha   Dup\n Page</TITLE>"
         "<META NAME='Description' CONTENT='single quoted'>"
         "<LINK REL=CANONICAL HREF=/canon/alpha></HEAD>"),
        (f"{host}/b1", "<head><title>Beta &amp; Gamma</title>"
         '<link rel="canonical" href="//other.example.org/beta">'
         "</head>"),
        (f"{host}/b2", "<head><title>First</title><title>Second</title>"
         '<link rel="canonical" href="http://other.example.org/beta">'
         "</head>"),
        (f"{host}/c1", "<head><meta property='og:title' content='OG only'>"
         "</head><body>no title</body>"),
        (f"{host}/c2", "<head><title> </title>"
         '<meta name="DESCRIPTION" content="upper key">'
         "</head>"),
        (f"{host}/d1", "<head><title>A<b>B</b>C</title></head>"),
        (f"{host}/d2", "<body>plain page, nothing to harvest</body>"),
        (f"{host}/e1", '<head><link rel="Canonical" href="e1">'
         "<title>Relative canon</title></head>"),
        (f"{host}/sub/e2", '<head><link rel=canonical href="../canon/alpha">'
         "<title>Dotdot canon</title></head>"),
    ]


def q_meta_extract(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Page-card metadata surface (operators/extract.page_meta): first
    <title> (whitespace-collapsed), first meta description, first
    og:title, and the RFC 3986-resolved rel=canonical — harvested in
    the SAME single tokenizer pass the triple extraction uses (S5
    listener tap), one Arrow batch UDF, no second parse. The oracle
    replays the identical pure kernel into golden VALUES."""
    from ..operators.extract import page_meta

    pages = spark.createDataFrame(
        _meta_page_rows(), "url string, html string"
    ).repartition(4)
    return page_meta(pages)


def sql_meta_extract() -> str:
    from ..operators.extract import compute_page_meta

    rows = []
    for url, html in _meta_page_rows():
        m = compute_page_meta(url, html)
        rows.append("(" + ", ".join(_sql_str(v) for v in m) + ")")
    values = ",\n".join(rows)
    return f"""SELECT CAST(url AS VARCHAR) AS url,
       CAST(title AS VARCHAR) AS title,
       CAST(description AS VARCHAR) AS description,
       CAST(og_title AS VARCHAR) AS og_title,
       CAST(canonical AS VARCHAR) AS canonical
FROM (VALUES
{values}
) t(url, title, description, og_title, canonical)"""


QUERIES["q_meta_extract"] = q_meta_extract
ORACLES["q_meta_extract"] = sql_meta_extract


def q_canonical_cluster(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """rel=canonical dedup clustering: pages group under their
    resolved canonical target (pages without one stand alone under
    their own URL) — the crawl-side dedup a search engine applies
    BEFORE any content hashing: one groupBy on the harvested
    canonical, cluster sizes out."""
    from ..operators.extract import page_meta

    pages = spark.createDataFrame(
        _meta_page_rows(), "url string, html string"
    ).repartition(4)
    meta = page_meta(pages)
    return (
        meta.select(
            F.coalesce(F.col("canonical"), F.col("url")).alias("canon_url")
        )
        .groupBy("canon_url")
        .agg(F.count("*").cast("long").alias("n_pages"))
    )


def sql_canonical_cluster() -> str:
    from ..operators.extract import compute_page_meta

    rows = []
    for url, html in _meta_page_rows():
        m = compute_page_meta(url, html)
        rows.append(f"({_sql_str(m[0])}, {_sql_str(m[4])})")
    values = ",\n".join(rows)
    return f"""WITH meta AS (
  SELECT url, canonical FROM (VALUES
{values}
) t(url, canonical)
)
SELECT COALESCE(canonical, url) AS canon_url,
       CAST(COUNT(*) AS BIGINT) AS n_pages
FROM meta GROUP BY 1"""


QUERIES["q_canonical_cluster"] = q_canonical_cluster
ORACLES["q_canonical_cluster"] = sql_canonical_cluster


# --- wave 35: anchor-text index and freshness decay ---

_FD_HALFLIFE_S = 86_400  # one day


def q_anchor_index(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-target anchor-text index: for every link target, how many
    anchors point at it, how many distinct surface texts, and the
    dominant anchor (max count, ties broken lexicographically) — the
    document-expansion signal web search attaches to a page from its
    INBOUND link texts. One groupBy(dst, text) histogram, then a
    per-dst argmax window over the (bounded) per-target text
    histogram; composes the verified tokenizer-pass anchor oracle."""
    anchors = q_anchor_texts(spark, sf_dir).where(
        F.col("dst_url").isNotNull()
    )
    per_text = anchors.groupBy("dst_url", "anchor_text").agg(
        F.count("*").cast("long").alias("c")
    )
    w = Window.partitionBy("dst_url").orderBy(
        F.col("c").desc(), F.col("anchor_text").asc()
    )
    top = per_text.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    tot = per_text.groupBy("dst_url").agg(
        F.sum("c").cast("long").alias("n_anchors"),
        F.count("*").cast("long").alias("n_texts"),
    )
    return tot.join(
        top.select("dst_url", F.col("anchor_text").alias("top_anchor")),
        "dst_url",
    )


def sql_anchor_index() -> str:
    return f"""WITH anchors AS (
  SELECT dst_url, anchor_text FROM ({sql_anchor_texts()})
  WHERE dst_url IS NOT NULL
),
per_text AS (
  SELECT dst_url, anchor_text, COUNT(*) AS c
  FROM anchors GROUP BY dst_url, anchor_text
),
top AS (
  SELECT dst_url, anchor_text AS top_anchor FROM (
    SELECT dst_url, anchor_text, ROW_NUMBER() OVER (
      PARTITION BY dst_url ORDER BY c DESC, anchor_text ASC) AS rn
    FROM per_text) x WHERE rn = 1
),
tot AS (
  SELECT dst_url, SUM(c) AS n_anchors, COUNT(*) AS n_texts
  FROM per_text GROUP BY dst_url
)
SELECT t.dst_url, CAST(t.n_anchors AS BIGINT) AS n_anchors,
       CAST(t.n_texts AS BIGINT) AS n_texts, p.top_anchor
FROM tot t JOIN top p USING (dst_url)"""


QUERIES["q_anchor_index"] = q_anchor_index
ORACLES["q_anchor_index"] = sql_anchor_index


def q_freshness_decay(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Recency-decayed event mass per type: each event weighs
    1e6 >> (age / halflife) micro-units (staircase exponential decay,
    exact integers — pow(2.0, n) is exact in a double for n <= 19, so
    both engines divide by the identical power) — the freshness signal
    a crawl scheduler or trending-topics ranker sums. 'now' is the
    corpus max timestamp (one-row broadcast); one grouped aggregate."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    base = ev.select(
        "event_type", F.unix_timestamp("ts").alias("ep")
    )
    now = base.agg(F.max("ep").alias("now_ep"))
    hl = _FD_HALFLIFE_S
    return (
        base.crossJoin(F.broadcast(now))
        .select(
            "event_type",
            F.expr(
                f"1000000 div cast(pow(2.0,"
                f" least((now_ep - ep) div {hl}, 19)) as bigint)"
            ).cast("long").alias("w"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("w").cast("long").alias("decayed_u"),
        )
    )


def sql_freshness_decay() -> str:
    hl = _FD_HALFLIFE_S
    return f"""WITH base AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ep FROM events
),
now_t AS (SELECT MAX(ep) AS now_ep FROM base)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(1000000 // CAST(pow(2.0,
         LEAST((now_ep - ep) // {hl}, 19)) AS BIGINT)) AS BIGINT)
         AS decayed_u
FROM base CROSS JOIN now_t
GROUP BY event_type"""


QUERIES["q_freshness_decay"] = q_freshness_decay
ORACLES["q_freshness_decay"] = sql_freshness_decay


# --- wave 36: chi-square independence and lang-id confusion matrix ---


def q_chi2_independence(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Chi-square independence test between source and language — the
    categorical-association tool next to Pearson (q_signal_corr),
    Spearman (q_spearman) and kappa (q_filter_kappa): is the language
    mix a property of the corpus or of individual sources? One
    (source, lang) contingency aggregate; marginals re-join by key
    (both sides group-count-sized). Per-CELL statistic floored to
    micro-units THEN summed as BIGINTs, so cross-engine float fold
    order cannot exist; the per-cell double tree is fixed-shape
    ((o*n - rs*cs)^2 / (n*rs*cs), all inputs exact-in-double at any
    realistic cell count)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    obs = docs.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("o")
    )
    rs = obs.groupBy("source").agg(F.sum("o").cast("long").alias("rs"))
    cs = obs.groupBy("lang").agg(F.sum("o").cast("long").alias("cs"))
    n = obs.agg(F.sum("o").cast("long").alias("n"))
    # ZERO cells still contribute (e = rs*cs/n > 0): materialize the
    # full marginal cross product (group-count x group-count rows),
    # left-join the observed counts
    cells = (
        rs.crossJoin(F.broadcast(cs))
        .join(obs, ["source", "lang"], "left")
        .select(
            "source", "lang", "rs", "cs",
            F.coalesce("o", F.lit(0)).cast("long").alias("o"),
        )
    )
    per_cell = (
        cells.crossJoin(F.broadcast(n))
        .select(
            F.expr(
                "cast(floor("
                " (cast(o as double) * cast(n as double)"
                "  - cast(rs as double) * cast(cs as double))"
                " * (cast(o as double) * cast(n as double)"
                "  - cast(rs as double) * cast(cs as double))"
                " / (cast(n as double) * cast(rs as double)"
                "    * cast(cs as double))"
                " * 1000000.0) as bigint)"
            ).alias("cell_u"),
            F.lit(1).alias("one"),
        )
    )
    agg = per_cell.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum("cell_u").cast("long").alias("chi2_u"),
    )
    return agg


def sql_chi2_independence() -> str:
    cell = (
        "CAST(floor("
        " (CAST(o AS DOUBLE) * CAST(n AS DOUBLE)"
        "  - CAST(rs AS DOUBLE) * CAST(cs AS DOUBLE))"
        " * (CAST(o AS DOUBLE) * CAST(n AS DOUBLE)"
        "  - CAST(rs AS DOUBLE) * CAST(cs AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * CAST(rs AS DOUBLE)"
        "    * CAST(cs AS DOUBLE))"
        " * 1000000.0) AS BIGINT)"
    )
    return f"""WITH obs AS (
  SELECT source, lang, COUNT(*) AS o FROM documents GROUP BY source, lang
),
rs AS (SELECT source, SUM(o) AS rs FROM obs GROUP BY source),
cs AS (SELECT lang, SUM(o) AS cs FROM obs GROUP BY lang),
n AS (SELECT SUM(o) AS n FROM obs),
cells AS (
  SELECT rs.source, cs.lang, rs.rs, cs.cs, COALESCE(obs.o, 0) AS o
  FROM rs CROSS JOIN cs
  LEFT JOIN obs ON obs.source = rs.source AND obs.lang = cs.lang
),
per_cell AS (
  SELECT {cell} AS cell_u
  FROM cells CROSS JOIN n
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(cell_u) AS BIGINT) AS chi2_u
FROM per_cell"""


QUERIES["q_chi2_independence"] = q_chi2_independence
ORACLES["q_chi2_independence"] = sql_chi2_independence


def q_langid_confusion(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Confusion matrix of the n-gram lang-id heuristic against the
    labeled lang column — the eval that closes the lang-id triangle
    (the classifier itself is q_lang_id): per (lang, lang_pred) cell
    count plus the per-true-language recall in micro-units. One join
    on doc_id, one grouped aggregate; the recall denominator re-joins
    by true language (language-count-sized)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    )
    pred = q_lang_id(spark, sf_dir)
    cells = (
        docs.join(pred, "doc_id")
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = cells.groupBy("lang").agg(F.sum("n").cast("long").alias("lt"))
    return (
        cells.join(F.broadcast(tot), "lang")
        .select(
            "lang",
            "lang_pred",
            "n",
            F.expr("(n * 1000000) div lt").cast("long").alias("share_u"),
        )
    )


def sql_langid_confusion() -> str:
    return f"""WITH pred AS ({sql_lang_id()}),
cells AS (
  SELECT d.lang, p.lang_pred, COUNT(*) AS n
  FROM documents d JOIN pred p USING (doc_id)
  GROUP BY d.lang, p.lang_pred
),
tot AS (SELECT lang, SUM(n) AS lt FROM cells GROUP BY lang)
SELECT c.lang, c.lang_pred, CAST(c.n AS BIGINT) AS n,
       CAST((c.n * 1000000) // t.lt AS BIGINT) AS share_u
FROM cells c JOIN tot t USING (lang)"""


QUERIES["q_langid_confusion"] = q_langid_confusion
ORACLES["q_langid_confusion"] = sql_langid_confusion


# --- wave 37: CUSUM drift detection and cluster purity ---

_CUSUM_BUCKET_S = 300


def q_cusum_drift(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """One-sided CUSUM drift detector per event type
    (operators/temporal.cusum_drift): 300-second rate bins on a
    gap-filled spine, drift signal x - mean, and the recursion
    S_t = max(0, S_{t-1} + d_t) rewritten closed-form as
    P_t - min(0, running_min(P)) — two ordered per-key windows, no
    recursion, no Python, exact integers. The oracle replays the
    identical closed form (so the recursive definition is checked
    through its algebraic equivalent on a second engine)."""
    from ..operators.temporal import cusum_drift

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return cusum_drift(ev, "event_type", "ts", bucket_s=_CUSUM_BUCKET_S)


def sql_cusum_drift() -> str:
    bs = _CUSUM_BUCKET_S
    return f"""WITH binned AS (
  SELECT event_type AS k,
         (CAST(floor(epoch(ts)) AS BIGINT) // {bs}) * {bs} AS b,
         COUNT(*) AS x
  FROM events GROUP BY 1, 2
),
span AS (
  SELECT k, MIN(b) AS b_lo, MAX(b) AS b_hi, SUM(x) AS total
  FROM binned GROUP BY k
),
spine AS (
  SELECT k, total, unnest(generate_series(b_lo, b_hi, {bs})) AS b
  FROM span
),
n_b AS (SELECT k, COUNT(*) AS nb FROM spine GROUP BY k),
filled AS (
  SELECT s.k, s.b, COALESCE(bi.x, 0) AS x, s.total // n.nb AS mean_x, n.nb
  FROM spine s
  LEFT JOIN binned bi ON bi.k = s.k AND bi.b = s.b
  JOIN n_b n ON n.k = s.k
),
cur AS (
  SELECT k, b, nb,
         SUM(x - mean_x) OVER (PARTITION BY k ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
  FROM filled
),
s AS (
  SELECT k, b, nb,
         p - LEAST(0, MIN(p) OVER (PARTITION BY k ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
  FROM cur
),
peak AS (SELECT k, nb, MAX(s) AS max_s FROM s GROUP BY k, nb),
first_peak AS (
  SELECT s.k, MIN(s.b) AS peak_bucket
  FROM s JOIN peak ON peak.k = s.k AND s.s = peak.max_s
  GROUP BY s.k
)
SELECT peak.k AS event_type, CAST(peak.nb AS BIGINT) AS n_buckets,
       CAST(peak.max_s AS BIGINT) AS max_s,
       CAST(first_peak.peak_bucket AS BIGINT) AS peak_bucket
FROM peak JOIN first_peak ON first_peak.k = peak.k"""


QUERIES["q_cusum_drift"] = q_cusum_drift
ORACLES["q_cusum_drift"] = sql_cusum_drift


def q_topic_purity(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Cluster purity of the integer-exact Lloyd k-means assignment
    against the labeled embedding classes — the unsupervised-
    clustering eval that closes the k-means triangle: per cluster, the
    majority label (ties to the smaller label id), its count, and
    purity in micro-units. Composes the verified unrolled-Lloyd
    oracle; per-(cluster, label) counts are cluster-count-sized."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    asg = q_kmeans_clusters(spark, sf_dir).select("vec_id", "cid")
    cells = (
        asg.join(emb, "vec_id")
        .groupBy("cid", "label")
        .agg(F.count("*").cast("long").alias("c"))
    )
    w = Window.partitionBy("cid").orderBy(
        F.col("c").desc(), F.col("label").asc()
    )
    top = cells.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    tot = cells.groupBy("cid").agg(F.sum("c").cast("long").alias("n"))
    return (
        tot.join(
            top.select(
                "cid",
                F.col("label").alias("top_label"),
                F.col("c").alias("top_n"),
            ),
            "cid",
        )
        .select(
            F.col("cid").cast("long").alias("cid"),
            "n",
            "top_label",
            "top_n",
            F.expr("(top_n * 1000000) div n").cast("long")
            .alias("purity_u"),
        )
    )


def sql_topic_purity() -> str:
    return f"""WITH asg AS (
  SELECT vec_id, cid FROM ({sql_kmeans_clusters()})
),
cells AS (
  SELECT a.cid, CAST(e.label AS BIGINT) AS label, COUNT(*) AS c
  FROM asg a JOIN embeddings e USING (vec_id)
  GROUP BY a.cid, e.label
),
top AS (
  SELECT cid, label AS top_label, c AS top_n FROM (
    SELECT cid, label, c, ROW_NUMBER() OVER (
      PARTITION BY cid ORDER BY c DESC, label ASC) AS rn
    FROM cells) x WHERE rn = 1
),
tot AS (SELECT cid, SUM(c) AS n FROM cells GROUP BY cid)
SELECT CAST(t.cid AS BIGINT) AS cid, CAST(t.n AS BIGINT) AS n,
       CAST(p.top_label AS BIGINT) AS top_label,
       CAST(p.top_n AS BIGINT) AS top_n,
       CAST((p.top_n * 1000000) // t.n AS BIGINT) AS purity_u
FROM tot t JOIN top p USING (cid)"""


QUERIES["q_topic_purity"] = q_topic_purity
ORACLES["q_topic_purity"] = sql_topic_purity


# --- wave 38: graded ranking evals (nDCG, MRR) for the ANN stack ---

def _ndcg_weights_u(k: int) -> list:
    """floor(1e6 / log2(p + 1)) for positions 1..k — computed ONCE in
    Python and embedded as plan-time literals on BOTH engines, so no
    runtime log2 (whose cross-engine rounding is not guaranteed) ever
    executes."""
    import math

    return [int(1_000_000 / math.log2(p + 1)) for p in range(1, k + 1)]


def q_ndcg(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """nDCG@{_TOPK_K} of the IVF-agnostic PQ/ADC ranking judged
    against the exact cosine ranking (gain of an item = K - its exact
    rank; discount weights are literal micro-units from a shared
    Python table): the graded, order-sensitive companion to
    q_pq_recall's set recall. Composes the two verified oracles; all
    arithmetic integer."""
    k = _TOPK_K
    w = _ndcg_weights_u(k)
    idcg = sum((k - p) * w[p - 1] for p in range(1, k + 1))
    gains = q_topk_cosine(spark, sf_dir).select(
        "query_id",
        "vec_id",
        (F.lit(k) - F.col("rank")).cast("long").alias("gain"),
    )
    w_case = "CASE " + " ".join(
        f"WHEN rank = {p} THEN {w[p - 1]}" for p in range(1, k + 1)
    ) + " ELSE 0 END"
    adc = q_pq_topk(spark, sf_dir).select(
        "query_id", "vec_id", F.expr(w_case).cast("long").alias("w")
    )
    per_q = (
        adc.join(gains, ["query_id", "vec_id"], "left")
        .select(
            "query_id",
            (F.coalesce("gain", F.lit(0)) * F.col("w")).alias("gw"),
        )
        .groupBy("query_id")
        .agg(F.sum("gw").cast("long").alias("dcg_raw"))
    )
    return per_q.select(
        F.col("query_id").cast("long").alias("query_id"),
        "dcg_raw",
        F.expr(f"(dcg_raw * 1000000) div {idcg}").cast("long")
        .alias("ndcg_u"),
    )


def sql_ndcg() -> str:
    k = _TOPK_K
    w = _ndcg_weights_u(k)
    idcg = sum((k - p) * w[p - 1] for p in range(1, k + 1))
    w_case = "CASE " + " ".join(
        f"WHEN rank = {p} THEN {w[p - 1]}" for p in range(1, k + 1)
    ) + " ELSE 0 END"
    return f"""WITH gains AS (
  SELECT query_id, vec_id, {k} - rank AS gain
  FROM ({sql_topk_cosine()})
),
adc AS (
  SELECT query_id, vec_id, {w_case} AS w FROM ({sql_pq_topk()})
),
per_q AS (
  SELECT a.query_id, SUM(COALESCE(g.gain, 0) * a.w) AS dcg_raw
  FROM adc a LEFT JOIN gains g
    ON g.query_id = a.query_id AND g.vec_id = a.vec_id
  GROUP BY a.query_id
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(dcg_raw AS BIGINT) AS dcg_raw,
       CAST((dcg_raw * 1000000) // {idcg} AS BIGINT) AS ndcg_u
FROM per_q"""


QUERIES["q_ndcg"] = q_ndcg
ORACLES["q_ndcg"] = sql_ndcg


def q_mrr(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Reciprocal rank of the TRUE nearest non-self neighbor (exact
    cosine rank 2) inside the PQ/ADC list — where does compressed
    search put the one answer that matters? rr_u = 1e6 div adc_pos,
    0 when the true neighbor misses the list entirely. Exact integer
    division; composes the two verified oracles."""
    target = q_topk_cosine(spark, sf_dir).where(F.col("rank") == 2).select(
        "query_id", F.col("vec_id").alias("target_vec")
    )
    adc = q_pq_topk(spark, sf_dir).select(
        "query_id",
        F.col("vec_id").alias("target_vec"),
        F.col("rank").alias("adc_pos"),
    )
    j = target.join(adc, ["query_id", "target_vec"], "left")
    return j.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("target_vec").cast("long").alias("target_vec"),
        F.coalesce("adc_pos", F.lit(0)).cast("long").alias("adc_pos"),
        F.expr(
            "CASE WHEN adc_pos IS NULL OR adc_pos = 0 THEN 0"
            " ELSE 1000000 div adc_pos END"
        ).cast("long").alias("rr_u"),
    )


def sql_mrr() -> str:
    return f"""WITH target AS (
  SELECT query_id, vec_id AS target_vec
  FROM ({sql_topk_cosine()}) WHERE rank = 2
),
adc AS (
  SELECT query_id, vec_id AS target_vec, rank AS adc_pos
  FROM ({sql_pq_topk()})
)
SELECT CAST(t.query_id AS BIGINT) AS query_id,
       CAST(t.target_vec AS BIGINT) AS target_vec,
       CAST(COALESCE(a.adc_pos, 0) AS BIGINT) AS adc_pos,
       CAST(CASE WHEN a.adc_pos IS NULL OR a.adc_pos = 0 THEN 0
                 ELSE 1000000 // a.adc_pos END AS BIGINT) AS rr_u
FROM target t LEFT JOIN adc a
  ON a.query_id = t.query_id AND a.target_vec = t.target_vec"""


QUERIES["q_mrr"] = q_mrr
ORACLES["q_mrr"] = sql_mrr


# --- wave 39: pairwise source-overlap matrix from per-source KMV ---

_SOM_K = 32


def q_source_overlap_matrix(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Pairwise vocabulary-overlap matrix across ALL sources from
    per-source KMV sketches: each source keeps its k={_SOM_K} smallest
    distinct-token md5s (ONE grouped window over the hashed token
    table), every source pair then gets a union sketch (k smallest of
    the two hash sets) and a Jaccard estimate from the union's
    hit-rate against both members — the mixture-redundancy matrix a
    data-mixing decision reads ("is src7 just src3 again?"). Pair work
    touches ONLY sketch rows: pairs x 2k, never the corpus; sources
    are the quadratic dimension and sources are few. Exact-
    rebuildable, so the oracle matches bit for bit."""
    from ..operators.dedup import shingles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    k = _SOM_K
    hashed = (
        docs.select(
            "source", F.explode(shingles(F.col("text"), 1)).alias("tok")
        )
        .where(F.col("tok") != "")
        .select("source", F.md5("tok").alias("h"))
        .distinct()
    )
    w = Window.partitionBy("source").orderBy("h")
    sk = (
        hashed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("source", "h")
    )
    srcs = sk.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("sa"))
        .crossJoin(srcs.select(F.col("source").alias("sb")))
        .where(F.col("sa") < F.col("sb"))
    )
    side_a = pairs.join(
        sk.select(F.col("source").alias("sa"), "h"), "sa"
    ).select("sa", "sb", "h", F.lit(1).alias("fa"), F.lit(0).alias("fb"))
    side_b = pairs.join(
        sk.select(F.col("source").alias("sb"), "h"), "sb"
    ).select("sa", "sb", "h", F.lit(0).alias("fa"), F.lit(1).alias("fb"))
    merged = (
        side_a.unionByName(side_b)
        .groupBy("sa", "sb", "h")
        .agg(F.max("fa").alias("fa"), F.max("fb").alias("fb"))
    )
    wp = Window.partitionBy("sa", "sb").orderBy("h")
    topu = merged.withColumn("rn", F.row_number().over(wp)).where(
        F.col("rn") <= k
    )
    agg = topu.groupBy("sa", "sb").agg(
        F.count("*").cast("long").alias("u_seen"),
        F.sum(F.expr("fa * fb")).cast("long").alias("n_common"),
    )
    return agg.select(
        "sa",
        "sb",
        "u_seen",
        "n_common",
        F.expr("(n_common * 1000000) div u_seen").cast("long")
        .alias("jaccard_est_u"),
    )


def sql_source_overlap_matrix() -> str:
    k = _SOM_K
    toks = _TOKS.format(c="text")
    return f"""WITH hashed AS (
  SELECT DISTINCT source, md5(tok) AS h FROM (
    SELECT source, unnest({toks}) AS tok FROM documents
  ) t WHERE tok <> ''
),
sk AS (
  SELECT source, h FROM (
    SELECT source, h, ROW_NUMBER() OVER (
      PARTITION BY source ORDER BY h) AS rn
    FROM hashed) x WHERE rn <= {k}
),
srcs AS (SELECT DISTINCT source FROM sk),
pairs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM srcs a CROSS JOIN srcs b WHERE a.source < b.source
),
sides AS (
  SELECT p.sa, p.sb, s.h, 1 AS fa, 0 AS fb
  FROM pairs p JOIN sk s ON s.source = p.sa
  UNION ALL
  SELECT p.sa, p.sb, s.h, 0, 1
  FROM pairs p JOIN sk s ON s.source = p.sb
),
merged AS (
  SELECT sa, sb, h, MAX(fa) AS fa, MAX(fb) AS fb
  FROM sides GROUP BY sa, sb, h
),
topu AS (
  SELECT sa, sb, fa, fb FROM (
    SELECT sa, sb, h, fa, fb, ROW_NUMBER() OVER (
      PARTITION BY sa, sb ORDER BY h) AS rn
    FROM merged) x WHERE rn <= {k}
),
agg AS (
  SELECT sa, sb, COUNT(*) AS u_seen, SUM(fa * fb) AS n_common
  FROM topu GROUP BY sa, sb
)
SELECT sa, sb, CAST(u_seen AS BIGINT) AS u_seen,
       CAST(n_common AS BIGINT) AS n_common,
       CAST((n_common * 1000000) // u_seen AS BIGINT) AS jaccard_est_u
FROM agg"""


QUERIES["q_source_overlap_matrix"] = q_source_overlap_matrix
ORACLES["q_source_overlap_matrix"] = sql_source_overlap_matrix


# --- wave 40: BM25 pseudo-relevance feedback ---

_PRF_FB_DOCS = 3


def q_bm25_prf(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Two-round retrieval with pseudo-relevance feedback (Rocchio-
    style): round 1 = integer BM25 for the literal query; the top
    {_PRF_FB_DOCS} docs donate their tf-idf keywords (the verified
    q_tfidf_terms pipeline) as expansion terms; round 2 re-scores the
    corpus against the EXPANDED term set via
    operators/search.bm25_topk_df_terms (the term frame is data-
    derived, broadcast, a handful of rows). Fully distributed — no
    collect anywhere; the oracle replays both rounds with the
    deterministic (score DESC, doc_id) cuts."""
    from ..operators.search import bm25_topk, bm25_topk_df_terms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    r1 = bm25_topk(
        docs,
        _BM25_TERMS,
        topk=_PRF_FB_DOCS,
        scale=_BM25_SCALE,
        k1_u=_BM25_K1_U,
        b_u=_BM25_B_U,
        idf_cap_u=_BM25_IDF_CAP_U,
    )
    fb = q_tfidf_terms(spark, sf_dir).join(
        r1.select("doc_id"), "doc_id"
    ).select(F.col("term").alias("t"))
    orig = spark.createDataFrame(
        [(t,) for t in sorted(set(_BM25_TERMS))], "t string"
    )
    terms_df = fb.unionByName(orig).distinct()
    return bm25_topk_df_terms(
        docs,
        terms_df,
        topk=_BM25_TOPK,
        scale=_BM25_SCALE,
        k1_u=_BM25_K1_U,
        b_u=_BM25_B_U,
        idf_cap_u=_BM25_IDF_CAP_U,
    )


def sql_bm25_prf() -> str:
    s, k1, b, cap = _BM25_SCALE, _BM25_K1_U, _BM25_B_U, _BM25_IDF_CAP_U
    c2 = (k1 * b) // s
    c1 = k1 - c2
    toks = _TOKS.format(c="text")
    orig = ", ".join(_sql_str(t) for t in sorted(set(_BM25_TERMS)))
    return f"""WITH r1 AS (
  SELECT doc_id FROM ({sql_bm25_topk()})
  ORDER BY score_u DESC, doc_id LIMIT {_PRF_FB_DOCS}
),
fbt AS (
  SELECT tt.term AS t FROM ({sql_tfidf_terms()}) tt
  JOIN r1 USING (doc_id)
),
qterms AS (
  SELECT DISTINCT t FROM (
    SELECT t FROM fbt UNION ALL SELECT unnest([{orig}]) AS t
  ) x
),
base AS (
  SELECT doc_id, {toks} AS toks,
         CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({toks}) END AS dl
  FROM documents
),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM base),
tf AS (
  SELECT doc_id, dl, t, COUNT(*) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS t FROM base)
  WHERE t IN (SELECT t FROM qterms)
  GROUP BY doc_id, dl, t
),
dfq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
scored AS (
  SELECT doc_id,
         SUM(
           (LEAST(((n_docs - df + 1) * {s}) // (df + 1), {cap})
            * ((tf * {k1 + s} * {s})
               // (tf * {s} + {c1} + ({c2} * dl) // GREATEST(1, total_dl // n_docs)))
           ) // {s}
         ) AS score_u
  FROM tf JOIN dfq USING (t) CROSS JOIN stats
  GROUP BY doc_id
)
SELECT doc_id, CAST(score_u AS BIGINT) AS score_u
FROM scored
ORDER BY score_u DESC, doc_id
LIMIT {_BM25_TOPK}"""


QUERIES["q_bm25_prf"] = q_bm25_prf
ORACLES["q_bm25_prf"] = sql_bm25_prf


# --- wave 41a: semantic decontamination (embedding-level eval leakage) ---

# eval set = every 89th vector; each eval vector gets ONE planted
# paraphrase in the training corpus (same fixed noise as the near-dup
# family -> cos ~ 0.998), so the flagged count scales linearly with the
# table and the n-gram-invisible leak is the thing detected.
_SDC_EVAL_MOD = 89
_SDC_ID_OFFSET = 2_000_000  # 2e6 % 89 = 81, so offset ids never look eval


def q_semantic_decontaminate(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Embedding-level decontamination
    (operators/decontaminate.semantic_contamination): the paraphrase
    twin of q_decontaminate — eval docs reworded enough to share no
    word-5-gram still sit at cos ~0.998 in embedding space. Corpus =
    non-eval vectors + one planted paraphrase per eval vector (fixed
    noise, both engines construct it identically); eval LSH band index
    broadcast, corpus scanned once, exact-cosine verify on band hits
    only. Output: (vec_id, eval_vec_id, cos_u) contaminated pairs."""
    from ..operators.decontaminate import semantic_contamination

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _assert_embedding_dim(emb)
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    is_eval = F.pmod(F.col("vec_id"), F.lit(_SDC_EVAL_MOD)) == 0
    ev = base.where(is_eval).select(
        F.col("vec_id").alias("eval_vec_id"), "embedding"
    )
    noise = lit_array(_noise_vector(), "double")
    para = base.where(is_eval).select(
        (F.col("vec_id") + _SDC_ID_OFFSET).alias("vec_id"),
        F.zip_with("embedding", noise, lambda v, n: v + n).alias("embedding"),
    )
    corpus = base.where(~is_eval).unionByName(para)
    out = semantic_contamination(
        corpus,
        ev,
        threshold=_ND_THRESHOLD,
        dim=_LSH_DIM,
        n_planes=_ND_PLANES,
        n_bands=_ND_BANDS,
    )
    return out.select(
        "vec_id",
        "eval_vec_id",
        F.floor(F.col("cos_sim") * 1e6).cast("long").alias("cos_u"),
    )


def sql_semantic_decontaminate() -> str:
    noise = "[" + ", ".join(repr(x) for x in _noise_vector()) + "]::DOUBLE[]"
    dot = _SQL_DOT.format(dim=_LSH_DIM, a="a.e", b="b.e")
    M, OFF = _SDC_EVAL_MOD, _SDC_ID_OFFSET
    return f"""WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
noise(n) AS (VALUES ({noise})),
vecs AS (
  SELECT vec_id, e FROM base WHERE vec_id % {M} <> 0
  UNION ALL
  SELECT vec_id + {OFF},
         list_transform(range(1, {_LSH_DIM} + 1), i -> e[i] + noise.n[i])
  FROM base CROSS JOIN noise WHERE vec_id % {M} = 0
  UNION ALL
  SELECT vec_id, e FROM base WHERE vec_id % {M} = 0
),
{_lsh_bands_cte(_LSH_DIM, _ND_PLANES, _ND_BANDS)},
cand AS (
  SELECT DISTINCT c.vec_id, e.vec_id AS eval_vec_id
  FROM bands c JOIN bands e USING (band_id, band_key)
  WHERE e.vec_id % {M} = 0 AND e.vec_id < {OFF}
    AND NOT (c.vec_id % {M} = 0 AND c.vec_id < {OFF})
),
scored AS (
  SELECT cand.vec_id, cand.eval_vec_id,
         round({dot} / ({_SQL_NORM.format(v="a.e")} * {_SQL_NORM.format(v="b.e")}), 6)
           AS cos_sim
  FROM cand
  JOIN vecs a ON a.vec_id = cand.vec_id
  JOIN vecs b ON b.vec_id = cand.eval_vec_id
)
SELECT vec_id, eval_vec_id,
       CAST(floor(cos_sim * 1e6) AS BIGINT) AS cos_u
FROM scored WHERE cos_sim >= {_ND_THRESHOLD}"""


QUERIES["q_semantic_decontaminate"] = q_semantic_decontaminate
ORACLES["q_semantic_decontaminate"] = sql_semantic_decontaminate


# --- wave 41b: end-to-end curation pipeline composition ---

_CUR_SALT = "curate"


def q_curation_pipeline(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The curation twin of q_crawl_frontier: CCNet-ordered (Wenzek et
    al. 2020) composition of five separately-verified legs — MinHash
    dedup survivors (q_dedup_clusters) ∧ Gopher gate (q_gopher_rules)
    ∧ FineWeb line gate (q_fineweb_rules) ∧ C4 blocklist gate
    (q_blocklist_filter) → deterministic temperature mixture
    (operators/split.mixture_sample, md5-bucket, scan-side) → packed
    training sequences (operators/pack.pack_sequences). The gate legs
    keep their documented corpus augmentations, exactly as verified.
    Every leg is a broadcast/one-shuffle shape, so the composition
    adds joins on doc_id but no new blow-up; the oracle composes the
    identical verified SQL as subqueries."""
    from ..operators.pack import pack_sequences
    from ..operators.split import mixture_sample

    dk = q_dedup_clusters(spark, sf_dir).where("keep").select("doc_id")
    g = q_gopher_rules(spark, sf_dir).where("keep").select("doc_id")
    fw = q_fineweb_rules(spark, sf_dir).where("keep").select("doc_id")
    bl = q_blocklist_filter(spark, sf_dir).where("keep").select("doc_id")
    gated = dk.join(g, "doc_id").join(fw, "doc_id").join(bl, "doc_id")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    kept = mixture_sample(
        docs.join(gated, "doc_id"),
        "doc_id",
        "source",
        _MIX_WEIGHTS_U,
        default_u=_MIX_DEFAULT_U,
        salt=_CUR_SALT,
    )
    return pack_sequences(
        kept.select("doc_id", "text"),
        seq_len=_PACK_SEQ_LEN,
        bucket_size=_PACK_BUCKET,
        sep_tokens=_PACK_SEP,
    )


def sql_curation_pipeline() -> str:
    nib = _sql_hex8("h")
    whens = " ".join(
        f"WHEN source = '{g}' THEN {w}"
        for g, w in sorted(_MIX_WEIGHTS_U.items())
    )
    L, B, S = _PACK_SEQ_LEN, _PACK_BUCKET, _PACK_SEP
    toks = _TOKS.format(c="text")
    return f"""WITH dk AS (SELECT doc_id FROM ({sql_dedup_clusters()}) WHERE keep),
gg AS (SELECT doc_id FROM ({sql_gopher_rules()}) WHERE keep),
fw AS (SELECT doc_id FROM ({sql_fineweb_rules()}) WHERE keep),
bl AS (SELECT doc_id FROM ({sql_blocklist_filter()}) WHERE keep),
gated AS (
  SELECT d.doc_id, d.source, d.text
  FROM documents d
  JOIN dk USING (doc_id) JOIN gg USING (doc_id)
  JOIN fw USING (doc_id) JOIN bl USING (doc_id)
),
mixh AS (
  SELECT doc_id, source, text,
         md5(CAST(doc_id AS VARCHAR) || '|{_CUR_SALT}') AS h
  FROM gated
),
mixed AS (
  SELECT doc_id, text FROM mixh
  WHERE {nib} % 1000000 < (CASE {whens} ELSE {_MIX_DEFAULT_U} END)
),
t AS (
  SELECT doc_id,
         (CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len({toks}) END) + {S} AS ntok,
         doc_id // {B} AS bucket
  FROM mixed
  WHERE (CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len({toks}) END) > 0 AND text IS NOT NULL
),
c AS (
  SELECT doc_id, bucket, ntok,
         COALESCE(SUM(ntok) OVER (
           PARTITION BY bucket ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM t
)
SELECT doc_id, bucket, CAST(ntok AS BIGINT) AS n_tokens,
       CAST(off AS BIGINT) AS offset,
       CAST(off // {L} AS BIGINT) AS first_chunk,
       CAST((off + ntok - 1) // {L} AS BIGINT) AS last_chunk
FROM c"""


QUERIES["q_curation_pipeline"] = q_curation_pipeline
ORACLES["q_curation_pipeline"] = sql_curation_pipeline


# ---------------------------------------------------------------------------
# wave 42: sliding-window chunking + chunk-level duplicate scan
# ---------------------------------------------------------------------------

_CHUNK_W = 32
_CHUNK_S = 24


def q_chunk_windows(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Overlapping token-window chunking (operators/chunk.chunk_windows):
    the RAG-indexing / long-context prep step. Window starts are an
    integer ``sequence`` exploded scan-side — zero shuffles, zero
    Python; the chunk digest is md5 of the space-joined token slice so
    the oracle recomputes it bit-identically."""
    from ..operators.chunk import chunk_windows

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_windows(docs, window=_CHUNK_W, stride=_CHUNK_S)


def sql_chunk_windows() -> str:
    toks = ("regexp_split_to_array(regexp_replace(lower(trim(coalesce("
            "text, ''))), '\\s+', ' ', 'g'), ' ')")
    return f"""WITH t AS (
  SELECT doc_id, {toks} AS toks, len({toks}) AS n FROM documents
),
s AS (
  SELECT doc_id, toks, n, unnest(generate_series(0, n - 1, {_CHUNK_S})) AS start_tok
  FROM t
)
SELECT doc_id,
       CAST(start_tok // {_CHUNK_S} AS INTEGER) AS chunk_idx,
       CAST(start_tok AS INTEGER) AS start_tok,
       CAST(least({_CHUNK_W}, n - start_tok) AS INTEGER) AS n_toks,
       md5(array_to_string(
         list_slice(toks, start_tok + 1,
                    start_tok + least({_CHUNK_W}, n - start_tok)), ' '))
         AS chunk_hash
FROM s"""


QUERIES["q_chunk_windows"] = q_chunk_windows
ORACLES["q_chunk_windows"] = sql_chunk_windows


def q_chunk_dedup(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Chunk-granularity duplicate scan (operators/chunk.
    chunk_dup_stats): boilerplate shared between documents that
    whole-doc digests miss. Plans as the two-exchange distinct
    rewrite on top of the zero-shuffle chunker — the memory-safe
    shape for viral chunks (pinned in test_plans)."""
    from ..operators.chunk import chunk_dup_stats, chunk_windows

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_dup_stats(chunk_windows(docs, window=_CHUNK_W, stride=_CHUNK_S))


def sql_chunk_dedup() -> str:
    return f"""WITH c AS ({sql_chunk_windows()})
SELECT chunk_hash,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM c
GROUP BY chunk_hash
HAVING COUNT(*) > 1"""


QUERIES["q_chunk_dedup"] = q_chunk_dedup
ORACLES["q_chunk_dedup"] = sql_chunk_dedup


# ---------------------------------------------------------------------------
# wave 43: int8 scalar quantization + quantized-serving top-k
# ---------------------------------------------------------------------------

_SQ8_CTES = """v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
mx AS (
  SELECT vec_id, e,
         list_reduce(list_transform(e, x -> abs(x)),
                     (a, b) -> greatest(a, b)) AS maxabs
  FROM v
),
sc AS (
  SELECT vec_id, e,
         CASE WHEN maxabs > 0 THEN 127.0 / maxabs ELSE 0.0 END AS scale
  FROM mx
),
qz AS (
  SELECT vec_id, e, scale,
         list_transform(e, x -> CAST(floor(x * scale) AS INTEGER)) AS qv
  FROM sc
)"""


def q_int8_quant(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """SQ8 scalar quantization of the embedding corpus
    (operators/similarity.int8_quantize): per-vector scale in
    micro-units, md5 digest of the 64 int8 codes, and the L1
    reconstruction error in micro-units — all scan-side, zero
    shuffles; the oracle recomputes codes and error bit-identically
    (double cast -> divide -> multiply -> floor, init-0.0 folds)."""
    from ..operators.similarity import int8_quantize

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _assert_embedding_dim(emb)
    q = int8_quantize(emb)
    err = F.aggregate(
        F.zip_with(
            F.col("e"),
            F.col("qv"),
            lambda x, c: F.abs(x - c.cast("double") / F.col("scale")),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return q.select(
        "vec_id",
        F.floor(F.col("scale") * 1000000.0).cast("long").alias("scale_u"),
        F.md5(
            F.array_join(F.transform(F.col("qv"), lambda x: x.cast("string")), ",")
        ).alias("q_digest"),
        F.when(F.col("scale") > 0, F.floor(F.lit(1000000.0) * err))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("err_u"),
    )


def sql_int8_quant() -> str:
    dim = _LSH_DIM
    return f"""WITH {_SQ8_CTES}
SELECT vec_id,
       CAST(floor(scale * 1000000.0) AS BIGINT) AS scale_u,
       md5(array_to_string(qv, ',')) AS q_digest,
       CAST(CASE WHEN scale > 0 THEN floor(1000000.0 * list_reduce(
         list_transform(range(1, {dim + 1}),
                        i -> abs(e[i] - CAST(qv[i] AS DOUBLE) / scale)),
         (a, b) -> a + b)) ELSE 0 END AS BIGINT) AS err_u
FROM qz"""


QUERIES["q_int8_quant"] = q_int8_quant
ORACLES["q_int8_quant"] = sql_int8_quant


def q_int8_topk(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Quantized-serving top-k (operators/similarity.int8_topk): per
    query, corpus ranked by the exact INTEGER dot product of int8
    codes — the SQ8 probe path (no float work on the big side).
    Two-level fanout rank mirrors pq_topk; all arithmetic int64."""
    from ..operators.similarity import int8_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _assert_embedding_dim(emb)
    return int8_topk(emb, k=_TOPK_K, n_queries=_N_QUERIES).select(
        "query_id",
        "vec_id",
        F.col("dot_q").cast("long").alias("dot_q"),
        F.col("rank").cast("long").alias("rank"),
    )


def sql_int8_topk() -> str:
    dim = _LSH_DIM
    return f"""WITH {_SQ8_CTES},
pairs AS (
  SELECT qq.vec_id AS query_id, c.vec_id AS vec_id,
         list_reduce(list_transform(range(1, {dim + 1}),
                     i -> CAST(c.qv[i] AS BIGINT) * qq.qv[i]),
                     (a, b) -> a + b) AS dot_q
  FROM qz c, qz qq
  WHERE qq.vec_id < {_N_QUERIES} AND c.vec_id <> qq.vec_id
),
r AS (
  SELECT query_id, vec_id, dot_q,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dot_q DESC, vec_id) AS rank
  FROM pairs
)
SELECT query_id, vec_id, CAST(dot_q AS BIGINT) AS dot_q,
       CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {_TOPK_K}"""


QUERIES["q_int8_topk"] = q_int8_topk
ORACLES["q_int8_topk"] = sql_int8_topk


# ---------------------------------------------------------------------------
# wave 44: co-citation + bibliographic coupling (directed related-page pair)
# ---------------------------------------------------------------------------

_COCIT_MIN_COMMON = 2

_COCIT_EDGES_CTE = """n_docs AS (SELECT COUNT(*) AS n FROM documents),
ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
e_raw AS (
  SELECT id AS a, (31 * id + 7) % (SELECT n FROM n_docs) AS b FROM ids
  UNION ALL
  SELECT id, (17 * id + 3) % (SELECT n FROM n_docs) FROM ids WHERE id % 3 = 0
  UNION ALL
  SELECT id, (7 * id + 11) % (SELECT n FROM n_docs) FROM ids WHERE id % 2 = 0
  UNION ALL
  SELECT id, ((id // 8) * 8) % (SELECT n FROM n_docs) FROM ids
  UNION ALL
  SELECT id, ((id // 8) * 8 + 1) % (SELECT n FROM n_docs) FROM ids
),
e AS (SELECT DISTINCT a, b FROM e_raw WHERE a <> b)"""


def _cocit_edges(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The DIRECTED arithmetic web graph — the three q_link_predict
    link generators kept directional (who cites vs who is cited),
    plus two topic-block generators (every source in a block of 8
    cites the block's two anchor pages) so the graph carries genuine
    co-citation structure: anchor pairs share ~8 citing sources,
    block members share ~2 cited anchors."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    n_df = ids.agg(F.count("*").alias("n"))
    base = ids.crossJoin(F.broadcast(n_df))
    e1 = base.select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 31 + 7, F.col("n")).alias("dst"),
    )
    e2 = base.where(F.pmod(F.col("doc_id"), F.lit(3)) == 0).select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 17 + 3, F.col("n")).alias("dst"),
    )
    e3 = base.where(F.pmod(F.col("doc_id"), F.lit(2)) == 0).select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 7 + 11, F.col("n")).alias("dst"),
    )
    e4 = base.select(
        F.col("doc_id").alias("src"),
        F.pmod((F.col("doc_id") / 8).cast("long") * 8, F.col("n")).alias("dst"),
    )
    e5 = base.select(
        F.col("doc_id").alias("src"),
        F.pmod(
            (F.col("doc_id") / 8).cast("long") * 8 + 1, F.col("n")
        ).alias("dst"),
    )
    return e1.union(e2).union(e3).union(e4).union(e5)


def _sql_cocitation(direction: str) -> str:
    # center z = citing source (in) or cited target (out); endpoint v.
    z, v = ("a", "b") if direction == "in" else ("b", "a")
    return f"""WITH {_COCIT_EDGES_CTE},
zv AS (SELECT DISTINCT {z} AS z, {v} AS v FROM e WHERE {z} <> {v}),
deg AS (SELECT v, COUNT(*) AS deg FROM zv GROUP BY v),
cn AS (
  SELECT e1.v AS u, e2.v AS w, COUNT(*) AS common
  FROM zv e1 JOIN zv e2 ON e1.z = e2.z
  WHERE e1.v < e2.v GROUP BY e1.v, e2.v
  HAVING COUNT(*) >= {_COCIT_MIN_COMMON}
)
SELECT c.u, c.w, CAST(c.common AS BIGINT) AS common,
       CAST((2 * c.common * 1000000) // (du.deg + dw.deg) AS BIGINT)
         AS dice_u
FROM cn c
JOIN deg du ON du.v = c.u
JOIN deg dw ON dw.v = c.w"""


def q_cocitation(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Co-citation similarity (operators/graph.cocitation_pairs,
    direction='in', Small 1973): page pairs linked-to by >= 2 common
    sources over the directed arithmetic web graph, scored by integer
    micro-unit Dice on in-degrees — the related-page signal a KG
    builder mines from anchor graphs. Center-fanout guard active
    (test-scale graph passes under the 10k default)."""
    from ..operators.graph import cocitation_pairs

    out = cocitation_pairs(
        _cocit_edges(spark, sf_dir), direction="in",
        min_common=_COCIT_MIN_COMMON,
    )
    return out.select(
        F.col("u").cast("long").alias("u"),
        F.col("w").cast("long").alias("w"),
        "common",
        "dice_u",
    )


def sql_cocitation() -> str:
    return _sql_cocitation("in")


QUERIES["q_cocitation"] = q_cocitation
ORACLES["q_cocitation"] = sql_cocitation


def q_bib_coupling(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Bibliographic coupling (operators/graph.cocitation_pairs,
    direction='out', Kessler 1963): page pairs CITING >= 2 common
    targets, micro-unit Dice on out-degrees — the outlink twin of
    q_cocitation; together they bracket the directed related-page
    family."""
    from ..operators.graph import cocitation_pairs

    out = cocitation_pairs(
        _cocit_edges(spark, sf_dir), direction="out",
        min_common=_COCIT_MIN_COMMON,
    )
    return out.select(
        F.col("u").cast("long").alias("u"),
        F.col("w").cast("long").alias("w"),
        "common",
        "dice_u",
    )


def sql_bib_coupling() -> str:
    return _sql_cocitation("out")


QUERIES["q_bib_coupling"] = q_bib_coupling
ORACLES["q_bib_coupling"] = sql_bib_coupling


# ---------------------------------------------------------------------------
# wave 45: edit-distance verification of LSH candidates
# ---------------------------------------------------------------------------

_EDIT_PREFIX = 256


def q_edit_verify(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Exact Levenshtein verification of the MinHash-LSH candidate
    pairs (operators/dedup.edit_distance_verify): banding recall ->
    edit-distance precision, the candidate-then-verify near-dup
    contract. O(prefix^2) string DP runs ONLY on the bounded
    candidate set; both engines ship classic Levenshtein natively so
    the verdict is bit-exact cross-engine."""
    from ..operators.dedup import edit_distance_verify, minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cand = minhash_lsh_pairs(
        docs, num_hashes=_MH_HASHES, bands=_MH_BANDS, k=_MH_K
    )
    return edit_distance_verify(docs, cand, prefix=_EDIT_PREFIX)


def sql_edit_verify() -> str:
    return f"""WITH {_minhash_cand_cte()},
pfx AS (
  SELECT doc_id,
         substring(coalesce(text, ''), 1, {_EDIT_PREFIX}) AS p
  FROM documents
)
SELECT c.doc_id_a, c.doc_id_b,
       CAST(levenshtein(a.p, b.p) AS BIGINT) AS lev,
       CAST(CASE WHEN greatest(length(a.p), length(b.p)) = 0
                 THEN 1000000
                 ELSE floor((greatest(length(a.p), length(b.p))
                             - levenshtein(a.p, b.p)) * 1000000.0
                            / greatest(length(a.p), length(b.p)))
            END AS BIGINT) AS sim_u
FROM cand c
JOIN pfx a ON a.doc_id = c.doc_id_a
JOIN pfx b ON b.doc_id = c.doc_id_b"""


QUERIES["q_edit_verify"] = q_edit_verify
ORACLES["q_edit_verify"] = sql_edit_verify


# ---------------------------------------------------------------------------
# wave 46: confident-learning label-noise detection
# ---------------------------------------------------------------------------

_CL_SALT = "cl-noise"
_CL_FLIP_U = 100_000  # 10% deterministic label flips
_CL_PROB_SALT = "cl-prob"


def _cl_scored(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Noisy-label eval bed: noisy label = (lang == 'en') flipped for
    the deterministic 10% of docs whose md5(doc_id|salt) bucket falls
    under _CL_FLIP_U (the planted noise the method must find).
    Predicted P(en) is a deterministic md5-jittered model that tracks
    the TRUE language, not the noisy label — en docs score in
    [500k, 700k], others in [300k, 500k] micro-units — i.e. a decent
    classifier scored against corrupted labels, exactly the regime
    confident learning targets (Northcutt et al. 2021 §5 runs the
    same planted-noise protocol)."""
    from ..operators.split import split_bucket

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    flip = split_bucket(F.col("doc_id"), _CL_SALT) < F.lit(_CL_FLIP_U)
    jitter = F.pmod(
        split_bucket(F.col("doc_id"), _CL_PROB_SALT), F.lit(200_001)
    )
    base = F.when(F.col("lang") == "en", F.lit(500_000)).otherwise(
        F.lit(300_000)
    )
    return docs.select(
        "doc_id",
        ((F.col("lang") == "en") != flip).cast("int").alias("label"),
        (base + jitter).cast("long").alias("p_u"),
    )


def _sql_cl_scored() -> str:
    nib = _sql_hex8(f"md5(CAST(doc_id AS VARCHAR) || '|{_CL_SALT}')")
    pnib = _sql_hex8(f"md5(CAST(doc_id AS VARCHAR) || '|{_CL_PROB_SALT}')")
    return f"""scored AS (
  SELECT doc_id,
         CAST((lang = 'en') <> ({nib} % 1000000 < {_CL_FLIP_U})
              AS INTEGER) AS label,
         (CASE WHEN lang = 'en' THEN 500000 ELSE 300000 END)
           + ({pnib} % 1000000) % 200001 AS p_u
  FROM documents
),
s AS (
  SELECT doc_id, label, p_u AS conf1, 1000000 - p_u AS conf0,
         CASE WHEN label = 1 THEN p_u ELSE 1000000 - p_u END AS self_conf
  FROM scored
),
th AS (
  SELECT label, CAST(SUM(self_conf) // COUNT(*) AS BIGINT) AS t
  FROM s GROUP BY label
),
tp AS (
  SELECT COALESCE(MAX(CASE WHEN label = 1 THEN t END), 1000001) AS t1,
         COALESCE(MAX(CASE WHEN label = 0 THEN t END), 1000001) AS t0
  FROM th
),
y AS (
  SELECT s.doc_id, s.label, s.conf1, s.conf0, tp.t1, tp.t0,
         CASE WHEN s.conf1 >= tp.t1 AND s.conf0 >= tp.t0
                THEN (CASE WHEN s.conf1 >= s.conf0 THEN 1 ELSE 0 END)
              WHEN s.conf1 >= tp.t1 THEN 1
              WHEN s.conf0 >= tp.t0 THEN 0
         END AS yhat
  FROM s, tp
)"""


def q_confident_joint(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Confident-learning joint (operators/classify.
    confident_learning_joint, Northcutt et al. 2021) over
    noisy (lang=='en') labels with 10% planted deterministic flips,
    scored by the quality classifier: the 2x2 given-label x
    confident-label cross-tab whose off-diagonal is the estimated
    label-error mass. Two data scans, thresholds broadcast, integer
    div throughout."""
    from ..operators.classify import confident_learning_joint

    return confident_learning_joint(_cl_scored(spark, sf_dir))


def sql_confident_joint() -> str:
    return f"""WITH {_sql_cl_scored()}
SELECT label, yhat, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CASE WHEN yhat = 1 THEN t1 ELSE t0 END AS BIGINT)
         AS threshold_u
FROM y WHERE yhat IS NOT NULL
GROUP BY label, yhat, CASE WHEN yhat = 1 THEN t1 ELSE t0 END"""


QUERIES["q_confident_joint"] = q_confident_joint
ORACLES["q_confident_joint"] = sql_confident_joint


def q_label_issues(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-example label issues (operators/classify.label_issues): the
    confident joint's off-diagonal materialized as (doc_id, given
    label, confident label, confidence) — the relabel/prune queue,
    ranked by conf_u downstream. Same planted-noise bed as
    q_confident_joint."""
    from ..operators.classify import label_issues

    return label_issues(_cl_scored(spark, sf_dir))


def sql_label_issues() -> str:
    return f"""WITH {_sql_cl_scored()}
SELECT doc_id, label, yhat,
       CAST(CASE WHEN yhat = 1 THEN conf1 ELSE conf0 END AS BIGINT)
         AS conf_u
FROM y WHERE yhat IS NOT NULL AND yhat <> label"""


QUERIES["q_label_issues"] = q_label_issues
ORACLES["q_label_issues"] = sql_label_issues


# ---------------------------------------------------------------------------
# wave 47: proximity (sloppy-phrase) search over a positional index
# ---------------------------------------------------------------------------

_PROX_WINDOW = 5
_PROX_K = 10


def q_proximity_search(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Proximity retrieval (operators/search.proximity_topk): the
    corpus's most frequent adjacent bigram with distinct halves (ties
    broken lexicographically — a deterministic data-derived query,
    like q_bm25_prf's expansion terms; bigram-derived so the phrase
    is GUARANTEED to co-occur, at any scale) searched with slop <= 5;
    docs ranked by in-window position pairs. The |i-j| <= w predicate
    runs as a bucketed equi-join (pos div (w+1) ± 1), not a theta
    range join; term filters push to the posting scan. A corpus with
    no two-distinct-token bigram -> empty result, same schema."""
    from ..operators.dedup import tokens
    from ..operators.search import proximity_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pos = docs.where(F.col("text").isNotNull()).select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("p", "tok")
    )
    a, b = pos.alias("a"), pos.alias("b")
    top = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.p") == F.col("a.p") + 1),
        )
        .where(
            (F.col("a.tok") != "")
            & (F.col("b.tok") != "")
            & (F.col("a.tok") != F.col("b.tok"))
        )
        .groupBy(
            F.col("a.tok").alias("w1"), F.col("b.tok").alias("w2")
        )
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("w1"), F.col("w2"))
        .limit(1)
        .collect()
    )
    if not top:
        return spark.createDataFrame(
            [], "doc_id bigint, n_pairs bigint, rank bigint"
        )
    return proximity_topk(
        docs, top[0]["w1"], top[0]["w2"],
        window=_PROX_WINDOW, k=_PROX_K,
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"), "n_pairs", "rank"
    )


def sql_proximity_search() -> str:
    toks = _TOKS.format(c="text")
    return f"""WITH t AS (
  SELECT doc_id, {toks} AS tk FROM documents WHERE text IS NOT NULL
),
pos AS (
  SELECT doc_id, unnest(tk) AS tok, unnest(range(len(tk))) AS p FROM t
),
bg AS (
  SELECT a.tok AS w1, b.tok AS w2, COUNT(*) AS n
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
  WHERE a.tok <> '' AND b.tok <> '' AND a.tok <> b.tok
  GROUP BY a.tok, b.tok
),
top AS (SELECT w1, w2 FROM bg ORDER BY n DESC, w1, w2 LIMIT 1),
pa AS (
  SELECT doc_id, p AS i FROM pos WHERE tok = (SELECT w1 FROM top)
),
pb AS (
  SELECT doc_id, p AS j FROM pos WHERE tok = (SELECT w2 FROM top)
),
c AS (
  SELECT pa.doc_id, COUNT(*) AS n_pairs
  FROM pa JOIN pb ON pa.doc_id = pb.doc_id
  WHERE abs(pa.i - pb.j) <= {_PROX_WINDOW}
  GROUP BY pa.doc_id
),
r AS (
  SELECT doc_id, n_pairs,
         row_number() OVER (ORDER BY n_pairs DESC, doc_id) AS rank
  FROM c
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {_PROX_K}"""


QUERIES["q_proximity_search"] = q_proximity_search
ORACLES["q_proximity_search"] = sql_proximity_search


# ---------------------------------------------------------------------------
# wave 48: hard-negative mining + quality-argmax canonical selection
# ---------------------------------------------------------------------------


def q_hard_negatives(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Hard-negative mining for contrastive training (the DPR /
    sentence-transformers recipe, Karpukhin et al. 2020): documents
    the LEXICAL retriever ranks highly (BM25 top-20, same leg as
    q_hybrid_rrf) that the SEMANTIC retriever does NOT place in its
    top-10 for query vector 0 — lexically-plausible-but-semantically-
    wrong examples, the highest-value negatives a contrastive trainer
    can mine. Pure composition of the two verified retriever legs
    plus one left_anti join; cost is O(topk), corpus-size-free after
    the retrievers."""
    from ..operators.search import bm25_topk
    from ..operators.similarity import cosine_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lex = bm25_topk(
        docs,
        _BM25_TERMS,
        topk=_BM25_TOPK,
        scale=_BM25_SCALE,
        k1_u=_BM25_K1_U,
        b_u=_BM25_B_U,
        idf_cap_u=_BM25_IDF_CAP_U,
    ).select(
        F.col("doc_id").cast("long").alias("id"),
        F.col("score_u").cast("long").alias("score_u"),
        F.row_number()
        .over(Window.orderBy(F.col("score_u").desc(), F.col("doc_id")))
        .cast("long")
        .alias("lex_rank"),
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    vec = cosine_topk(emb, qv, k=_TOPK_K).select(
        F.col("vec_id").cast("long").alias("id")
    )
    return lex.join(vec, "id", "left_anti")


def sql_hard_negatives() -> str:
    return f"""WITH lex AS (
  SELECT CAST(doc_id AS BIGINT) AS id,
         CAST(score_u AS BIGINT) AS score_u,
         CAST(ROW_NUMBER() OVER (ORDER BY score_u DESC, doc_id)
              AS BIGINT) AS lex_rank
  FROM ({sql_bm25_topk()}) t
),
vec AS (
  SELECT CAST(vec_id AS BIGINT) AS id
  FROM ({sql_topk_cosine()}) t WHERE query_id = 0
)
SELECT id, score_u, lex_rank FROM lex
WHERE id NOT IN (SELECT id FROM vec)"""


QUERIES["q_hard_negatives"] = q_hard_negatives
ORACLES["q_hard_negatives"] = sql_hard_negatives


def q_cluster_canonical(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Quality-argmax canonical selection: near-dup clusters
    (operators/dedup.near_dup_clusters' component labels) re-resolved
    to keep the BEST-quality member instead of the min-id one — the
    production keep rule (CCNet keeps highest LM score, FineWeb the
    longest): keep = argmax(quality_u, tie -> min doc_id) per
    cluster. One extra window over the (tiny) clustered subset; the
    singleton majority never shuffles on quality."""
    from ..functions.text import quality_score_u
    from ..operators.dedup import near_dup_clusters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    clusters = near_dup_clusters(
        docs, num_hashes=_MH_HASHES, bands=_MH_BANDS, k=_MH_K
    ).select("doc_id", "cluster_id")
    q = docs.select(
        "doc_id", quality_score_u(F.col("text")).alias("quality_u")
    )
    win = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_u").desc(), F.col("doc_id")
    )
    return (
        clusters.join(q, "doc_id")
        .withColumn("keep", F.row_number().over(win) == 1)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("quality_u").cast("long").alias("quality_u"),
            "keep",
        )
    )


def sql_cluster_canonical() -> str:
    return f"""WITH labeled AS ({sql_dedup_clusters()}),
q AS (SELECT doc_id AS q_doc_id, quality_u FROM ({sql_quality()}))
SELECT CAST(l.doc_id AS BIGINT) AS doc_id,
       CAST(l.cluster_id AS BIGINT) AS cluster_id,
       CAST(q.quality_u AS BIGINT) AS quality_u,
       (ROW_NUMBER() OVER (
          PARTITION BY l.cluster_id
          ORDER BY q.quality_u DESC, l.doc_id) = 1) AS keep
FROM labeled l JOIN q ON q.q_doc_id = l.doc_id"""


QUERIES["q_cluster_canonical"] = q_cluster_canonical
ORACLES["q_cluster_canonical"] = sql_cluster_canonical


# ---------------------------------------------------------------------------
# wave 49: prototype-based data pruning (Sorscher et al. 2022)
# ---------------------------------------------------------------------------


def q_proto_select(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """SSL-prototype data pruning ("Beyond neural scaling laws",
    Sorscher et al. 2022): per k-means cluster, rank members by
    distance to their centroid — the most prototypical (closest)
    examples are the redundant ones a data-abundant run prunes;
    ``keep_hard`` marks the far half that survives, ``is_proto`` the
    cluster exemplar. Assignment + distance are the verified
    scan-side integer argmin (operators/similarity.
    kmeans_assign_dist); the only shuffle is the per-cluster rank
    window, whose partition size stays bounded when k grows with the
    corpus (same contract as SemDeDup's within-cluster work)."""
    from ..operators.similarity import kmeans_assign_dist

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _assert_embedding_dim(emb)
    cents = _cached_centroids(emb, (sf_dir, "raw"))
    asg = kmeans_assign_dist(emb, cents)
    sizes = asg.groupBy("cid").agg(F.count("*").alias("cluster_n"))
    win = Window.partitionBy("cid").orderBy(
        F.col("d2").asc(), F.col("vec_id")
    )
    return (
        asg.withColumn("rank_in_cluster", F.row_number().over(win))
        .join(F.broadcast(sizes), "cid")
        .select(
            "vec_id",
            F.col("cid").cast("long").alias("cid"),
            F.col("d2").cast("long").alias("d2"),
            F.col("rank_in_cluster").cast("long").alias("rank_in_cluster"),
            F.col("cluster_n").cast("long").alias("cluster_n"),
            (F.col("rank_in_cluster") == 1).alias("is_proto"),
            (F.col("rank_in_cluster") * 2 > F.col("cluster_n")).alias(
                "keep_hard"
            ),
        )
    )


def sql_proto_select() -> str:
    it = _IVF_KMEANS_ITER
    lloyd_ctes = _sql_lloyd_rounds(it)
    return f"""WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
vu AS (
  SELECT vec_id,
         list_transform(e, x -> CAST(floor(x * 1000000) AS BIGINT)) AS v
  FROM vecs
),
c0 AS (SELECT vec_id AS cid, v AS cv FROM vu WHERE vec_id < {_IVF_CENTROIDS}),
{lloyd_ctes},
distf AS (
  SELECT v.vec_id, c.cid,
         list_reduce(list_transform(range(1, 65),
           i -> (v.v[i] - c.cv[i]) * (v.v[i] - c.cv[i])), (a, b) -> a + b) AS d2
  FROM vu v CROSS JOIN c{it} c
),
asgd AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT vec_id, cid, d2, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
    FROM distf) WHERE rn = 1
),
sz AS (SELECT cid, COUNT(*) AS cluster_n FROM asgd GROUP BY cid),
rk AS (
  SELECT vec_id, cid, d2,
         ROW_NUMBER() OVER (
           PARTITION BY cid ORDER BY d2 ASC, vec_id ASC
         ) AS rank_in_cluster
  FROM asgd
)
SELECT r.vec_id, CAST(r.cid AS BIGINT) AS cid, CAST(r.d2 AS BIGINT) AS d2,
       CAST(r.rank_in_cluster AS BIGINT) AS rank_in_cluster,
       CAST(sz.cluster_n AS BIGINT) AS cluster_n,
       (r.rank_in_cluster = 1) AS is_proto,
       (r.rank_in_cluster * 2 > sz.cluster_n) AS keep_hard
FROM rk r JOIN sz USING (cid)"""


QUERIES["q_proto_select"] = q_proto_select
ORACLES["q_proto_select"] = sql_proto_select


# ---------------------------------------------------------------------------
# wave 50: held-out LM surprisal (train/valid split evaluation)
# ---------------------------------------------------------------------------

_HS_SALT = "heldout"
_HS_TRAIN_U = 800_000


def _sql_md5_bucket(key_expr: str, salt: str) -> str:
    """First 8 md5 hex nibbles of key|salt as an exact integer mod 1e6
    (16^8 < 2^53) — the DuckDB twin of operators/split.split_bucket."""
    nibbles = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({key_expr} || '|{salt}'),"
        f" {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"({nibbles}) % 1000000"


def q_heldout_surprisal(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Held-out bigram surprisal (operators/stats.heldout_surprisal):
    documents split 80/20 by the deterministic md5 bucket
    (operators/split.split_bucket), an add-one bigram LM trained on
    the TRAIN side only, the VALID side scored under it — the honest
    perplexity-filter evaluation that q_bigram_surprisal's self-scored
    number overstates. Unseen bigrams/contexts land on the add-one
    uniform floor, so every valid document is scorable."""
    from ..operators.split import split_bucket
    from ..operators.stats import heldout_surprisal

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bucket = split_bucket(F.col("doc_id"), _HS_SALT)
    train = docs.where(bucket < F.lit(_HS_TRAIN_U))
    valid = docs.where(bucket >= F.lit(_HS_TRAIN_U))
    return heldout_surprisal(train, valid, scale=_BG_SCALE)


def sql_heldout_surprisal() -> str:
    toks = _TOKS.format(c="text")
    bucket = _sql_md5_bucket("CAST(doc_id AS VARCHAR)", _HS_SALT)
    return f"""WITH b AS (
  SELECT doc_id, text, {bucket} AS bucket FROM documents
),
tr AS (SELECT doc_id, text FROM b WHERE bucket < {_HS_TRAIN_U}),
va AS (SELECT doc_id, text FROM b WHERE bucket >= {_HS_TRAIN_U}),
ttk AS (SELECT doc_id, list_filter({toks}, t -> t <> '') AS toks FROM tr),
tpos AS (
  SELECT doc_id, generate_subscripts(toks, 1) AS pos, unnest(toks) AS t
  FROM ttk
),
tbg AS (
  SELECT a.t AS t1, b.t AS t2
  FROM tpos a JOIN tpos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
bgc AS (SELECT t1, t2, COUNT(*) AS cnt12 FROM tbg GROUP BY t1, t2),
ctx AS (SELECT t1, SUM(cnt12) AS ctx1 FROM bgc GROUP BY t1),
voc AS (SELECT COUNT(DISTINCT t) AS v FROM tpos),
vtk AS (SELECT doc_id, list_filter({toks}, t -> t <> '') AS toks FROM va),
vpos AS (
  SELECT doc_id, generate_subscripts(toks, 1) AS pos, unnest(toks) AS t
  FROM vtk
),
vbg AS (
  SELECT a.doc_id, a.t AS t1, b.t AS t2
  FROM vpos a JOIN vpos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
sc AS (
  SELECT vbg.doc_id,
         SUM(((COALESCE(ctx.ctx1, 0) + (SELECT v FROM voc)) * {_BG_SCALE})
             // (COALESCE(bgc.cnt12, 0) + 1)) AS ss,
         COUNT(*) AS n
  FROM vbg
  LEFT JOIN bgc ON bgc.t1 = vbg.t1 AND bgc.t2 = vbg.t2
  LEFT JOIN ctx ON ctx.t1 = vbg.t1
  GROUP BY vbg.doc_id
)
SELECT va.doc_id AS id,
       CAST(COALESCE(sc.n, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(sc.ss // sc.n, 0) AS BIGINT) AS surprisal_u
FROM va LEFT JOIN sc ON sc.doc_id = va.doc_id"""


QUERIES["q_heldout_surprisal"] = q_heldout_surprisal
ORACLES["q_heldout_surprisal"] = sql_heldout_surprisal


# ---------------------------------------------------------------------------
# wave 51: Adamic-Adar / Resource-Allocation link prediction
# ---------------------------------------------------------------------------

_AA_MIN_COMMON = 2


def q_adamic_adar(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Weighted-common-neighbor link prediction
    (operators/graph.adamic_adar_pairs) over the same arithmetic web
    graph as q_link_predict: Adamic-Adar down-weights each shared
    neighbor by 1/log2(deg) (integer bit-length, no libm) and
    Resource Allocation by 1/deg — the two standard hub-discounted
    predictors, both in exact micro-units."""
    from ..operators.graph import adamic_adar_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    n_df = ids.agg(F.count("*").alias("n"))
    base = ids.crossJoin(F.broadcast(n_df))
    e1 = base.select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 31 + 7, F.col("n")).alias("dst"),
    )
    e2 = base.where(F.pmod(F.col("doc_id"), F.lit(3)) == 0).select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 17 + 3, F.col("n")).alias("dst"),
    )
    e3 = base.where(F.pmod(F.col("doc_id"), F.lit(2)) == 0).select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 7 + 11, F.col("n")).alias("dst"),
    )
    out = adamic_adar_pairs(
        e1.union(e2).union(e3),
        min_common=_AA_MIN_COMMON,
        src_col="src",
        dst_col="dst",
    )
    return out.select(
        F.col("u").cast("long").alias("u"),
        F.col("w").cast("long").alias("w"),
        "common",
        "aa_u",
        "ra_u",
    )


def sql_adamic_adar() -> str:
    return f"""WITH n_docs AS (SELECT COUNT(*) AS n FROM documents),
ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
e_raw AS (
  SELECT id AS a, (31 * id + 7) % (SELECT n FROM n_docs) AS b FROM ids
  UNION ALL
  SELECT id, (17 * id + 3) % (SELECT n FROM n_docs) FROM ids WHERE id % 3 = 0
  UNION ALL
  SELECT id, (7 * id + 11) % (SELECT n FROM n_docs) FROM ids WHERE id % 2 = 0
),
und AS (
  SELECT DISTINCT a, b FROM (
    SELECT a, b FROM e_raw UNION ALL SELECT b AS a, a AS b FROM e_raw
  ) WHERE a <> b
),
deg AS (SELECT a, COUNT(*) AS deg FROM und GROUP BY a),
wts AS (
  SELECT a AS z,
         1000000 // (length(bin(deg)) - 1) AS aa_w,
         1000000 // deg AS ra_w
  FROM deg WHERE deg >= 2
),
wedge AS (
  SELECT e1.b AS u, e2.b AS w, COUNT(*) AS common,
         SUM(wts.aa_w) AS aa_u, SUM(wts.ra_w) AS ra_u
  FROM und e1 JOIN und e2 ON e1.a = e2.a JOIN wts ON wts.z = e1.a
  WHERE e1.b < e2.b GROUP BY e1.b, e2.b
),
cand AS (
  SELECT c.u, c.w, c.common, c.aa_u, c.ra_u FROM wedge c
  LEFT JOIN und x ON c.u = x.a AND c.w = x.b
  WHERE x.a IS NULL AND c.common >= {_AA_MIN_COMMON}
)
SELECT u, w, CAST(common AS BIGINT) AS common,
       CAST(aa_u AS BIGINT) AS aa_u, CAST(ra_u AS BIGINT) AS ra_u
FROM cand"""


QUERIES["q_adamic_adar"] = q_adamic_adar
ORACLES["q_adamic_adar"] = sql_adamic_adar


# ---------------------------------------------------------------------------
# wave 52: contrastive training triplets (anchor, positive, negative)
# ---------------------------------------------------------------------------


def q_training_triplets(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """(anchor, positive, negative) triplet mining for contrastive /
    metric-learning training (the sentence-transformers recipe):
    anchors are the q_topk_cosine query vectors, the POSITIVE is each
    anchor's nearest non-self neighbor, the NEGATIVE its furthest
    in-top-k non-self neighbor — semantically close enough to be a
    hard negative, far enough to carry gradient — plus the margin the
    triplet loss would see. Pure composition of the verified exact
    top-k leg; cost is O(k) per anchor after the retriever."""
    from ..operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    tk = cosine_topk(emb, queries, k=_TOPK_K).select(
        "query_id",
        "vec_id",
        F.floor(F.col("cos_sim") * 1e6).cast("long").alias("cos_u"),
        "rank",
    )
    ns = tk.where(F.col("vec_id") != F.col("query_id"))
    w_pos = Window.partitionBy("query_id").orderBy(F.col("rank").asc())
    w_neg = Window.partitionBy("query_id").orderBy(F.col("rank").desc())
    pos = (
        ns.withColumn("rp", F.row_number().over(w_pos))
        .where(F.col("rp") == 1)
        .select(
            F.col("query_id").cast("long").alias("anchor_id"),
            F.col("vec_id").cast("long").alias("pos_id"),
            F.col("cos_u").alias("pos_cos_u"),
        )
    )
    neg = (
        ns.withColumn("rn", F.row_number().over(w_neg))
        .where(F.col("rn") == 1)
        .select(
            F.col("query_id").cast("long").alias("anchor_id"),
            F.col("vec_id").cast("long").alias("neg_id"),
            F.col("cos_u").alias("neg_cos_u"),
        )
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "pos_id",
        "neg_id",
        "pos_cos_u",
        "neg_cos_u",
        (F.col("pos_cos_u") - F.col("neg_cos_u")).alias("margin_u"),
    )


def sql_training_triplets() -> str:
    return f"""WITH tk AS (SELECT * FROM ({sql_topk_cosine()}) t),
ns AS (
  SELECT query_id, vec_id, cos_u, rank,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rank ASC) AS rp,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rank DESC) AS rn
  FROM tk WHERE vec_id <> query_id
),
pos AS (
  SELECT CAST(query_id AS BIGINT) AS anchor_id,
         CAST(vec_id AS BIGINT) AS pos_id, cos_u AS pos_cos_u
  FROM ns WHERE rp = 1
),
neg AS (
  SELECT CAST(query_id AS BIGINT) AS anchor_id,
         CAST(vec_id AS BIGINT) AS neg_id, cos_u AS neg_cos_u
  FROM ns WHERE rn = 1
)
SELECT anchor_id, pos_id, neg_id, pos_cos_u, neg_cos_u,
       pos_cos_u - neg_cos_u AS margin_u
FROM pos JOIN neg USING (anchor_id)"""


QUERIES["q_training_triplets"] = q_training_triplets
ORACLES["q_training_triplets"] = sql_training_triplets


# ---------------------------------------------------------------------------
# wave 53: verbatim memorization exposure of the held-out split
# ---------------------------------------------------------------------------

_MEM_K = 5


def q_memorization_scan(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-valid-doc verbatim memorization exposure
    (operators/decontaminate.memorization_scan): the fraction of each
    held-out document's distinct word-5-grams that occur anywhere in
    the train split — same 80/20 md5 split as q_heldout_surprisal, so
    the two evals read the same partition of the corpus. The
    aggregate leakage a pairwise decontamination scan under-reports."""
    from ..operators.decontaminate import memorization_scan
    from ..operators.split import split_bucket

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bucket = split_bucket(F.col("doc_id"), _HS_SALT)
    train = docs.where(bucket < F.lit(_HS_TRAIN_U))
    valid = docs.where(bucket >= F.lit(_HS_TRAIN_U))
    return memorization_scan(train, valid, k=_MEM_K)


def sql_memorization_scan() -> str:
    K = _MEM_K
    toks = _TOKS.format(c="text")
    bucket = _sql_md5_bucket("CAST(doc_id AS VARCHAR)", _HS_SALT)
    return f"""WITH b AS (
  SELECT doc_id, text, {bucket} AS bucket FROM documents
),
sh AS (
  SELECT doc_id, bucket,
         list_distinct(
           CASE WHEN len(t) >= {K}
                THEN list_transform(range(0, len(t) - {K - 1}),
                                    i -> array_to_string(t[i + 1 : i + {K}], ' '))
                ELSE [] END) AS sh
  FROM (SELECT doc_id, bucket, list_filter({toks}, x -> TRUE) AS t FROM b)
),
tr AS (SELECT DISTINCT unnest(sh) AS shingle FROM sh
       WHERE bucket < {_HS_TRAIN_U}),
va AS (SELECT doc_id, unnest(sh) AS shingle FROM sh
       WHERE bucket >= {_HS_TRAIN_U}),
tot AS (SELECT doc_id, COUNT(*) AS n_ngrams FROM va GROUP BY doc_id),
seen AS (
  SELECT va.doc_id, COUNT(*) AS n_seen
  FROM va JOIN tr USING (shingle) GROUP BY va.doc_id
)
SELECT b.doc_id AS id,
       CAST(COALESCE(tot.n_ngrams, 0) AS BIGINT) AS n_ngrams,
       CAST(COALESCE(seen.n_seen, 0) AS BIGINT) AS n_seen,
       CAST(CASE WHEN COALESCE(tot.n_ngrams, 0) > 0
                 THEN (COALESCE(seen.n_seen, 0) * 1000000) // tot.n_ngrams
                 ELSE 0 END AS BIGINT) AS mem_rate_u
FROM b LEFT JOIN tot ON tot.doc_id = b.doc_id
LEFT JOIN seen ON seen.doc_id = b.doc_id
WHERE b.bucket >= {_HS_TRAIN_U}"""


QUERIES["q_memorization_scan"] = q_memorization_scan
ORACLES["q_memorization_scan"] = sql_memorization_scan


# ---------------------------------------------------------------------------
# wave 54: PMI-lift collocation extraction
# ---------------------------------------------------------------------------

_COLL_MIN_COUNT = 5
_COLL_TOPN = 50
_COLL_SCALE = 1_000


def q_collocations(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Top-50 corpus collocations by exact integer PMI lift
    (operators/stats.collocations): adjacent word pairs whose joint
    frequency beats the product of their marginals — the multiword-
    expression miner for tokenizer/vocab curation, rank-equivalent to
    PMI with zero float surface."""
    from ..operators.stats import collocations

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return collocations(
        docs,
        min_count=_COLL_MIN_COUNT,
        topn=_COLL_TOPN,
        scale=_COLL_SCALE,
    )


def sql_collocations() -> str:
    toks = _TOKS.format(c="text")
    return f"""WITH tk AS (
  SELECT doc_id, list_filter({toks}, t -> t <> '') AS toks FROM documents
),
pos AS (
  SELECT doc_id, generate_subscripts(toks, 1) AS pos, unnest(toks) AS t
  FROM tk
),
bg AS (
  SELECT a.t AS t1, b.t AS t2
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
bgc AS (SELECT t1, t2, COUNT(*) AS cnt12 FROM bg GROUP BY t1, t2),
lft AS (SELECT t1, SUM(cnt12) AS cnt1 FROM bgc GROUP BY t1),
rgt AS (SELECT t2, SUM(cnt12) AS cnt2 FROM bgc GROUP BY t2),
tot AS (SELECT SUM(cnt12) AS t FROM bgc),
scored AS (
  SELECT bgc.t1, bgc.t2, bgc.cnt12, lft.cnt1, rgt.cnt2,
         (bgc.cnt12 * (SELECT t FROM tot) * {_COLL_SCALE})
           // (lft.cnt1 * rgt.cnt2) AS lift_u
  FROM bgc JOIN lft USING (t1) JOIN rgt USING (t2)
  WHERE bgc.cnt12 >= {_COLL_MIN_COUNT}
),
rk AS (
  SELECT t1, t2, cnt12, cnt1, cnt2, lift_u,
         ROW_NUMBER() OVER (ORDER BY lift_u DESC, t1 ASC, t2 ASC) AS rank
  FROM scored
)
SELECT t1, t2, CAST(cnt12 AS BIGINT) AS cnt12,
       CAST(cnt1 AS BIGINT) AS cnt1, CAST(cnt2 AS BIGINT) AS cnt2,
       CAST(lift_u AS BIGINT) AS lift_u, CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= {_COLL_TOPN}"""


QUERIES["q_collocations"] = q_collocations
ORACLES["q_collocations"] = sql_collocations


# ---------------------------------------------------------------------------
# wave 55: cross-source duplication matrix
# ---------------------------------------------------------------------------


def q_crosssource_dups(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """(source_a, source_b, n_pairs): the near-dup candidate pairs of
    the verified MinHash-LSH leg rolled up by the UNORDERED source
    pair — the curation diagnostic that shows which sources copy from
    which (off-diagonal mass = cross-source syndication, diagonal =
    within-source boilerplate), deciding whether dedup must run
    globally or can shard per source. Two broadcast-sized id→source
    joins on top of the banding equi-join; the rollup output is
    |sources|² at most."""
    from ..operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_lsh_pairs(
        docs, num_hashes=_MH_HASHES, bands=_MH_BANDS, k=_MH_K
    )
    src = docs.select("doc_id", "source")
    sa = src.select(
        F.col("doc_id").alias("doc_id_a"), F.col("source").alias("sa")
    )
    sb = src.select(
        F.col("doc_id").alias("doc_id_b"), F.col("source").alias("sb")
    )
    return (
        pairs.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )


def sql_crosssource_dups() -> str:
    return f"""WITH {_minhash_cand_cte()},
lab AS (
  SELECT c.doc_id_a, c.doc_id_b,
         least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b
  FROM cand c
  JOIN documents da ON da.doc_id = c.doc_id_a
  JOIN documents db ON db.doc_id = c.doc_id_b
)
SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM lab GROUP BY source_a, source_b"""


QUERIES["q_crosssource_dups"] = q_crosssource_dups
ORACLES["q_crosssource_dups"] = sql_crosssource_dups


# ---------------------------------------------------------------------------
# wave 56: TextRank keyword extraction
# ---------------------------------------------------------------------------

_TR_MIN_COUNT = 5
_TR_TOPN = 20


def q_textrank(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """TextRank keyword extraction (Mihalcea & Tarau 2004): the
    verified integer PageRank (operators/graph.pagerank, same
    _PR_ITER/_PR_SCALE/_PR_DAMPING_U contract as q_pagerank) run over
    the corpus token co-occurrence graph — adjacent-token pairs with
    count >= 5, symmetrized — and the top-20 tokens by rank. The
    de-facto unsupervised keyword/keyphrase baseline, here as a pure
    composition: a new graph under the already-oracle-exact Pregel
    chain. Edge filtering bounds the graph at the collocation table's
    size, so the iteration joins run over a tiny frame."""
    from ..operators.graph import pagerank

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.filter(
        F.split(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "),
            " ",
        ),
        lambda t: t != "",
    )
    pairs = docs.select(toks.alias("toks")).select(
        F.explode(
            F.expr(
                "zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)),"
                " slice(toks, 2, greatest(size(toks) - 1, 0)),"
                " (a, b) -> struct(a AS t1, b AS t2))"
            )
        ).alias("bg")
    ).select(F.col("bg.t1").alias("t1"), F.col("bg.t2").alias("t2"))
    ef = (
        pairs.where(F.col("t1") != F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= F.lit(_TR_MIN_COUNT))
        .select("t1", "t2")
    )
    e = (
        ef.select(F.col("t1").alias("subj"), F.col("t2").alias("obj"))
        .union(ef.select(F.col("t2").alias("subj"), F.col("t1").alias("obj")))
        .distinct()
    )
    ids = e.select(F.col("subj").alias("tok")).distinct()
    out = pagerank(
        ids,
        e,
        id_col="tok",
        iterations=_PR_ITER,
        scale=_PR_SCALE,
        damping_u=_PR_DAMPING_U,
    )
    w = Window.orderBy(F.col("rank_u").desc(), F.col("tok").asc())
    return (
        out.select("tok", F.col("rank_u").cast("long").alias("rank_u"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= F.lit(_TR_TOPN))
    )


def sql_textrank() -> str:
    toks = _TOKS.format(c="text")
    inner = (
        f"""WITH tk AS (
  SELECT doc_id, list_filter({toks}, t -> t <> '') AS toks FROM documents
),
pos AS (
  SELECT doc_id, generate_subscripts(toks, 1) AS pos, unnest(toks) AS t
  FROM tk
),
bg AS (
  SELECT a.t AS t1, b.t AS t2
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.t <> b.t
),
ec AS (SELECT t1, t2, COUNT(*) AS c FROM bg GROUP BY t1, t2),
ef AS (SELECT t1, t2 FROM ec WHERE c >= {_TR_MIN_COUNT}),
e AS (
  SELECT t1 AS subj, t2 AS obj FROM ef
  UNION
  SELECT t2 AS subj, t1 AS obj FROM ef
),
ids AS (SELECT DISTINCT subj AS tok FROM e),
n AS (SELECT COUNT(*) AS c FROM ids)"""
        + _sql_pagerank_chain("tok")
    )
    return f"""WITH ranked AS (
  SELECT tok, rank_u,
         ROW_NUMBER() OVER (ORDER BY rank_u DESC, tok ASC) AS rank
  FROM ({inner}) t
)
SELECT tok, CAST(rank_u AS BIGINT) AS rank_u, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_TR_TOPN}"""


QUERIES["q_textrank"] = q_textrank
ORACLES["q_textrank"] = sql_textrank


# ---------------------------------------------------------------------------
# wave 57: curation funnel report (stage-by-stage survivor accounting)
# ---------------------------------------------------------------------------


def q_curation_funnel(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """(stage, stage_name, n_docs, n_tokens): the observability twin
    of q_curation_pipeline — cumulative survivor doc/token counts
    after each leg (raw → MinHash-dedup keep → Gopher → FineWeb →
    blocklist → temperature mixture), the shrinkage report every
    production curation run publishes (CCNet/FineWeb ablation tables).
    Each leg is the already-verified query reused verbatim; the
    funnel adds doc_id equi-joins and six tiny aggregates, nothing
    quadratic, and the monotone counts give reviewers an immediate
    is-a-gate-eating-everything signal."""
    from ..operators.split import mixture_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    nt = F.when(
        F.col("text").isNull()
        | (F.length(F.trim(F.col("text"))) == 0),
        F.lit(0),
    ).otherwise(
        F.size(
            F.split(
                F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "),
                " ",
            )
        )
    )
    tok = docs.select("doc_id", "source", nt.cast("long").alias("nt"))
    dk = q_dedup_clusters(spark, sf_dir).where("keep").select("doc_id")
    g = q_gopher_rules(spark, sf_dir).where("keep").select("doc_id")
    fw = q_fineweb_rules(spark, sf_dir).where("keep").select("doc_id")
    bl = q_blocklist_filter(spark, sf_dir).where("keep").select("doc_id")
    s1 = tok.join(dk, "doc_id")
    s2 = s1.join(g, "doc_id")
    s3 = s2.join(fw, "doc_id")
    s4 = s3.join(bl, "doc_id")
    s5 = mixture_sample(
        s4, "doc_id", "source", _MIX_WEIGHTS_U,
        default_u=_MIX_DEFAULT_U, salt=_CUR_SALT,
    )
    stages = [
        (0, "raw", tok), (1, "dedup", s1), (2, "gopher", s2),
        (3, "fineweb", s3), (4, "blocklist", s4), (5, "mixture", s5),
    ]
    out = None
    for i, name, df in stages:
        row = df.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.coalesce(F.sum("nt"), F.lit(0)).cast("long").alias("n_tokens"),
        ).select(
            F.lit(i).cast("long").alias("stage"),
            F.lit(name).alias("stage_name"),
            "n_docs",
            "n_tokens",
        )
        out = row if out is None else out.unionAll(row)
    return out


def sql_curation_funnel() -> str:
    nib = _sql_hex8("h")
    whens = " ".join(
        f"WHEN source = '{g}' THEN {w}"
        for g, w in sorted(_MIX_WEIGHTS_U.items())
    )
    toks = _TOKS.format(c="text")
    stages = [
        (0, "raw", "tok"), (1, "dedup", "s1"), (2, "gopher", "s2"),
        (3, "fineweb", "s3"), (4, "blocklist", "s4"), (5, "mixture", "s5"),
    ]
    rows = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS BIGINT) AS stage, '{name}' AS stage_name,"
        f" CAST(COUNT(*) AS BIGINT) AS n_docs,"
        f" CAST(COALESCE(SUM(nt), 0) AS BIGINT) AS n_tokens FROM {cte}"
        for i, name, cte in stages
    )
    return f"""WITH dk AS (SELECT doc_id FROM ({sql_dedup_clusters()}) WHERE keep),
gg AS (SELECT doc_id FROM ({sql_gopher_rules()}) WHERE keep),
fw AS (SELECT doc_id FROM ({sql_fineweb_rules()}) WHERE keep),
bl AS (SELECT doc_id FROM ({sql_blocklist_filter()}) WHERE keep),
tok AS (
  SELECT doc_id, source,
         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
              ELSE len({toks}) END AS nt
  FROM documents
),
s1 AS (SELECT tok.* FROM tok JOIN dk USING (doc_id)),
s2 AS (SELECT s1.* FROM s1 JOIN gg USING (doc_id)),
s3 AS (SELECT s2.* FROM s2 JOIN fw USING (doc_id)),
s4 AS (SELECT s3.* FROM s3 JOIN bl USING (doc_id)),
mixh AS (
  SELECT doc_id, source, nt,
         md5(CAST(doc_id AS VARCHAR) || '|{_CUR_SALT}') AS h
  FROM s4
),
s5 AS (
  SELECT doc_id, source, nt FROM mixh
  WHERE {nib} % 1000000 < (CASE {whens} ELSE {_MIX_DEFAULT_U} END)
)
{rows}"""


QUERIES["q_curation_funnel"] = q_curation_funnel
ORACLES["q_curation_funnel"] = sql_curation_funnel


# --- wave 58: KNN-Shapley data valuation (Jia et al., VLDB 2019) ---

_SHAP_K = 5
_SHAP_SCALE = 1_000_000_000
_SHAP_TOP = 20


def q_knn_shapley(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Data valuation for training-set curation: the exact closed-form
    KNN-Shapley value (operators/similarity.knn_shapley, Jia et al.
    VLDB 2019) of every training vector for a {_SHAP_K}-NN classifier
    probed on the {_N_QUERIES} held-out query vectors, reported as the
    top-{_SHAP_TOP} most VALUABLE and most HARMFUL training points —
    the rank a curation loop acts on (keep/boost the first list, audit
    or drop the second).  Both global ranks are orderBy+limit
    (TakeOrderedAndProject), never a full sort of the valuation table.
    The oracle replays the identical recursion with window functions:
    per-term floored micro-units from single IEEE divisions, integer
    suffix sums, integer test-set sum."""
    from ..operators.similarity import knn_shapley

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _assert_embedding_dim(emb)
    test = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    train = emb.filter(F.col("vec_id") >= _N_QUERIES)
    tot = knn_shapley(train, test, k=_SHAP_K, scale=_SHAP_SCALE)

    def _side(bucket: str, order: list) -> "DataFrame":
        return (
            tot.orderBy(*order)
            .limit(_SHAP_TOP)
            .withColumn("brank", F.row_number().over(Window.orderBy(*order)))
            .select(
                F.lit(bucket).alias("bucket"),
                "vec_id",
                "shap_u",
                F.col("brank").cast("long").alias("brank"),
            )
        )

    val = _side("valuable", [F.col("shap_u").desc(), F.col("vec_id").asc()])
    harm = _side("harmful", [F.col("shap_u").asc(), F.col("vec_id").asc()])
    return val.unionByName(harm)


def sql_knn_shapley() -> str:
    dot = (
        "list_reduce(list_transform(range(1, len(q.e) + 1), "
        "i -> q.e[i] * t.e[i]), (a, b) -> a + b)"
    )
    nrm = "sqrt(list_reduce(list_transform({v}, x -> x * x), (a, b) -> a + b))"
    return f"""WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e, label
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, e, label AS q_label FROM vecs
      WHERE vec_id < {_N_QUERIES}),
t AS (SELECT vec_id, e, label FROM vecs WHERE vec_id >= {_N_QUERIES}),
scored AS (
  SELECT q.query_id, t.vec_id,
         CAST(floor(round({dot} / ({nrm.format(v="q.e")} * {nrm.format(v="t.e")}), 6)
                    * 1e6) AS BIGINT) AS cos_u,
         CASE WHEN t.label = q.q_label THEN 1 ELSE 0 END AS ind
  FROM q, t
),
ranked AS (
  SELECT query_id, vec_id, ind,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_u DESC, vec_id ASC) AS r,
         COUNT(*) OVER (PARTITION BY query_id) AS n
  FROM scored
),
terms AS (
  SELECT query_id, vec_id, r, ind, n,
         LEAD(ind) OVER (PARTITION BY query_id ORDER BY r) AS ind_nxt
  FROM ranked
),
tvals AS (
  SELECT query_id, vec_id, r,
         CASE WHEN ind_nxt IS NULL
              THEN CAST(floor({float(_SHAP_SCALE)} * ind / n) AS BIGINT)
              ELSE CAST(floor({float(_SHAP_SCALE)} * (ind - ind_nxt)
                              * LEAST({_SHAP_K}, r)
                              / ({_SHAP_K} * r)) AS BIGINT)
         END AS t
  FROM terms
),
svals AS (
  SELECT query_id, vec_id,
         SUM(t) OVER (PARTITION BY query_id ORDER BY r
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS s
  FROM tvals
),
total AS (
  SELECT vec_id, CAST(SUM(s) AS BIGINT) AS shap_u FROM svals GROUP BY vec_id
),
rk AS (
  SELECT vec_id, shap_u,
         ROW_NUMBER() OVER (ORDER BY shap_u DESC, vec_id ASC) AS vrank,
         ROW_NUMBER() OVER (ORDER BY shap_u ASC, vec_id ASC) AS hrank
  FROM total
)
SELECT 'valuable' AS bucket, vec_id, shap_u, CAST(vrank AS BIGINT) AS brank
FROM rk WHERE vrank <= {_SHAP_TOP}
UNION ALL
SELECT 'harmful' AS bucket, vec_id, shap_u, CAST(hrank AS BIGINT) AS brank
FROM rk WHERE hrank <= {_SHAP_TOP}"""


QUERIES["q_knn_shapley"] = q_knn_shapley
ORACLES["q_knn_shapley"] = sql_knn_shapley


# --- wave 59: two-stage ANN serving (PQ shortlist -> exact re-rank) ---

_RERANK_K = 5


def q_rerank_topk(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The production two-stage retrieval shape (FAISS / vector-DB
    serving): stage 1 takes the verified PQ/ADC top-{_TOPK_K}
    shortlist per query (q_pq_topk unchanged — compressed codes, no
    vector-width work), stage 2 fetches ONLY those candidates' full
    vectors through a keyed join and re-ranks them by exact cosine to
    the final top-{_RERANK_K}.  ``adc_rank`` is carried through so the
    output shows exactly how much the exact stage reorders the
    compressed stage.  Scale: the shortlist is queries*k rows
    (broadcast side of the fetch join) — the corpus is touched once by
    the code scan and once by a keyed fetch of k rows per query,
    never a second full scan.  Oracle: the verified sql_pq_topk text
    composed as a subquery + the sql_topk_cosine cosine fragments on
    the candidate pairs."""
    pq = q_pq_topk(spark, sf_dir).select(
        "query_id", "vec_id", F.col("rank").alias("adc_rank")
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cand = pq.join(
        emb.select("vec_id", F.col("embedding").alias("c_vec")), "vec_id"
    )
    qv = F.broadcast(
        emb.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_vec"),
        )
    )
    from ..operators.similarity import cosine

    scored = cand.join(qv, "query_id").select(
        "query_id",
        "vec_id",
        "adc_rank",
        F.floor(
            F.round(
                cosine(
                    F.col("q_vec").cast("array<double>"),
                    F.col("c_vec").cast("array<double>"),
                ),
                6,
            )
            * 1e6
        ).cast("long").alias("cos_u"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_u").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rerank", F.row_number().over(w))
        .filter(F.col("rerank") <= _RERANK_K)
        .select(
            "query_id",
            "vec_id",
            "cos_u",
            F.col("rerank").cast("long").alias("rerank"),
            F.col("adc_rank").cast("long").alias("adc_rank"),
        )
    )


def sql_rerank_topk() -> str:
    dot = (
        "list_reduce(list_transform(range(1, len(q.e) + 1), "
        "i -> q.e[i] * c.e[i]), (a, b) -> a + b)"
    )
    nrm = "sqrt(list_reduce(list_transform({v}, x -> x * x), (a, b) -> a + b))"
    return f"""WITH pq AS (
  SELECT query_id, vec_id, rank AS adc_rank FROM ({sql_pq_topk()})
),
fvecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, e FROM fvecs WHERE vec_id < {_N_QUERIES}),
c AS (SELECT pq.query_id, pq.vec_id, pq.adc_rank, fvecs.e
      FROM pq JOIN fvecs USING (vec_id)),
scored AS (
  SELECT c.query_id, c.vec_id, c.adc_rank,
         CAST(floor(round({dot} / ({nrm.format(v="q.e")} * {nrm.format(v="c.e")}), 6)
                    * 1e6) AS BIGINT) AS cos_u
  FROM c JOIN q ON q.query_id = c.query_id
),
ranked AS (
  SELECT query_id, vec_id, cos_u, adc_rank,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_u DESC, vec_id ASC) AS rerank
  FROM scored
)
SELECT query_id, vec_id, cos_u, CAST(rerank AS BIGINT) AS rerank,
       CAST(adc_rank AS BIGINT) AS adc_rank
FROM ranked WHERE rerank <= {_RERANK_K}"""


QUERIES["q_rerank_topk"] = q_rerank_topk
ORACLES["q_rerank_topk"] = sql_rerank_topk


# --- wave 60: Fellegi-Sunter record-linkage weights ---

_FS_LEN_BUCKET = 200
_FS_PREFIX = 24
_FS_SALT = "fs-u-pairing"
_FS_FIELDS = ("lang", "source", "len_bucket", "prefix")


def q_fs_linkage(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Fellegi-Sunter (JASA 1969) record-linkage weight estimation:
    per comparison field the match/non-match agreement probabilities
    m = P(agree | M) and u = P(agree | U) and the integer likelihood
    lift m/u that orders fields by discriminative power (the
    log-odds-free twin of the F-S weight, same PMI-style micro-unit
    ratio as q_collocations — no libm on either engine).  M is the
    verified MinHash-LSH pair set reused verbatim; U is the classic
    random-pairing estimator made deterministic and shuffle-light:
    docs are paired with their md5-neighbor INSIDE 256 hash buckets
    (no global sort, window per bucket), true matches anti-joined
    out.  Fields: lang, source, floor(n_chars/{_FS_LEN_BUCKET})
    bucket, first-{_FS_PREFIX}-char normalized prefix.  Scale: both
    pair sets are linear in n (banding join + one neighbor per doc);
    feature fetch is two keyed joins; one map-side-combined groupBy
    ends in a 4-row report."""
    from ..operators.dedup import minhash_lsh_pairs, norm_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feats = docs.select(
        "doc_id",
        "lang",
        "source",
        F.expr(f"n_chars div {_FS_LEN_BUCKET}").alias("len_b"),
        F.substring(norm_text(F.col("text")), 1, _FS_PREFIX).alias("pfx"),
    )
    m = minhash_lsh_pairs(
        docs, num_hashes=_MH_HASHES, bands=_MH_BANDS, k=_MH_K
    ).select("doc_id_a", "doc_id_b")

    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f"|{_FS_SALT}")))
    wb = Window.partitionBy("bkt").orderBy(F.col("h").asc(), F.col("doc_id").asc())
    hashed = docs.select("doc_id").withColumn("h", h).withColumn(
        "bkt", F.substring(F.col("h"), 1, 2)
    )
    neigh = hashed.select(
        "doc_id",
        F.row_number().over(wb).alias("rn"),
        F.lead("doc_id").over(wb).alias("nxt"),
    )
    u0 = neigh.filter(
        (F.col("rn") % 2 == 1) & F.col("nxt").isNotNull()
    ).select(
        F.least("doc_id", "nxt").alias("doc_id_a"),
        F.greatest("doc_id", "nxt").alias("doc_id_b"),
    )
    u = u0.join(m, ["doc_id_a", "doc_id_b"], "left_anti")
    labeled = m.withColumn("cls", F.lit("match")).unionByName(
        u.withColumn("cls", F.lit("nonmatch"))
    )
    fa = feats.select(
        F.col("doc_id").alias("fid_a"),
        *[F.col(c).alias(f"{c}_a") for c in feats.columns if c != "doc_id"],
    )
    fb = feats.select(
        F.col("doc_id").alias("fid_b"),
        *[F.col(c).alias(f"{c}_b") for c in feats.columns if c != "doc_id"],
    )
    flags = (
        labeled.join(fa, F.col("doc_id_a") == F.col("fid_a"))
        .join(fb, F.col("doc_id_b") == F.col("fid_b"))
        .select(
            "cls",
            F.when(F.col("lang_a") == F.col("lang_b"), 1).otherwise(0).alias("f_lang"),
            F.when(F.col("source_a") == F.col("source_b"), 1).otherwise(0).alias("f_source"),
            F.when(F.col("len_b_a") == F.col("len_b_b"), 1).otherwise(0).alias("f_len"),
            F.when(F.col("pfx_a") == F.col("pfx_b"), 1).otherwise(0).alias("f_prefix"),
        )
    )
    long = flags.select(
        "cls",
        F.expr(
            "stack(4, 'lang', f_lang, 'source', f_source, "
            "'len_bucket', f_len, 'prefix', f_prefix) AS (field, agree)"
        ),
    )
    agg = long.groupBy("field").agg(
        F.sum(F.when(F.col("cls") == "match", 1).otherwise(0)).cast("long").alias("n_m"),
        F.sum(F.when(F.col("cls") == "match", F.col("agree")).otherwise(0)).cast("long").alias("agree_m"),
        F.sum(F.when(F.col("cls") == "nonmatch", 1).otherwise(0)).cast("long").alias("n_u"),
        F.sum(F.when(F.col("cls") == "nonmatch", F.col("agree")).otherwise(0)).cast("long").alias("agree_u"),
    )
    return agg.select(
        "field",
        "n_m",
        "agree_m",
        "n_u",
        "agree_u",
        F.expr("CASE WHEN n_m > 0 THEN (agree_m * 1000000) div n_m ELSE 0 END")
        .cast("long").alias("m_u"),
        F.expr("CASE WHEN n_u > 0 THEN (agree_u * 1000000) div n_u ELSE 0 END")
        .cast("long").alias("u_u"),
    ).select(
        "*",
        F.expr("(m_u * 1000000) div GREATEST(u_u, 1)").cast("long").alias("lift_u"),
    )


def sql_fs_linkage() -> str:
    return f"""WITH {_minhash_cand_cte()},
feats AS (
  SELECT doc_id, lang, source,
         n_chars // {_FS_LEN_BUCKET} AS len_b,
         substr({_NORM.format(c="text")}, 1, {_FS_PREFIX}) AS pfx
  FROM documents
),
m AS (SELECT doc_id_a, doc_id_b FROM cand),
hashed AS (
  SELECT doc_id,
         md5(CAST(doc_id AS VARCHAR) || '|{_FS_SALT}') AS h
  FROM documents
),
neigh AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (PARTITION BY substr(h, 1, 2)
                            ORDER BY h ASC, doc_id ASC) AS rn,
         LEAD(doc_id) OVER (PARTITION BY substr(h, 1, 2)
                            ORDER BY h ASC, doc_id ASC) AS nxt
  FROM hashed
),
u0 AS (
  SELECT LEAST(doc_id, nxt) AS doc_id_a, GREATEST(doc_id, nxt) AS doc_id_b
  FROM neigh WHERE rn % 2 = 1 AND nxt IS NOT NULL
),
u AS (SELECT * FROM u0 ANTI JOIN m USING (doc_id_a, doc_id_b)),
labeled AS (
  SELECT doc_id_a, doc_id_b, 'match' AS cls FROM m
  UNION ALL
  SELECT doc_id_a, doc_id_b, 'nonmatch' AS cls FROM u
),
flags AS (
  SELECT l.cls,
         CASE WHEN fa.lang = fb.lang THEN 1 ELSE 0 END AS f_lang,
         CASE WHEN fa.source = fb.source THEN 1 ELSE 0 END AS f_source,
         CASE WHEN fa.len_b = fb.len_b THEN 1 ELSE 0 END AS f_len,
         CASE WHEN fa.pfx = fb.pfx THEN 1 ELSE 0 END AS f_prefix
  FROM labeled l
  JOIN feats fa ON fa.doc_id = l.doc_id_a
  JOIN feats fb ON fb.doc_id = l.doc_id_b
),
long AS (
  SELECT cls, 'lang' AS field, f_lang AS agree FROM flags
  UNION ALL SELECT cls, 'source', f_source FROM flags
  UNION ALL SELECT cls, 'len_bucket', f_len FROM flags
  UNION ALL SELECT cls, 'prefix', f_prefix FROM flags
),
agg AS (
  SELECT field,
         SUM(CASE WHEN cls = 'match' THEN 1 ELSE 0 END) AS n_m,
         SUM(CASE WHEN cls = 'match' THEN agree ELSE 0 END) AS agree_m,
         SUM(CASE WHEN cls = 'nonmatch' THEN 1 ELSE 0 END) AS n_u,
         SUM(CASE WHEN cls = 'nonmatch' THEN agree ELSE 0 END) AS agree_u
  FROM long GROUP BY field
),
ratios AS (
  SELECT field,
         CAST(n_m AS BIGINT) AS n_m, CAST(agree_m AS BIGINT) AS agree_m,
         CAST(n_u AS BIGINT) AS n_u, CAST(agree_u AS BIGINT) AS agree_u,
         CAST(CASE WHEN n_m > 0 THEN (agree_m * 1000000) // n_m ELSE 0 END AS BIGINT) AS m_u,
         CAST(CASE WHEN n_u > 0 THEN (agree_u * 1000000) // n_u ELSE 0 END AS BIGINT) AS u_u
  FROM agg
)
SELECT field, n_m, agree_m, n_u, agree_u, m_u, u_u,
       CAST((m_u * 1000000) // GREATEST(u_u, 1) AS BIGINT) AS lift_u
FROM ratios"""


QUERIES["q_fs_linkage"] = q_fs_linkage
ORACLES["q_fs_linkage"] = sql_fs_linkage


# --- wave 61: l-diversity audit ---

_LDIV_L = 3
_LDIV_LEN_BUCKET = 500


def q_l_diversity(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """l-diversity audit (Machanavajjhala et al., TKDD 2007) — the
    stronger release gate k-anonymity misses: a quasi-identifier group
    can be large yet expose its members if the SENSITIVE attribute is
    (near-)constant inside it.  QI = (source, floor(n_chars/{_LDIV_LEN_BUCKET}))
    — the k-anonymity-style release key; sensitive = lang.  Reports
    group counts, groups/rows below l={_LDIV_L} distinct sensitive
    values, the corpus-wide minimum diversity, and the at-risk row
    share in micro-units.  Same shape as q_k_anonymity: one
    map-side-combined groupBy, then a group-count-sized aggregate —
    nothing scales with row width."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    grp = docs.groupBy(
        "source", F.expr(f"n_chars div {_LDIV_LEN_BUCKET}").alias("len_b")
    ).agg(
        F.count("*").cast("long").alias("c"),
        F.countDistinct("lang").cast("long").alias("d"),
    )
    agg = grp.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.sum(F.when(F.col("d") < _LDIV_L, 1).otherwise(0))
        .cast("long").alias("n_weak_groups"),
        F.sum(F.when(F.col("d") < _LDIV_L, F.col("c")).otherwise(0))
        .cast("long").alias("n_weak_rows"),
        F.min("d").cast("long").alias("min_diversity"),
        F.sum("c").cast("long").alias("n_rows"),
    )
    return agg.select(
        "n_groups",
        "n_weak_groups",
        "n_weak_rows",
        "min_diversity",
        F.expr(
            "CASE WHEN n_rows > 0 THEN (n_weak_rows * 1000000) div n_rows"
            " ELSE 0 END"
        ).cast("long").alias("weak_share_u"),
    )


def sql_l_diversity() -> str:
    return f"""WITH grp AS (
  SELECT source, n_chars // {_LDIV_LEN_BUCKET} AS len_b,
         COUNT(*) AS c, COUNT(DISTINCT lang) AS d
  FROM documents GROUP BY 1, 2
),
agg AS (
  SELECT COUNT(*) AS n_groups,
         SUM(CASE WHEN d < {_LDIV_L} THEN 1 ELSE 0 END) AS n_weak_groups,
         SUM(CASE WHEN d < {_LDIV_L} THEN c ELSE 0 END) AS n_weak_rows,
         MIN(d) AS min_diversity,
         SUM(c) AS n_rows
  FROM grp
)
SELECT CAST(n_groups AS BIGINT) AS n_groups,
       CAST(n_weak_groups AS BIGINT) AS n_weak_groups,
       CAST(n_weak_rows AS BIGINT) AS n_weak_rows,
       CAST(min_diversity AS BIGINT) AS min_diversity,
       CAST(CASE WHEN n_rows > 0
                 THEN (n_weak_rows * 1000000) // n_rows
                 ELSE 0 END AS BIGINT) AS weak_share_u
FROM agg"""


QUERIES["q_l_diversity"] = q_l_diversity
ORACLES["q_l_diversity"] = sql_l_diversity


# --- wave 62: staged dedup cascade accounting ---

_CASCADE_STAGES = ("1_exact", "2_simhash", "3_minhash")


def q_dedup_cascade(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The production dedup CASCADE, cheapest-first, with per-stage
    survivor accounting: (1) exact content digest (one groupBy), then
    (2) SimHash near-dups over the exact survivors (signature
    blocking), then (3) MinHash-LSH over what's left (shingle
    banding).  Each stage only charges removals where BOTH pair
    endpoints are still alive entering that stage (pairs whose
    canonical twin already died are NOT double-counted), using the
    deterministic keep-smaller-id rule; pair relations are the
    verified q_simhash_pairs / q_minhash_lsh_pairs legs reused
    verbatim.  This ordering is what makes 100 TB dedup affordable:
    each expensive stage sees only the prior stage's survivors, and
    the report shows exactly how much each stage still buys.  Output:
    (stage, stage_ord, n_in, n_removed, n_out) — 3 rows at any
    scale."""
    from ..operators.dedup import doc_digest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    dig = docs.select("doc_id", doc_digest(F.col("text")).alias("digest"))
    wd = Window.partitionBy("digest").orderBy("doc_id")
    ex_rm = (
        dig.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") > 1)
        .select("doc_id")
    )
    s0 = docs.select("doc_id")
    s1 = s0.join(ex_rm, "doc_id", "left_anti")

    def _pair_removals(pairs: "DataFrame", alive: "DataFrame") -> "DataFrame":
        return (
            pairs.join(
                alive.select(F.col("doc_id").alias("doc_id_a")),
                "doc_id_a",
                "left_semi",
            )
            .join(
                alive.select(F.col("doc_id").alias("doc_id_b")),
                "doc_id_b",
                "left_semi",
            )
            .select(F.col("doc_id_b").alias("doc_id"))
            .distinct()
        )

    from ..operators.dedup import minhash_lsh_pairs, simhash_pairs

    sh_rm = _pair_removals(
        simhash_pairs(docs, max_hamming=3).select("doc_id_a", "doc_id_b"), s1
    )
    s2 = s1.join(sh_rm, "doc_id", "left_anti")
    mh_rm = _pair_removals(
        minhash_lsh_pairs(
            docs, num_hashes=_MH_HASHES, bands=_MH_BANDS, k=_MH_K
        ).select("doc_id_a", "doc_id_b"),
        s2,
    )

    def _stage_row(name: str, ord_: int, df_in, df_rm) -> "DataFrame":
        a = df_in.agg(F.count("*").cast("long").alias("n_in"))
        b = df_rm.agg(F.count("*").cast("long").alias("n_removed"))
        return a.crossJoin(b).select(
            F.lit(name).alias("stage"),
            F.lit(ord_).cast("long").alias("stage_ord"),
            "n_in",
            "n_removed",
            (F.col("n_in") - F.col("n_removed")).cast("long").alias("n_out"),
        )

    return (
        _stage_row("1_exact", 1, s0, ex_rm)
        .unionByName(_stage_row("2_simhash", 2, s1, sh_rm))
        .unionByName(_stage_row("3_minhash", 3, s2, mh_rm))
    )


def sql_dedup_cascade() -> str:
    return f"""WITH {_minhash_cand_cte()},
sh_pairs AS (SELECT doc_id_a, doc_id_b FROM ({sql_simhash_pairs()})),
mh_pairs AS (SELECT doc_id_a, doc_id_b FROM cand),
dig AS (SELECT doc_id, md5({_NORM.format(c="text")}) AS digest FROM documents),
ex_rm AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
    FROM dig)
  WHERE rn > 1
),
s0 AS (SELECT doc_id FROM documents),
s1 AS (SELECT doc_id FROM s0 ANTI JOIN ex_rm USING (doc_id)),
sh_rm AS (
  SELECT DISTINCT p.doc_id_b AS doc_id FROM sh_pairs p
  JOIN s1 a ON a.doc_id = p.doc_id_a
  JOIN s1 b ON b.doc_id = p.doc_id_b
),
s2 AS (SELECT doc_id FROM s1 ANTI JOIN sh_rm USING (doc_id)),
mh_rm AS (
  SELECT DISTINCT p.doc_id_b AS doc_id FROM mh_pairs p
  JOIN s2 a ON a.doc_id = p.doc_id_a
  JOIN s2 b ON b.doc_id = p.doc_id_b
)
SELECT '1_exact' AS stage, CAST(1 AS BIGINT) AS stage_ord,
       CAST((SELECT COUNT(*) FROM s0) AS BIGINT) AS n_in,
       CAST((SELECT COUNT(*) FROM ex_rm) AS BIGINT) AS n_removed,
       CAST((SELECT COUNT(*) FROM s0) - (SELECT COUNT(*) FROM ex_rm)
            AS BIGINT) AS n_out
UNION ALL
SELECT '2_simhash', CAST(2 AS BIGINT),
       CAST((SELECT COUNT(*) FROM s1) AS BIGINT),
       CAST((SELECT COUNT(*) FROM sh_rm) AS BIGINT),
       CAST((SELECT COUNT(*) FROM s1) - (SELECT COUNT(*) FROM sh_rm)
            AS BIGINT)
UNION ALL
SELECT '3_minhash', CAST(3 AS BIGINT),
       CAST((SELECT COUNT(*) FROM s2) AS BIGINT),
       CAST((SELECT COUNT(*) FROM mh_rm) AS BIGINT),
       CAST((SELECT COUNT(*) FROM s2) - (SELECT COUNT(*) FROM mh_rm)
            AS BIGINT)"""


QUERIES["q_dedup_cascade"] = q_dedup_cascade
ORACLES["q_dedup_cascade"] = sql_dedup_cascade


# --- wave 63: pairwise two-sample KS drift over sources ---

_KS_TOP_SOURCES = 4


def q_ks_drift(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Exact two-sample Kolmogorov-Smirnov statistic between the
    document-length (n_chars) distributions of every pair of the
    top-{_KS_TOP_SOURCES} sources — the distribution-free drift test
    for 'did this crawl source change shape', next to the
    moment-based q_corpus_drift / q_cusum_drift.  Exact integer
    arithmetic throughout: D = max_v |F_a(v) - F_b(v)| is evaluated as
    max |cum_a(v)*n_b - cum_b(v)*n_a| over the pair's DISTINCT values
    (ECDFs only move at sample points, and grouping by value first
    makes ties well-defined), reported as (max_num * 1e6) div
    (n_a*n_b).  Scale: per-(source, value) pre-aggregation shrinks the
    window input to distinct lengths; cumsums are windows PARTITIONED
    per pair (no global sort); the top-K source cap bounds the pair
    fanout — with more sources the production path runs the same max
    over the registered quantile sketch instead."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cnt = docs.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    top = F.broadcast(
        cnt.orderBy(F.col("n").desc(), F.col("source").asc())
        .limit(_KS_TOP_SOURCES)
    )
    a = top.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    b = top.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    pairs = a.join(b, F.col("source_a") < F.col("source_b"))
    byval = docs.groupBy("source", "n_chars").agg(
        F.count("*").cast("long").alias("k")
    )
    va = byval.join(pairs, byval["source"] == pairs["source_a"]).select(
        "source_a", "source_b", "n_a", "n_b", "n_chars",
        F.col("k").alias("k1"), F.lit(0).cast("long").alias("k2"),
    )
    vb = byval.join(pairs, byval["source"] == pairs["source_b"]).select(
        "source_a", "source_b", "n_a", "n_b", "n_chars",
        F.lit(0).cast("long").alias("k1"), F.col("k").alias("k2"),
    )
    v = va.unionByName(vb).groupBy(
        "source_a", "source_b", "n_a", "n_b", "n_chars"
    ).agg(F.sum("k1").alias("c1"), F.sum("k2").alias("c2"))
    wc = (
        Window.partitionBy("source_a", "source_b")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = v.select(
        "source_a", "source_b", "n_a", "n_b",
        F.sum("c1").over(wc).alias("cum1"),
        F.sum("c2").over(wc).alias("cum2"),
    )
    ks = cum.groupBy("source_a", "source_b", "n_a", "n_b").agg(
        F.max(
            F.abs(F.col("cum1") * F.col("n_b") - F.col("cum2") * F.col("n_a"))
        ).alias("max_num")
    )
    return ks.select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        F.expr("(max_num * 1000000) div (n_a * n_b)")
        .cast("long").alias("ks_u"),
    )


def sql_ks_drift() -> str:
    return f"""WITH cnt AS (
  SELECT source, COUNT(*) AS n FROM documents GROUP BY source
),
top AS (
  SELECT source, n FROM cnt ORDER BY n DESC, source ASC
  LIMIT {_KS_TOP_SOURCES}
),
pairs AS (
  SELECT a.source AS source_a, a.n AS n_a, b.source AS source_b, b.n AS n_b
  FROM top a JOIN top b ON a.source < b.source
),
byval AS (
  SELECT source, n_chars, COUNT(*) AS k FROM documents GROUP BY 1, 2
),
v AS (
  SELECT source_a, source_b, n_a, n_b, n_chars,
         SUM(k1) AS c1, SUM(k2) AS c2
  FROM (
    SELECT p.source_a, p.source_b, p.n_a, p.n_b, bv.n_chars,
           bv.k AS k1, 0 AS k2
    FROM byval bv JOIN pairs p ON bv.source = p.source_a
    UNION ALL
    SELECT p.source_a, p.source_b, p.n_a, p.n_b, bv.n_chars,
           0 AS k1, bv.k AS k2
    FROM byval bv JOIN pairs p ON bv.source = p.source_b
  ) GROUP BY 1, 2, 3, 4, 5
),
cum AS (
  SELECT source_a, source_b, n_a, n_b,
         CAST(SUM(c1) OVER (PARTITION BY source_a, source_b ORDER BY n_chars
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum1,
         CAST(SUM(c2) OVER (PARTITION BY source_a, source_b ORDER BY n_chars
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum2
  FROM v
),
ks AS (
  SELECT source_a, source_b, n_a, n_b,
         MAX(abs(cum1 * n_b - cum2 * n_a)) AS max_num
  FROM cum GROUP BY 1, 2, 3, 4
)
SELECT source_a, source_b, CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST((max_num * 1000000) // (n_a * n_b) AS BIGINT) AS ks_u
FROM ks"""


QUERIES["q_ks_drift"] = q_ks_drift
ORACLES["q_ks_drift"] = sql_ks_drift


# --- wave 64: Good-Turing unseen-mass estimate per source ---


def q_good_turing(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-source Good-Turing missing-mass estimate (Good 1953; the
    simple estimator P0 = N1/N): how much probability mass each crawl
    source assigns to token types it has NOT shown yet — the
    'keep crawling this source?' signal that complements
    q_vocab_saturation's growth curve with a closed-form one-scan
    answer.  Reports token count N, vocabulary V, hapax/dis legomena
    N1/N2 and the unseen mass in micro-units ((N1*1e6) div N — exact
    rational, no libm).  Scale: one groupBy(source, token) with
    map-side combine, then a source-count-sized rollup; nothing holds
    state wider than a token row."""
    from ..operators.dedup import norm_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "source",
        F.explode(F.split(norm_text(F.col("text")), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    tc = toks.groupBy("source", "tok").agg(F.count("*").alias("c"))
    agg = tc.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long").alias("n2"),
    )
    return agg.select(
        "source",
        "n_tokens",
        "vocab",
        "n1",
        "n2",
        F.expr(
            "CASE WHEN n_tokens > 0 THEN (n1 * 1000000) div n_tokens"
            " ELSE 0 END"
        ).cast("long").alias("unseen_mass_u"),
    )


def sql_good_turing() -> str:
    toks = _TOKS.format(c="text")
    return f"""WITH tok AS (
  SELECT source, unnest({toks}) AS tok FROM documents
),
tc AS (
  SELECT source, tok, COUNT(*) AS c FROM tok WHERE tok <> '' GROUP BY 1, 2
),
agg AS (
  SELECT source,
         SUM(c) AS n_tokens,
         COUNT(*) AS vocab,
         SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS n2
  FROM tc GROUP BY source
)
SELECT source,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(vocab AS BIGINT) AS vocab,
       CAST(n1 AS BIGINT) AS n1,
       CAST(n2 AS BIGINT) AS n2,
       CAST(CASE WHEN n_tokens > 0 THEN (n1 * 1000000) // n_tokens
                 ELSE 0 END AS BIGINT) AS unseen_mass_u
FROM agg"""


QUERIES["q_good_turing"] = q_good_turing
ORACLES["q_good_turing"] = sql_good_turing


# --- wave 65: MMR diversified re-ranking ---

_MMR_K = 5


def q_mmr_rerank(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Maximal-Marginal-Relevance result diversification (Carbonell &
    Goldstein, SIGIR 1998) over the verified exact top-{_TOPK_K}
    candidates: greedily pick {_MMR_K} results per query maximizing
    relevance MINUS similarity-to-already-picked (lambda = 1/2, so the
    argmax of rel_u - maxsim_u is the exact MMR order without any
    division).  The greedy rounds are UNROLLED as {_MMR_K} fixed
    DataFrame stages over the bounded candidate set — the same
    bounded-iteration shape as the Lloyd/PageRank chains, and the
    oracle replays the identical rounds as a CTE chain.  All scores
    are the floor(round(cos,6)*1e6) integers, ties to smaller vec_id,
    so every round's argmax is total-ordered on both engines.  Scale:
    candidates are queries x k rows (broadcast-sized); the pairwise
    candidate-sim table is queries x k^2; nothing touches the corpus
    beyond the verified top-k leg.  Output: (query_id, vec_id,
    mmr_rank, rel_u, maxsim_u) — maxsim_u is the similarity to the
    closest already-picked result at selection time (0 for rank 1)."""
    from ..operators.similarity import cosine

    # the unrolled rounds reference cand/sims ~2x per round — pin both
    # (queries*k rows) so the brute-force top-k leg runs ONCE, not 10x
    cand = q_topk_cosine(spark, sf_dir).select(
        "query_id", "vec_id", F.col("cos_u").alias("rel")
    ).localCheckpoint(eager=False)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cv = cand.join(emb, "vec_id").select(
        "query_id", "vec_id", F.col("embedding").alias("v")
    )
    c1 = cv.select(
        "query_id", F.col("vec_id").alias("a"), F.col("v").alias("va")
    )
    c2 = cv.select(
        F.col("query_id").alias("query_id2"),
        F.col("vec_id").alias("b"),
        F.col("v").alias("vb"),
    )
    sims = (
        c1.join(
            c2,
            (F.col("query_id") == F.col("query_id2")) & (F.col("a") != F.col("b")),
        )
        .select(
            "query_id",
            "a",
            "b",
            F.floor(
                F.round(
                    cosine(
                        F.col("va").cast("array<double>"),
                        F.col("vb").cast("array<double>"),
                    ),
                    6,
                )
                * 1e6
            ).cast("long").alias("sim"),
        )
    ).localCheckpoint(eager=False)

    wq = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("vec_id").asc()
    )
    sel = (
        cand.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            "vec_id",
            "rel",
            F.lit(0).cast("long").alias("maxsim"),
            F.lit(1).cast("long").alias("mmr_rank"),
        )
    )
    simsr = sims.select(
        F.col("query_id").alias("s_qid"), "a", "b", "sim"
    )
    for r in range(2, _MMR_K + 1):
        rem = cand.join(sel, ["query_id", "vec_id"], "left_anti")
        ms = (
            rem.join(
                simsr,
                (F.col("query_id") == F.col("s_qid"))
                & (F.col("vec_id") == F.col("a")),
            )
            .join(
                sel.select(
                    F.col("query_id").alias("sq"), F.col("vec_id").alias("sv")
                ),
                (F.col("s_qid") == F.col("sq")) & (F.col("b") == F.col("sv")),
            )
            .groupBy("query_id", "vec_id", "rel")
            .agg(F.max("sim").alias("maxsim"))
        )
        wr = Window.partitionBy("query_id").orderBy(
            (F.col("rel") - F.col("maxsim")).desc(), F.col("vec_id").asc()
        )
        pick = (
            ms.withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") == 1)
            .select(
                "query_id",
                "vec_id",
                "rel",
                F.col("maxsim").cast("long").alias("maxsim"),
                F.lit(r).cast("long").alias("mmr_rank"),
            )
        )
        sel = sel.unionByName(pick)
    return sel.select(
        "query_id",
        "vec_id",
        "mmr_rank",
        F.col("rel").alias("rel_u"),
        F.col("maxsim").alias("maxsim_u"),
    )


def sql_mmr_rerank() -> str:
    dot = (
        "list_reduce(list_transform(range(1, len(x.e) + 1), "
        "i -> x.e[i] * y.e[i]), (a, b) -> a + b)"
    )
    nrm = "sqrt(list_reduce(list_transform({v}, x -> x * x), (a, b) -> a + b))"
    parts = [f"""cand AS (
  SELECT query_id, vec_id, cos_u AS rel FROM ({sql_topk_cosine()})
),
cvec AS (
  SELECT c.query_id, c.vec_id,
         list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM cand c JOIN embeddings e USING (vec_id)
),
sims AS (
  SELECT x.query_id, x.vec_id AS a, y.vec_id AS b,
         CAST(floor(round({dot} / ({nrm.format(v="x.e")} * {nrm.format(v="y.e")}), 6)
                    * 1e6) AS BIGINT) AS sim
  FROM cvec x JOIN cvec y
    ON x.query_id = y.query_id AND x.vec_id <> y.vec_id
),
sel1 AS (
  SELECT query_id, vec_id, rel, CAST(0 AS BIGINT) AS maxsim,
         CAST(1 AS BIGINT) AS mmr_rank
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY rel DESC, vec_id ASC) AS rn
        FROM cand) WHERE rn = 1
),
selu1 AS (SELECT * FROM sel1)"""]
    for r in range(2, _MMR_K + 1):
        parts.append(f"""rem{r} AS (
  SELECT c.query_id, c.vec_id, c.rel FROM cand c
  ANTI JOIN selu{r - 1} s USING (query_id, vec_id)
),
ms{r} AS (
  SELECT m.query_id, m.vec_id, m.rel, MAX(s.sim) AS maxsim
  FROM rem{r} m
  JOIN sims s ON s.query_id = m.query_id AND s.a = m.vec_id
  JOIN selu{r - 1} t ON t.query_id = s.query_id AND t.vec_id = s.b
  GROUP BY 1, 2, 3
),
sel{r} AS (
  SELECT query_id, vec_id, rel, CAST(maxsim AS BIGINT) AS maxsim,
         CAST({r} AS BIGINT) AS mmr_rank
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY rel - maxsim DESC, vec_id ASC)
               AS rn
        FROM ms{r}) WHERE rn = 1
),
selu{r} AS MATERIALIZED (SELECT * FROM selu{r - 1} UNION ALL SELECT * FROM sel{r})""")
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT query_id, vec_id, mmr_rank, rel AS rel_u, maxsim AS maxsim_u
FROM selu{_MMR_K}"""


QUERIES["q_mmr_rerank"] = q_mmr_rerank
ORACLES["q_mmr_rerank"] = sql_mmr_rerank


# --- wave 66: MaxScore/WAND upper-bound pruning audit ---


def q_maxscore_prune(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """MaxScore/WAND-style candidate pruning audit (Turtle & Flood
    1995; Broder et al. 2003) for the integer BM25 index: per query
    term the index stores its MAX per-doc contribution U(t); a doc
    whose sum of matching-term upper bounds cannot reach the exact
    k-th score theta is skipped without full scoring — the dominant
    serving optimization for disjunctive top-k retrieval.  This query
    measures exactly how much the bound buys on this corpus AND
    proves admissibility in-band: n_topk_pruned counts exact top-k
    docs the bound would have skipped, which must be 0 because
    UB(d) >= score(d) >= theta for every top-k doc.  Per-term
    contributions come from operators/search.bm25_contribs — the SAME
    table q_bm25_topk sums, so the two queries share one formula.
    Scale: U(t) is a |terms|-row broadcast, theta a 1-row broadcast;
    the audit adds two map-side-combined aggregates over the posting
    join, nothing corpus-quadratic."""
    from ..operators.search import bm25_contribs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    contribs = bm25_contribs(
        docs,
        _BM25_TERMS,
        scale=_BM25_SCALE,
        k1_u=_BM25_K1_U,
        b_u=_BM25_B_U,
        idf_cap_u=_BM25_IDF_CAP_U,
    )
    umax = contribs.groupBy("t").agg(F.max("contrib_u").alias("u"))
    scores = contribs.groupBy("doc_id").agg(
        F.sum("contrib_u").alias("score_u")
    )
    topk = scores.orderBy(F.col("score_u").desc(), F.col("doc_id")).limit(
        _BM25_TOPK
    )
    theta = topk.agg(
        F.coalesce(F.min("score_u"), F.lit(0)).cast("long").alias("theta_u")
    )
    ub = contribs.join(F.broadcast(umax), "t").groupBy("doc_id").agg(
        F.sum("u").alias("ub_u")
    )
    flags = ub.crossJoin(F.broadcast(theta)).select(
        "doc_id",
        "theta_u",
        F.when(F.col("ub_u") < F.col("theta_u"), 1).otherwise(0).alias("pruned"),
    )
    tk = topk.select("doc_id", F.lit(1).alias("in_topk"))
    fl = flags.join(tk, "doc_id", "left")
    agg = fl.agg(
        F.count("*").cast("long").alias("n_candidates"),
        F.sum("pruned").cast("long").alias("n_pruned"),
        F.max("theta_u").cast("long").alias("theta_max"),
        F.sum(F.col("pruned") * F.coalesce(F.col("in_topk"), F.lit(0)))
        .cast("long").alias("n_topk_pruned"),
    )
    return agg.select(
        "n_candidates",
        F.coalesce(F.col("n_pruned"), F.lit(0)).cast("long").alias("n_pruned"),
        (F.col("n_candidates") - F.coalesce(F.col("n_pruned"), F.lit(0)))
        .cast("long").alias("n_survivors"),
        F.coalesce(F.col("theta_max"), F.lit(0)).cast("long").alias("theta_u"),
        F.coalesce(F.col("n_topk_pruned"), F.lit(0)).cast("long")
        .alias("n_topk_pruned"),
        F.expr(
            "CASE WHEN n_candidates > 0 THEN "
            "(COALESCE(n_pruned, 0) * 1000000) div n_candidates ELSE 0 END"
        ).cast("long").alias("prune_share_u"),
    )


def sql_maxscore_prune() -> str:
    s, k1, b, cap = _BM25_SCALE, _BM25_K1_U, _BM25_B_U, _BM25_IDF_CAP_U
    c2 = (k1 * b) // s
    c1 = k1 - c2
    toks = _TOKS.format(c="text")
    in_list = ", ".join(_sql_str(t) for t in sorted(set(_BM25_TERMS)))
    return f"""WITH base AS (
  SELECT doc_id, {toks} AS toks,
         CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({toks}) END AS dl
  FROM documents
),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM base),
tf AS (
  SELECT doc_id, dl, t, COUNT(*) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS t FROM base)
  WHERE t IN ({in_list})
  GROUP BY doc_id, dl, t
),
dfq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
contribs AS (
  SELECT doc_id, t,
         (LEAST(((n_docs - df + 1) * {s}) // (df + 1), {cap})
          * ((tf * {k1 + s} * {s})
             // (tf * {s} + {c1} + ({c2} * dl) // GREATEST(1, total_dl // n_docs)))
         ) // {s} AS contrib_u
  FROM tf JOIN dfq USING (t) CROSS JOIN stats
),
umax AS (SELECT t, MAX(contrib_u) AS u FROM contribs GROUP BY t),
scores AS (
  SELECT doc_id, SUM(contrib_u) AS score_u FROM contribs GROUP BY doc_id
),
topk AS (
  SELECT doc_id, score_u FROM scores
  ORDER BY score_u DESC, doc_id LIMIT {_BM25_TOPK}
),
theta AS (SELECT COALESCE(MIN(score_u), 0) AS theta_u FROM topk),
ub AS (
  SELECT c.doc_id, SUM(u.u) AS ub_u
  FROM contribs c JOIN umax u USING (t) GROUP BY c.doc_id
),
flags AS (
  SELECT ub.doc_id, theta.theta_u,
         CASE WHEN ub.ub_u < theta.theta_u THEN 1 ELSE 0 END AS pruned
  FROM ub CROSS JOIN theta
),
fl AS (
  SELECT f.*, CASE WHEN t.doc_id IS NULL THEN 0 ELSE 1 END AS in_topk
  FROM flags f LEFT JOIN topk t ON t.doc_id = f.doc_id
),
agg AS (
  SELECT COUNT(*) AS n_candidates,
         COALESCE(SUM(pruned), 0) AS n_pruned,
         COALESCE(MAX(theta_u), 0) AS theta_max,
         COALESCE(SUM(pruned * in_topk), 0) AS n_topk_pruned
  FROM fl
)
SELECT CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_pruned AS BIGINT) AS n_pruned,
       CAST(n_candidates - n_pruned AS BIGINT) AS n_survivors,
       CAST(theta_max AS BIGINT) AS theta_u,
       CAST(n_topk_pruned AS BIGINT) AS n_topk_pruned,
       CAST(CASE WHEN n_candidates > 0
                 THEN (n_pruned * 1000000) // n_candidates
                 ELSE 0 END AS BIGINT) AS prune_share_u
FROM agg"""


QUERIES["q_maxscore_prune"] = q_maxscore_prune
ORACLES["q_maxscore_prune"] = sql_maxscore_prune


# --- wave 67: Zipf rank-frequency slope per source ---

_ZIPF_FIT_RANKS = 1024


def q_zipf_slope(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-source Zipf's-law fit: the least-squares slope of
    (log2 rank, log2 freq) over each source's top-{_ZIPF_FIT_RANKS}
    token ranks — natural text sits near -1e6 micro-units (slope -1);
    boilerplate/spam/template sources flatten or steepen, making this
    the one-number 'does this source look like language' screen next
    to q_ngram_diversity.  Completely libm-free: both logs are the
    INTEGER bit-length floor log2 (length(bin(x)) - 1, the
    q_adamic_adar device) and the slope is the exact integer
    least-squares ratio (n*Sxy - Sx*Sy) * 1e6 div (n*Sxx - Sx*Sx)
    (both engines truncate integer division toward zero).  The
    rank-1024 cap both matches standard practice (fit the head, not
    the hapax tail) and bounds every sum far below int64.  Scale: one
    (source, token) groupBy, a per-source rank window over vocab-sized
    input, then a source-count-sized rollup."""
    from ..operators.dedup import norm_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "source",
        F.explode(F.split(norm_text(F.col("text")), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    tc = toks.groupBy("source", "tok").agg(F.count("*").alias("c"))
    wr = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("tok").asc()
    )
    ranked = tc.withColumn("r", F.row_number().over(wr))
    vocab = tc.groupBy("source").agg(F.count("*").cast("long").alias("n_types"))
    fit = (
        ranked.filter(F.col("r") <= _ZIPF_FIT_RANKS)
        .select(
            "source",
            F.expr("length(bin(r)) - 1").cast("long").alias("x"),
            F.expr("length(bin(c)) - 1").cast("long").alias("y"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_fit"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
    )
    out = fit.join(vocab, "source").select(
        "source",
        "n_types",
        "n_fit",
        F.expr(
            "CASE WHEN n_fit * sxx - sx * sx > 0 THEN "
            "((n_fit * sxy - sx * sy) * 1000000) div (n_fit * sxx - sx * sx) "
            "ELSE 0 END"
        ).cast("long").alias("zipf_slope_u"),
    )
    return out


def sql_zipf_slope() -> str:
    toks = _TOKS.format(c="text")
    return f"""WITH tok AS (
  SELECT source, unnest({toks}) AS tok FROM documents
),
tc AS (
  SELECT source, tok, COUNT(*) AS c FROM tok WHERE tok <> '' GROUP BY 1, 2
),
ranked AS (
  SELECT source, c,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY c DESC, tok ASC) AS r
  FROM tc
),
vocab AS (SELECT source, COUNT(*) AS n_types FROM tc GROUP BY source),
fit AS (
  SELECT source,
         COUNT(*) AS n_fit,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM (
    SELECT source,
           length(bin(r)) - 1 AS x,
           length(bin(c)) - 1 AS y
    FROM ranked WHERE r <= {_ZIPF_FIT_RANKS}
  ) GROUP BY source
)
SELECT f.source,
       CAST(v.n_types AS BIGINT) AS n_types,
       CAST(f.n_fit AS BIGINT) AS n_fit,
       CAST(CASE WHEN f.n_fit * f.sxx - f.sx * f.sx > 0 THEN
                 ((f.n_fit * f.sxy - f.sx * f.sy) * 1000000)
                 // (f.n_fit * f.sxx - f.sx * f.sx)
                 ELSE 0 END AS BIGINT) AS zipf_slope_u
FROM fit f JOIN vocab v USING (source)"""


QUERIES["q_zipf_slope"] = q_zipf_slope
ORACLES["q_zipf_slope"] = sql_zipf_slope


# --- wave 68: quality-derived mixture reweighting ---


def q_quality_mixture(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Data-derived mixture reweighting (the DoReMi-lite / quality-
    proportional sampling recipe): per-source mean quality becomes the
    sampling weight, the CURRENT total token budget is reallocated
    proportionally, and epochs_u reports the implied up/down-sampling
    factor per source (alloc div its own tokens, in micro-units —
    >1e6 means repeat, <1e6 means subsample).  This is the bridge
    from the per-doc quality signal (q_quality, reused as the same
    column expression) to the mixture sampler (q_temperature_mix /
    q_mixture_sample) with weights LEARNED from the data instead of
    configured.  Exact integer arithmetic: mean = sum_q div n_docs,
    weight_u = (mean * 1e6) div sum-of-means, alloc = (budget * mean)
    div sum-of-means.  Scale: one scan + source-sized rollup; the
    totals are a 1-row broadcast."""
    from ..functions.text import quality_score_u

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = docs.select(
        "source",
        quality_score_u(F.col("text")).alias("q"),
        token_count(F.col("text")).alias("nt"),
    )
    per = q.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("n_tokens"),
        F.sum("q").cast("long").alias("sq"),
    ).select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr("sq div n_docs").cast("long").alias("mean_quality_u"),
    )
    tot = per.agg(
        F.sum("mean_quality_u").cast("long").alias("tmq"),
        F.sum("n_tokens").cast("long").alias("budget"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        "mean_quality_u",
        F.expr(
            "CASE WHEN tmq > 0 THEN (mean_quality_u * 1000000) div tmq"
            " ELSE 0 END"
        ).cast("long").alias("weight_u"),
        F.expr(
            "CASE WHEN tmq > 0 THEN (budget * mean_quality_u) div tmq"
            " ELSE 0 END"
        ).cast("long").alias("alloc_tokens"),
        F.expr(
            "CASE WHEN tmq > 0 AND n_tokens > 0 THEN "
            "(((budget * mean_quality_u) div tmq) * 1000000) div n_tokens"
            " ELSE 0 END"
        ).cast("long").alias("epochs_u"),
    )


def sql_quality_mixture() -> str:
    toks = _TOKS.format(c="text")
    return f"""WITH qd AS (
  SELECT q.doc_id, q.quality_u, d.source,
         CASE WHEN length(trim(d.text)) = 0 THEN 0 ELSE len({toks.replace("{c}", "d.text") if "{c}" in toks else toks}) END AS nt
  FROM ({sql_quality()}) q JOIN documents d USING (doc_id)
),
per AS (
  SELECT source, COUNT(*) AS n_docs, SUM(nt) AS n_tokens,
         SUM(quality_u) // COUNT(*) AS mean_quality_u
  FROM qd GROUP BY source
),
tot AS (
  SELECT SUM(mean_quality_u) AS tmq, SUM(n_tokens) AS budget FROM per
)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(mean_quality_u AS BIGINT) AS mean_quality_u,
       CAST(CASE WHEN tmq > 0 THEN (mean_quality_u * 1000000) // tmq
                 ELSE 0 END AS BIGINT) AS weight_u,
       CAST(CASE WHEN tmq > 0 THEN (budget * mean_quality_u) // tmq
                 ELSE 0 END AS BIGINT) AS alloc_tokens,
       CAST(CASE WHEN tmq > 0 AND n_tokens > 0 THEN
                 (((budget * mean_quality_u) // tmq) * 1000000) // n_tokens
                 ELSE 0 END AS BIGINT) AS epochs_u
FROM per CROSS JOIN tot"""


QUERIES["q_quality_mixture"] = q_quality_mixture
ORACLES["q_quality_mixture"] = sql_quality_mixture


# --- wave 69: k-center greedy coreset selection ---

_CORESET_K = 8


def q_coreset_select(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """k-center greedy coreset selection (Sener & Savarese, ICLR 2018
    — the active-learning / data-pruning selector): start from the
    smallest vec_id, then {_CORESET_K - 1} times add the point FARTHEST
    from its nearest already-chosen center (max-min), plus one final
    witness round reporting the coverage radius the selection leaves
    behind (the classic 2-approximation certificate of the k-center
    objective).  All geometry is EXACT int64: vectors are the
    floor(x*1e6) micro-unit arrays the PQ/Lloyd family uses and
    distances are integer squared L2, so argmax ties (broken by
    vec_id) are total-ordered on both engines with no float surface
    at all.  Scale: each round is one corpus scan against <=
    {_CORESET_K} broadcast centers + a TakeOrdered(1) — O(k * n)
    total, the textbook greedy cost; per-round localCheckpoints keep
    the unrolled lineage flat.  Output: (round, vec_id, min_d2) —
    min_d2 is the max-min value that made the pick (0 for the seed;
    round {_CORESET_K + 1} is the unpicked radius witness)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _assert_embedding_dim(emb)
    vu = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(floor(x * 1000000) AS BIGINT))"
        ).alias("v"),
    ).localCheckpoint(eager=False)

    seed = (
        vu.orderBy("vec_id")
        .limit(1)
        .select(
            F.lit(1).cast("long").alias("round"),
            "vec_id",
            F.lit(0).cast("long").alias("min_d2"),
        )
    ).localCheckpoint(eager=False)
    sel = seed
    d2 = F.aggregate(
        F.zip_with(F.col("v"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    for r in range(2, _CORESET_K + 2):
        cents = F.broadcast(
            sel.select(F.col("vec_id").alias("cid")).join(
                vu.select(F.col("vec_id").alias("cid"), F.col("v").alias("cv")),
                "cid",
            )
        )
        rem = vu.join(sel.select("vec_id"), "vec_id", "left_anti")
        md = (
            rem.crossJoin(cents)
            .select("vec_id", d2.alias("d2"))
            .groupBy("vec_id")
            .agg(F.min("d2").alias("min_d2"))
        )
        pick = (
            md.orderBy(F.col("min_d2").desc(), F.col("vec_id").asc())
            .limit(1)
            .select(
                F.lit(r).cast("long").alias("round"),
                "vec_id",
                F.col("min_d2").cast("long").alias("min_d2"),
            )
        )
        sel = sel.unionByName(pick)
        # keep the FINAL round's plan inspectable (broadcast centers,
        # TakeOrdered pick) — checkpoint only the intermediate rounds
        if r <= _CORESET_K:
            sel = sel.localCheckpoint(eager=False)
    return sel


def sql_coreset_select() -> str:
    dim = _LSH_DIM
    d2 = (
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        "i -> (r.v[i] - c.cv[i]) * (r.v[i] - c.cv[i])), (a, b) -> a + b)"
    )
    # selu{r} is referenced 3x per later round and vu in every round:
    # MATERIALIZED stops DuckDB's default CTE inlining from copying the
    # whole prior chain per reference (exponential plan blowup)
    parts = [f"""vu AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
  FROM embeddings
),
sel1 AS (
  SELECT CAST(1 AS BIGINT) AS round, vec_id, CAST(0 AS BIGINT) AS min_d2
  FROM vu ORDER BY vec_id LIMIT 1
),
selu1 AS MATERIALIZED (SELECT * FROM sel1)"""]
    for r in range(2, _CORESET_K + 2):
        parts.append(f"""cents{r} AS (
  SELECT s.vec_id AS cid, u.v AS cv
  FROM selu{r - 1} s JOIN vu u ON u.vec_id = s.vec_id
),
md{r} AS (
  SELECT r.vec_id, MIN({d2}) AS min_d2
  FROM (SELECT u.* FROM vu u ANTI JOIN selu{r - 1} s USING (vec_id)) r
  CROSS JOIN cents{r} c
  GROUP BY r.vec_id
),
sel{r} AS (
  SELECT CAST({r} AS BIGINT) AS round, vec_id, CAST(min_d2 AS BIGINT) AS min_d2
  FROM md{r} ORDER BY min_d2 DESC, vec_id ASC LIMIT 1
),
selu{r} AS MATERIALIZED (SELECT * FROM selu{r - 1} UNION ALL SELECT * FROM sel{r})""")
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT round, vec_id, min_d2 FROM selu{_CORESET_K + 1}"""


QUERIES["q_coreset_select"] = q_coreset_select
ORACLES["q_coreset_select"] = sql_coreset_select


# --- wave 70: deterministic Poisson-bootstrap CI ---

_BOOT_B = 64
_BOOT_SALT = "boot-ci"
# Poisson(1) cumulative pmf in floored millionths: P(w=0)=1/e, ...
_BOOT_CUM = (367879, 735758, 919698, 981011)


def q_bootstrap_ci(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Bootstrap confidence interval for the corpus mean quality —
    the error bar every per-round corpus metric should carry, made
    batch-shaped and rerun-pinned via the POISSON bootstrap (Chamandy
    et al., Google 2012: per (doc, replicate) an iid Poisson(1)
    resample weight, the streaming-friendly multinomial surrogate).
    Weights come from the md5 split-bucket device (floored Poisson(1)
    cdf thresholds on the per-(doc,b) bucket), so all {_BOOT_B}
    replicates are deterministic and the oracle replays them exactly;
    replicate means are integer (sum(w*q) div sum(w)) and the
    2.5/50/97.5 percentiles are order statistics (ranks 2/32/63 of
    64) — selection, not float math.  Scale: ONE scan with a x{_BOOT_B}
    scan-side fanout feeding a {_BOOT_B}-group map-side-combined
    aggregate — no resample materialization, no shuffle wider than
    {_BOOT_B} rows; at petabyte scale you'd bootstrap a fixed-rate
    subsample with the same code path."""
    from ..functions.text import quality_score_u

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.select("doc_id", quality_score_u(F.col("text")).alias("q"))
    reps = base.select(
        "doc_id",
        "q",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    )
    u = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit("#"),
                        F.col("b").cast("string"),
                        F.lit(f"|{_BOOT_SALT}"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(1_000_000),
    )
    c0, c1, c2, c3 = _BOOT_CUM
    w = (
        F.when(u < c0, 0)
        .when(u < c1, 1)
        .when(u < c2, 2)
        .when(u < c3, 3)
        .otherwise(4)
    )
    rep = reps.select("b", "q", w.alias("w")).groupBy("b").agg(
        F.sum(F.col("w") * F.col("q")).alias("swq"),
        F.sum("w").alias("sw"),
    ).select(
        "b",
        F.expr("CASE WHEN sw > 0 THEN swq div sw ELSE 0 END").alias("mean_u"),
    )
    wr = Window.orderBy(F.col("mean_u").asc_nulls_last(), F.col("b").asc())
    ranked = rep.withColumn("r", F.row_number().over(wr))
    stats = ranked.agg(
        F.sum(F.when(F.col("r") == 2, F.col("mean_u"))).cast("long").alias("boot_lo_u"),
        F.sum(F.when(F.col("r") == _BOOT_B // 2, F.col("mean_u"))).cast("long").alias("boot_med_u"),
        F.sum(F.when(F.col("r") == _BOOT_B - 1, F.col("mean_u"))).cast("long").alias("boot_hi_u"),
        F.count("*").cast("long").alias("n_reps"),
    )
    point = base.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.expr("CASE WHEN COUNT(*) > 0 THEN SUM(q) div COUNT(*) ELSE 0 END")
        .cast("long").alias("point_mean_u"),
    )
    return point.crossJoin(F.broadcast(stats)).select(
        "n_docs", "point_mean_u", "boot_lo_u", "boot_med_u", "boot_hi_u",
        "n_reps",
    )


def sql_bootstrap_ci() -> str:
    nibbles = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    c0, c1, c2, c3 = _BOOT_CUM
    return f"""WITH base AS (
  SELECT q.doc_id, q.quality_u AS q FROM ({sql_quality()}) q
),
reps AS (
  SELECT doc_id, q, unnest(range(0, {_BOOT_B})) AS b FROM base
),
hashed AS (
  SELECT b, q,
         md5(CAST(doc_id AS VARCHAR) || '#' || CAST(b AS VARCHAR)
             || '|{_BOOT_SALT}') AS h
  FROM reps
),
wts AS (
  SELECT b, q,
         CASE WHEN ({nibbles}) % 1000000 < {c0} THEN 0
              WHEN ({nibbles}) % 1000000 < {c1} THEN 1
              WHEN ({nibbles}) % 1000000 < {c2} THEN 2
              WHEN ({nibbles}) % 1000000 < {c3} THEN 3
              ELSE 4 END AS w
  FROM hashed
),
rep AS (
  SELECT b,
         CASE WHEN SUM(w) > 0 THEN SUM(w * q) // SUM(w) ELSE 0 END AS mean_u
  FROM wts GROUP BY b
),
ranked AS (
  SELECT b, mean_u,
         ROW_NUMBER() OVER (ORDER BY mean_u ASC NULLS LAST, b ASC) AS r
  FROM rep
),
stats AS (
  SELECT CAST(SUM(CASE WHEN r = 2 THEN mean_u END) AS BIGINT) AS boot_lo_u,
         CAST(SUM(CASE WHEN r = {_BOOT_B // 2} THEN mean_u END) AS BIGINT) AS boot_med_u,
         CAST(SUM(CASE WHEN r = {_BOOT_B - 1} THEN mean_u END) AS BIGINT) AS boot_hi_u,
         CAST(COUNT(*) AS BIGINT) AS n_reps
  FROM ranked
),
point AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(CASE WHEN COUNT(*) > 0 THEN SUM(q) // COUNT(*) ELSE 0 END
              AS BIGINT) AS point_mean_u
  FROM base
)
SELECT n_docs, point_mean_u, boot_lo_u, boot_med_u, boot_hi_u, n_reps
FROM point CROSS JOIN stats"""


QUERIES["q_bootstrap_ci"] = q_bootstrap_ci
ORACLES["q_bootstrap_ci"] = sql_bootstrap_ci


# --- wave 71: code-vs-prose detection gate ---

_CODE_KWS = (
    "class", "const", "def", "elif", "endif", "function", "import",
    "int", "lambda", "public", "return", "static", "struct", "var",
    "void",
)
_CODE_THRESH_U = 60_000


def q_code_detect(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Code-vs-prose gate — the corpus-routing decision every LLM
    pipeline makes before tokenizer/mixture choices (code wants
    different dedup, different quality rules, its own mixture cell).
    Three scan-side integer signals in micro-units: symbol density
    ((braces/semicolons/brackets)*1e6 div chars), code-keyword token
    share, and indented-line density (newline followed by space/tab);
    score_u = (2*sym + kw + 2*ind) div 5, is_code at >=
    {_CODE_THRESH_U}.  Rolled up per source: the report that decides
    routing.  Pure codegen char-class counts (the q_quality devices) —
    no Python, no libm, no shuffle beyond the source rollup."""
    from ..functions.text import _count_matches
    from ..operators.dedup import norm_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(norm_text(F.col("text")), " ")
    kw_hits = F.size(F.filter(toks, lambda t: t.isin(*_CODE_KWS)))
    n_toks = F.when(
        F.length(F.trim(F.col("text"))) == 0, F.lit(0)
    ).otherwise(F.size(toks))
    feats = docs.select(
        "source",
        F.length("text").alias("n_chars"),
        _count_matches(F.col("text"), r"[{}();=<>\[\]]").alias("sym"),
        kw_hits.alias("kw"),
        n_toks.alias("nt"),
        _count_matches(F.col("text"), r"\n[ \t]").alias("ind"),
        (F.lit(1) + _count_matches(F.col("text"), r"\n")).alias("n_lines"),
    )
    scored = feats.select(
        "source",
        F.expr(
            "CASE WHEN n_chars > 0 THEN (sym * 1000000) div n_chars"
            " ELSE 0 END"
        ).alias("sym_u"),
        F.expr("CASE WHEN nt > 0 THEN (kw * 1000000) div nt ELSE 0 END")
        .alias("kw_u"),
        F.expr(
            "CASE WHEN n_lines > 0 THEN (ind * 1000000) div n_lines"
            " ELSE 0 END"
        ).alias("ind_u"),
    ).select(
        "source",
        F.expr("(2 * sym_u + kw_u + 2 * ind_u) div 5").alias("score_u"),
    )
    return scored.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("score_u") >= _CODE_THRESH_U, 1).otherwise(0))
        .cast("long").alias("n_code"),
        F.expr("SUM(score_u) div COUNT(*)").cast("long").alias("mean_score_u"),
    ).select(
        "source",
        "n_docs",
        "n_code",
        "mean_score_u",
        F.expr("(n_code * 1000000) div n_docs").cast("long")
        .alias("code_share_u"),
    )


def sql_code_detect() -> str:
    toks = _TOKS.format(c="text")
    kw_list = ", ".join(_sql_str(k) for k in _CODE_KWS)
    return f"""WITH feats AS (
  SELECT source,
         length(text) AS n_chars,
         len(regexp_extract_all(text, '[{{}}();=<>\\[\\]]')) AS sym,
         len(list_filter({toks}, t -> t IN ({kw_list}))) AS kw,
         CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({toks}) END AS nt,
         len(regexp_extract_all(text, '\n[ \t]')) AS ind,
         1 + len(regexp_extract_all(text, '\n')) AS n_lines
  FROM documents
),
scored AS (
  SELECT source,
         (2 * (CASE WHEN n_chars > 0 THEN (sym * 1000000) // n_chars ELSE 0 END)
          + (CASE WHEN nt > 0 THEN (kw * 1000000) // nt ELSE 0 END)
          + 2 * (CASE WHEN n_lines > 0 THEN (ind * 1000000) // n_lines ELSE 0 END)
         ) // 5 AS score_u
  FROM feats
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN score_u >= {_CODE_THRESH_U} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_code,
       CAST(SUM(score_u) // COUNT(*) AS BIGINT) AS mean_score_u,
       CAST((SUM(CASE WHEN score_u >= {_CODE_THRESH_U} THEN 1 ELSE 0 END)
             * 1000000) // COUNT(*) AS BIGINT) AS code_share_u
FROM scored GROUP BY source"""


QUERIES["q_code_detect"] = q_code_detect
ORACLES["q_code_detect"] = sql_code_detect


# --- wave 72: char-entropy tail screen ---

_ENT_LOW_U = 1_500_000   # < ~1.5 floor-log2 bits: repetitive/templated
_ENT_HIGH_U = 4_500_000  # > ~4.5: random-looking (base64/hex blobs)


def q_char_entropy(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Character-entropy tail screen — the cheap detector for the two
    failure modes quality scores miss symmetrically: near-zero
    entropy (template/repeat spam) and near-maximal entropy
    (base64/hex/minified blobs), both poison for LM training.  The
    per-doc statistic is the integer bit-floor entropy surrogate
    sum(cnt_c * (bitlen(N) - bitlen(cnt_c))) * 1e6 div N over the
    normalized text's code points — libm-free, monotone with Shannon
    entropy on the tails it screens.  Rolled up per source with both
    tail counts.  Contract: code-point semantics (the corpora here
    are BMP/ASCII; astral chars split differently across engines and
    are out of contract, like zero-norm vectors for cosine).  Scale:
    one char explode + three map-side-combined aggregations, all
    keyed — nothing quadratic, nothing Python."""
    from ..operators.dedup import norm_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    chars = docs.select(
        "doc_id",
        "source",
        F.explode(F.split(norm_text(F.col("text")), "")).alias("c"),
    ).filter(F.col("c") != "")
    cc = chars.groupBy("doc_id", "source", "c").agg(
        F.count("*").alias("cnt")
    )
    # compute N first, join back (one row per (doc, char) against one
    # row per doc — a keyed join on the already-aggregated table)
    nn = cc.groupBy("doc_id").agg(F.sum("cnt").alias("n"))
    ent = (
        cc.join(nn, "doc_id")
        .select(
            "doc_id",
            "source",
            (
                F.col("cnt")
                * (
                    (F.expr("length(bin(n)) - 1"))
                    - (F.expr("length(bin(cnt)) - 1"))
                )
            ).alias("term"),
            "n",
        )
        .groupBy("doc_id", "source", "n")
        .agg(F.sum("term").alias("ent_num"))
        .select(
            "source",
            F.expr("(ent_num * 1000000) div n").alias("entropy_u"),
        )
    )
    return ent.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.expr("SUM(entropy_u) div COUNT(*)").cast("long")
        .alias("mean_entropy_u"),
        F.sum(F.when(F.col("entropy_u") < _ENT_LOW_U, 1).otherwise(0))
        .cast("long").alias("n_low"),
        F.sum(F.when(F.col("entropy_u") > _ENT_HIGH_U, 1).otherwise(0))
        .cast("long").alias("n_high"),
    )


def sql_char_entropy() -> str:
    return f"""WITH chars AS (
  SELECT doc_id, source,
         unnest(string_split({_NORM.format(c="text")}, '')) AS c
  FROM documents
),
cc AS (
  SELECT doc_id, source, c, COUNT(*) AS cnt
  FROM chars WHERE c <> '' GROUP BY 1, 2, 3
),
nn AS (SELECT doc_id, SUM(cnt) AS n FROM cc GROUP BY doc_id),
ent AS (
  SELECT cc.source,
         (SUM(cc.cnt * ((length(bin(nn.n)) - 1) - (length(bin(cc.cnt)) - 1)))
          * 1000000) // MAX(nn.n) AS entropy_u
  FROM cc JOIN nn USING (doc_id)
  GROUP BY cc.doc_id, cc.source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(entropy_u) // COUNT(*) AS BIGINT) AS mean_entropy_u,
       CAST(SUM(CASE WHEN entropy_u < {_ENT_LOW_U} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_low,
       CAST(SUM(CASE WHEN entropy_u > {_ENT_HIGH_U} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_high
FROM ent GROUP BY source"""


QUERIES["q_char_entropy"] = q_char_entropy
ORACLES["q_char_entropy"] = sql_char_entropy


# --- wave 73: bot / automated-traffic screen over events ---

_BOT_MIN_GAPS = 2
_BOT_TOP = 10
_BOT_REG_U = 200_000


def q_bot_detect(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Automated-traffic screen — the events-side twin of the crawl
    politeness stack: bots arrive on timers, humans arrive with
    spread, so the inter-arrival coefficient of variation separates
    them (CV ~ 1 for Poisson-ish humans, ~ 0 for cron-like clients).
    Per user: reg_u = floor-scaled CV^2 of inter-arrival gaps
    ((n*sum(g^2) - sum(g)^2) div greatest(sum(g)^2 div 1e6, 1) — all
    int64, the denominator pre-divided so the product never
    overflows), micro-events-per-hour rate, and the is_bot flag at
    CV^2 < {_BOT_REG_U / 1e6}.  Reports the {_BOT_TOP} most
    metronomic users (TakeOrdered, reg_u asc) — the review queue, not
    just a count.  Gaps come from a user-partitioned lag over the
    epoch-second device shared with q_events_sessionize.  Scale: one
    window + one groupBy(user), both user-keyed."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ep = F.unix_timestamp("ts")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (ep - F.lag(ep).over(wu)).alias("g"),
    ).filter(F.col("g").isNotNull())
    per = gaps.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum("g").cast("long").alias("sg"),
        F.sum(F.col("g") * F.col("g")).cast("long").alias("sgg"),
    ).filter(
        (F.col("n_gaps") >= _BOT_MIN_GAPS) & (F.col("sg") > 0)
    )
    scored = per.select(
        "user_id",
        (F.col("n_gaps") + 1).cast("long").alias("n_events"),
        F.expr(
            "(n_gaps * sgg - sg * sg) div GREATEST((sg * sg) div 1000000, 1)"
        ).cast("long").alias("reg_u"),
        F.expr("((n_gaps + 1) * 3600 * 1000000) div sg")
        .cast("long").alias("rate_uph"),
    )
    top = scored.orderBy(F.col("reg_u").asc(), F.col("user_id").asc()).limit(
        _BOT_TOP
    )
    w = Window.orderBy(F.col("reg_u").asc(), F.col("user_id").asc())
    return top.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).select(
        "rank",
        "user_id",
        "n_events",
        "reg_u",
        "rate_uph",
        F.when(F.col("reg_u") < _BOT_REG_U, 1).otherwise(0)
        .cast("long").alias("is_bot"),
    )


def sql_bot_detect() -> str:
    return f"""WITH gaps AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT)
         - LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS g
  FROM events
),
per AS (
  SELECT user_id, COUNT(*) AS n_gaps, SUM(g) AS sg, SUM(g * g) AS sgg
  FROM gaps WHERE g IS NOT NULL GROUP BY user_id
  HAVING COUNT(*) >= {_BOT_MIN_GAPS} AND SUM(g) > 0
),
scored AS (
  SELECT user_id,
         CAST(n_gaps + 1 AS BIGINT) AS n_events,
         CAST((n_gaps * sgg - sg * sg)
              // GREATEST((sg * sg) // 1000000, 1) AS BIGINT) AS reg_u,
         CAST(((n_gaps + 1) * 3600 * 1000000) // sg AS BIGINT) AS rate_uph
  FROM per
),
top AS (
  SELECT * FROM scored ORDER BY reg_u ASC, user_id ASC LIMIT {_BOT_TOP}
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY reg_u ASC, user_id ASC) AS BIGINT)
         AS rank,
       user_id, n_events, reg_u, rate_uph,
       CAST(CASE WHEN reg_u < {_BOT_REG_U} THEN 1 ELSE 0 END AS BIGINT)
         AS is_bot
FROM top"""


QUERIES["q_bot_detect"] = q_bot_detect
ORACLES["q_bot_detect"] = sql_bot_detect


# --- wave 74: late-interaction (MaxSim) retrieval ---

_MS_SUBS = 4
_MS_SUBDIM = _LSH_DIM // _MS_SUBS


def q_maxsim_topk(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Late-interaction retrieval (the ColBERT scoring shape,
    Khattab & Zaharia SIGIR 2020): each vector is treated as
    {_MS_SUBS} token-level subvectors of {_MS_SUBDIM} dims;
    score(q, d) = sum over q's subvectors of the MAX dot product
    against d's subvectors — the MaxSim operator that out-ranks
    single-vector cosine whenever relevance is carried by a part of
    the representation.  All arithmetic is exact int64 on the
    micro-unit slices (the PQ device): integer dots, integer max,
    integer sum, ties to smaller vec_id — zero float surface.
    Scale: the query side explodes to queries x {_MS_SUBS} broadcast
    rows; the corpus explodes scan-side to n x {_MS_SUBS}; the
    (q_sub x d_sub) scoring is one broadcast join followed by two
    map-side-combined aggregations and the top-k window — the same
    cost class as pq_topk's ADC probe."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _assert_embedding_dim(emb)
    vu = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(floor(x * 1000000) AS BIGINT))"
        ).alias("v"),
    )
    sub_idx = F.explode(F.sequence(F.lit(0), F.lit(_MS_SUBS - 1))).alias("si")
    subs = vu.select("vec_id", "v", sub_idx).select(
        "vec_id",
        "si",
        F.expr(f"slice(v, si * {_MS_SUBDIM} + 1, {_MS_SUBDIM})").alias("sv"),
    )
    qsubs = F.broadcast(
        subs.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("si").alias("qsi"),
            F.col("sv").alias("qv"),
        )
    )
    dsubs = subs.select(
        F.col("vec_id"), F.col("si").alias("dsi"), F.col("sv").alias("dv")
    )
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("dv"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pair_max = (
        dsubs.crossJoin(qsubs)
        .select("query_id", "qsi", "vec_id", dot.alias("d"))
        .groupBy("query_id", "qsi", "vec_id")
        .agg(F.max("d").alias("mx"))
    )
    score = pair_max.groupBy("query_id", "vec_id").agg(
        F.sum("mx").cast("long").alias("maxsim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("maxsim").desc(), F.col("vec_id").asc()
    )
    return (
        score.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOPK_K)
        .select(
            "query_id", "vec_id", "maxsim",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def sql_maxsim_topk() -> str:
    d = _MS_SUBDIM
    dot = (
        f"list_reduce(list_transform(range(1, {d + 1}), "
        "i -> q.sv[i] * t.sv[i]), (a, b) -> a + b)"
    )
    return f"""WITH vu AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
  FROM embeddings
),
subs AS (
  SELECT vec_id, si, list_slice(v, si * {d} + 1, (si + 1) * {d}) AS sv
  FROM vu, (SELECT unnest(range(0, {_MS_SUBS})) AS si)
),
q AS (SELECT vec_id AS query_id, si AS qsi, sv FROM subs
      WHERE vec_id < {_N_QUERIES}),
t AS (SELECT vec_id, si AS dsi, sv FROM subs),
pair_max AS (
  SELECT q.query_id, q.qsi, t.vec_id, MAX({dot}) AS mx
  FROM q, t
  GROUP BY 1, 2, 3
),
score AS (
  SELECT query_id, vec_id, CAST(SUM(mx) AS BIGINT) AS maxsim
  FROM pair_max GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, vec_id, maxsim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY maxsim DESC, vec_id ASC) AS rank
  FROM score
)
SELECT query_id, vec_id, maxsim, rank FROM ranked WHERE rank <= {_TOPK_K}"""


QUERIES["q_maxsim_topk"] = q_maxsim_topk
ORACLES["q_maxsim_topk"] = sql_maxsim_topk


# --- wave 75: ROUGE-N overlap scoring over verified pairs ---

_ROUGE_NS = (1, 2)


def q_rouge_pairs(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """ROUGE-N scoring (Lin 2004) — the text-overlap eval every
    generation/summarization pipeline reports, here computed at
    corpus scale over the verified MinHash-LSH pairs (candidate = the
    smaller doc_id, reference = the larger): clipped multiset n-gram
    overlap, precision/recall in micro-units and the exact-rational
    F1 = (2*p*r) div (p+r), for n in {_ROUGE_NS}.  All integer: gram
    multisets are (doc, gram, count) aggregates, the clip is
    min(c_cand, c_ref) summed per pair, and denominators are the
    multiset sizes.  Scale: gram tables are one explode+groupBy per
    n; the pair scoring is two keyed joins (pair->grams on doc id,
    gram equi-join) — never a cross of gram tables."""
    from ..operators.dedup import minhash_lsh_pairs, shingles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_lsh_pairs(
        docs, num_hashes=_MH_HASHES, bands=_MH_BANDS, k=_MH_K
    ).select("doc_id_a", "doc_id_b").localCheckpoint(eager=False)

    out = None
    for n in _ROUGE_NS:
        grams = (
            docs.select(
                "doc_id", F.explode(shingles(F.col("text"), n)).alias("g")
            )
            .filter(F.col("g") != "")
            .groupBy("doc_id", "g")
            .agg(F.count("*").alias("c"))
        )
        totals = grams.groupBy("doc_id").agg(F.sum("c").alias("tot"))
        ga = grams.select(
            F.col("doc_id").alias("doc_id_a"), "g", F.col("c").alias("ca")
        )
        gb = grams.select(
            F.col("doc_id").alias("doc_id_b"), "g", F.col("c").alias("cb")
        )
        inter = (
            pairs.join(ga, "doc_id_a")
            .join(gb, ["doc_id_b", "g"])
            .groupBy("doc_id_a", "doc_id_b")
            .agg(F.sum(F.least("ca", "cb")).alias("overlap"))
        )
        scored = (
            pairs.join(inter, ["doc_id_a", "doc_id_b"], "left")
            .join(
                totals.select(
                    F.col("doc_id").alias("doc_id_a"), F.col("tot").alias("na")
                ),
                "doc_id_a",
                "left",
            )
            .join(
                totals.select(
                    F.col("doc_id").alias("doc_id_b"), F.col("tot").alias("nb")
                ),
                "doc_id_b",
                "left",
            )
            .select(
                "doc_id_a",
                "doc_id_b",
                F.lit(n).cast("long").alias("n"),
                F.coalesce(F.col("overlap"), F.lit(0)).cast("long")
                .alias("overlap"),
                F.coalesce(F.col("na"), F.lit(0)).cast("long").alias("na"),
                F.coalesce(F.col("nb"), F.lit(0)).cast("long").alias("nb"),
            )
            .select(
                "*",
                F.expr(
                    "CASE WHEN na > 0 THEN (overlap * 1000000) div na"
                    " ELSE 0 END"
                ).cast("long").alias("p_u"),
                F.expr(
                    "CASE WHEN nb > 0 THEN (overlap * 1000000) div nb"
                    " ELSE 0 END"
                ).cast("long").alias("r_u"),
            )
            .select(
                "*",
                F.expr(
                    "CASE WHEN p_u + r_u > 0 THEN (2 * p_u * r_u) div (p_u + r_u)"
                    " ELSE 0 END"
                ).cast("long").alias("f1_u"),
            )
        )
        out = scored if out is None else out.unionByName(scored)
    return out


def sql_rouge_pairs() -> str:
    toks = _TOKS.format(c="text")
    blocks = []
    for n in _ROUGE_NS:
        blocks.append(f"""(
  WITH grams AS (
    SELECT doc_id, g, COUNT(*) AS c FROM (
      SELECT doc_id,
             unnest(CASE WHEN len({toks}) >= {n}
                    THEN list_transform(range(0, len({toks}) - {n - 1}),
                         i -> array_to_string(({toks})[i + 1 : i + {n}], ' '))
                    ELSE [] END) AS g
      FROM documents
    ) WHERE g <> '' GROUP BY doc_id, g
  ),
  totals AS (SELECT doc_id, SUM(c) AS tot FROM grams GROUP BY doc_id),
  inter AS (
    SELECT p.doc_id_a, p.doc_id_b, SUM(LEAST(a.c, b.c)) AS overlap
    FROM mh_pairs p
    JOIN grams a ON a.doc_id = p.doc_id_a
    JOIN grams b ON b.doc_id = p.doc_id_b AND b.g = a.g
    GROUP BY 1, 2
  ),
  base AS (
    SELECT p.doc_id_a, p.doc_id_b, CAST({n} AS BIGINT) AS n,
           CAST(COALESCE(i.overlap, 0) AS BIGINT) AS overlap,
           CAST(COALESCE(ta.tot, 0) AS BIGINT) AS na,
           CAST(COALESCE(tb.tot, 0) AS BIGINT) AS nb
    FROM mh_pairs p
    LEFT JOIN inter i USING (doc_id_a, doc_id_b)
    LEFT JOIN totals ta ON ta.doc_id = p.doc_id_a
    LEFT JOIN totals tb ON tb.doc_id = p.doc_id_b
  ),
  pr AS (
    SELECT *,
           CAST(CASE WHEN na > 0 THEN (overlap * 1000000) // na
                     ELSE 0 END AS BIGINT) AS p_u,
           CAST(CASE WHEN nb > 0 THEN (overlap * 1000000) // nb
                     ELSE 0 END AS BIGINT) AS r_u
    FROM base
  )
  SELECT doc_id_a, doc_id_b, n, overlap, na, nb, p_u, r_u,
         CAST(CASE WHEN p_u + r_u > 0 THEN (2 * p_u * r_u) // (p_u + r_u)
                   ELSE 0 END AS BIGINT) AS f1_u
  FROM pr
)""")
    union = "\nUNION ALL\n".join(blocks)
    return f"""WITH {_minhash_cand_cte()},
mh_pairs AS MATERIALIZED (SELECT doc_id_a, doc_id_b FROM cand)
{union}"""


QUERIES["q_rouge_pairs"] = q_rouge_pairs
ORACLES["q_rouge_pairs"] = sql_rouge_pairs


# --- wave 76: greedy max-coverage document selection ---

_MC_K = 5
_MC_GRAM = 3


def q_maxcover_select(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Greedy maximum-coverage document selection (Nemhauser, Wolsey
    & Fisher 1978 — the (1 - 1/e) submodular greedy): pick {_MC_K}
    documents that together cover the most DISTINCT {_MC_GRAM}-gram
    shingles, each round charging a doc only its MARGINAL gain (its
    shingles not already covered).  The information-coverage
    complement of q_coreset_select's geometric max-min: that one
    spreads points in embedding space, this one maximizes distinct
    content mass — the 'pick k most informative docs' curation
    primitive.  Rounds are unrolled: per round one anti-join of the
    gram table against the covered set (gram-keyed), one count per
    doc, one TakeOrdered(1) argmax (ties to smaller doc_id); the
    covered set grows by exactly the winner's grams (localCheckpoint
    per round, MATERIALIZED CTEs in the oracle — the same
    exponential-inlining guard as coreset).  Output: (round, doc_id,
    gain, covered_total) — covered_total is the running objective,
    whose concavity (diminishing gains) is the submodularity
    certificate asserted in tests."""
    from ..operators.dedup import shingles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    grams = (
        docs.select(
            "doc_id", F.explode(shingles(F.col("text"), _MC_GRAM)).alias("g")
        )
        .filter(F.col("g") != "")
        .distinct()
        .localCheckpoint(eager=False)
    )
    sel = None
    covered = None
    for r in range(1, _MC_K + 1):
        rem = grams if covered is None else grams.join(
            covered, "g", "left_anti"
        )
        if sel is not None:
            rem = rem.join(sel.select("doc_id"), "doc_id", "left_anti")
        gains = rem.groupBy("doc_id").agg(F.count("*").alias("gain"))
        pick = (
            gains.orderBy(F.col("gain").desc(), F.col("doc_id").asc())
            .limit(1)
            .select(
                F.lit(r).cast("long").alias("round"),
                "doc_id",
                F.col("gain").cast("long").alias("gain"),
            )
        )
        sel = pick if sel is None else sel.unionByName(pick)
        sel = sel.localCheckpoint(eager=False)
        covered = grams.join(
            sel.select("doc_id"), "doc_id", "left_semi"
        ).select("g").distinct().localCheckpoint(eager=False)
    w = Window.orderBy("round").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return sel.select(
        "round",
        "doc_id",
        "gain",
        F.sum("gain").over(w).cast("long").alias("covered_total"),
    )


def sql_maxcover_select() -> str:
    toks = _TOKS.format(c="text")
    n = _MC_GRAM
    parts = [f"""grams AS MATERIALIZED (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id,
           unnest(CASE WHEN len({toks}) >= {n}
                  THEN list_transform(range(0, len({toks}) - {n - 1}),
                       i -> array_to_string(({toks})[i + 1 : i + {n}], ' '))
                  ELSE [] END) AS g
    FROM documents
  ) WHERE g <> ''
)"""]
    prev_sel = None
    for r in range(1, _MC_K + 1):
        rem_clauses = []
        if prev_sel:
            rem_clauses.append(
                f"doc_id NOT IN (SELECT doc_id FROM {prev_sel})"
            )
            rem_clauses.append(
                f"g NOT IN (SELECT g FROM grams "
                f"WHERE doc_id IN (SELECT doc_id FROM {prev_sel}))"
            )
        where = ("WHERE " + " AND ".join(rem_clauses)) if rem_clauses else ""
        parts.append(f"""gains{r} AS (
  SELECT doc_id, COUNT(*) AS gain FROM grams {where} GROUP BY doc_id
),
sel{r} AS (
  SELECT CAST({r} AS BIGINT) AS round, doc_id, CAST(gain AS BIGINT) AS gain
  FROM gains{r} ORDER BY gain DESC, doc_id ASC LIMIT 1
),
selu{r} AS MATERIALIZED (
  {"SELECT * FROM sel1" if r == 1 else f"SELECT * FROM selu{r - 1} UNION ALL SELECT * FROM sel{r}"}
)""")
        prev_sel = f"selu{r}"
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT round, doc_id, gain,
       CAST(SUM(gain) OVER (ORDER BY round
                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS covered_total
FROM selu{_MC_K}"""


QUERIES["q_maxcover_select"] = q_maxcover_select
ORACLES["q_maxcover_select"] = sql_maxcover_select


# --- wave 77: per-source novelty / marginal-contribution accounting ---

_NOV_GRAM = 3


def q_source_novelty(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Per-source novelty accounting — 'what does this source
    uniquely add': for each source the distinct {_NOV_GRAM}-gram
    count, the EXCLUSIVE grams (appearing in no other source), the
    exclusive share, and the source's coverage of the whole corpus
    gram space.  The drop-this-source decision input that
    complements q_crosssource_dups (which counts shared near-dup
    mass; this counts unshared content mass) and q_good_turing
    (which extrapolates unseen mass within a source).  Shape: one
    distinct (source, gram) aggregate, one gram-keyed
    source-multiplicity count joined back, one source rollup, and a
    1-row corpus total broadcast — all map-side-combinable."""
    from ..operators.dedup import shingles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sg = (
        docs.select(
            "source", F.explode(shingles(F.col("text"), _NOV_GRAM)).alias("g")
        )
        .filter(F.col("g") != "")
        .distinct()
    )
    mult = sg.groupBy("g").agg(F.count("*").alias("n_sources"))
    per = (
        sg.join(mult, "g")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("n_sources") == 1, 1).otherwise(0))
            .cast("long").alias("n_exclusive"),
        )
    )
    tot = mult.agg(F.count("*").cast("long").alias("total_grams"))
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_grams",
        "n_exclusive",
        F.expr(
            "CASE WHEN n_grams > 0 THEN (n_exclusive * 1000000) div n_grams"
            " ELSE 0 END"
        ).cast("long").alias("exclusive_share_u"),
        F.expr(
            "CASE WHEN total_grams > 0 THEN (n_grams * 1000000) div total_grams"
            " ELSE 0 END"
        ).cast("long").alias("corpus_coverage_u"),
    )


def sql_source_novelty() -> str:
    toks = _TOKS.format(c="text")
    n = _NOV_GRAM
    return f"""WITH sg AS (
  SELECT DISTINCT source, g FROM (
    SELECT source,
           unnest(CASE WHEN len({toks}) >= {n}
                  THEN list_transform(range(0, len({toks}) - {n - 1}),
                       i -> array_to_string(({toks})[i + 1 : i + {n}], ' '))
                  ELSE [] END) AS g
    FROM documents
  ) WHERE g <> ''
),
mult AS (SELECT g, COUNT(*) AS n_sources FROM sg GROUP BY g),
per AS (
  SELECT source, COUNT(*) AS n_grams,
         SUM(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) AS n_exclusive
  FROM sg JOIN mult USING (g) GROUP BY source
),
tot AS (SELECT COUNT(*) AS total_grams FROM mult)
SELECT source,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_exclusive AS BIGINT) AS n_exclusive,
       CAST(CASE WHEN n_grams > 0 THEN (n_exclusive * 1000000) // n_grams
                 ELSE 0 END AS BIGINT) AS exclusive_share_u,
       CAST(CASE WHEN total_grams > 0
                 THEN (n_grams * 1000000) // total_grams
                 ELSE 0 END AS BIGINT) AS corpus_coverage_u
FROM per CROSS JOIN tot"""


QUERIES["q_source_novelty"] = q_source_novelty
ORACLES["q_source_novelty"] = sql_source_novelty


# --- wave 78: quality-pruning tradeoff curve ---

_PRUNE_CUTS = (0, 250_000, 500_000, 600_000, 700_000)


def q_pruning_curve(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The data-pruning tradeoff curve (the Sorscher et al. 2022
    question 'how much can we drop, and what do we keep?') for the
    quality scorer: at each keep-threshold in {_PRUNE_CUTS}, how many
    docs/tokens survive and what their mean quality becomes — the
    5-point curve a curation owner reads before fixing a cut.
    Single-scan shape: each doc lands in the bucket of the HIGHEST
    threshold it passes, bucket stats aggregate once, and each
    threshold's row is the suffix sum over buckets at-or-above it
    (a 5-row window, not 5 corpus scans).  All integer micro-units
    via the shared q_quality column."""
    from ..functions.text import quality_score_u

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = F.coalesce(quality_score_u(F.col("text")), F.lit(0))
    # _PRUNE_CUTS ascending: build the CASE from the top down
    bucket = F.lit(_PRUNE_CUTS[0])
    for t in _PRUNE_CUTS[1:]:
        bucket = F.when(q >= F.lit(t), F.lit(t)).otherwise(bucket)
    base = docs.select(
        bucket.alias("b"),
        q.alias("q"),
        token_count(F.col("text")).alias("nt"),
    )
    bs = base.groupBy("b").agg(
        F.count("*").alias("c"),
        F.sum("q").alias("sq"),
        F.sum("nt").alias("st"),
    )
    cuts = spark.createDataFrame(
        [(t,) for t in _PRUNE_CUTS], "threshold_u long"
    )
    joined = cuts.join(bs, bs["b"] >= cuts["threshold_u"]).groupBy(
        "threshold_u"
    ).agg(
        F.sum("c").cast("long").alias("n_kept"),
        F.sum("sq").alias("sq"),
        F.sum("st").cast("long").alias("tokens_kept"),
    )
    tot = base.agg(F.count("*").cast("long").alias("n_total"))
    return joined.crossJoin(F.broadcast(tot)).select(
        "threshold_u",
        "n_kept",
        F.expr(
            "CASE WHEN n_total > 0 THEN (n_kept * 1000000) div n_total"
            " ELSE 0 END"
        ).cast("long").alias("kept_share_u"),
        "tokens_kept",
        F.expr("CASE WHEN n_kept > 0 THEN sq div n_kept ELSE 0 END")
        .cast("long").alias("mean_quality_u"),
    )


def sql_pruning_curve() -> str:
    toks = _TOKS.format(c="text")
    cuts_rows = ", ".join(f"({t})" for t in _PRUNE_CUTS)
    case = f"CAST({_PRUNE_CUTS[0]} AS BIGINT)"
    for t in _PRUNE_CUTS[1:]:
        case = f"CASE WHEN q >= {t} THEN {t} ELSE {case} END"
    return f"""WITH qd AS (
  SELECT COALESCE(quality_u, 0) AS q,
         CASE WHEN length(trim(d.text)) = 0 THEN 0 ELSE len({toks}) END AS nt
  FROM ({sql_quality()}) s JOIN documents d USING (doc_id)
),
base AS (SELECT {case} AS b, q, nt FROM qd),
bs AS (
  SELECT b, COUNT(*) AS c, SUM(q) AS sq, SUM(nt) AS st FROM base GROUP BY b
),
cuts(threshold_u) AS (VALUES {cuts_rows}),
joined AS (
  SELECT threshold_u, SUM(c) AS n_kept, SUM(sq) AS sq,
         SUM(st) AS tokens_kept
  FROM cuts JOIN bs ON bs.b >= cuts.threshold_u
  GROUP BY threshold_u
),
tot AS (SELECT COUNT(*) AS n_total FROM base)
SELECT CAST(threshold_u AS BIGINT) AS threshold_u,
       CAST(n_kept AS BIGINT) AS n_kept,
       CAST(CASE WHEN n_total > 0 THEN (n_kept * 1000000) // n_total
                 ELSE 0 END AS BIGINT) AS kept_share_u,
       CAST(tokens_kept AS BIGINT) AS tokens_kept,
       CAST(CASE WHEN n_kept > 0 THEN sq // n_kept ELSE 0 END AS BIGINT)
         AS mean_quality_u
FROM joined CROSS JOIN tot"""


QUERIES["q_pruning_curve"] = q_pruning_curve
ORACLES["q_pruning_curve"] = sql_pruning_curve


# --- wave 79: canonicalization policy diff ---


def q_canonical_policy_diff(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Canonicalization POLICY comparison — before fixing a keep rule
    a curation owner wants to know how much it matters: across the
    verified near-dup clusters, how often does keep-best-quality
    (CCNet/FineWeb) pick a DIFFERENT survivor than keep-smallest-id
    (the cheap default), and how much quality does the upgrade buy in
    total.  Composes q_cluster_canonical's labeled output only: per
    cluster one aggregate row (min_by fetches the min-id member's
    quality without a second scan), then a 1-row rollup.  differ
    share is relative to multi-member clusters (singletons cannot
    disagree)."""
    cc = q_cluster_canonical(spark, sf_dir)
    per = cc.groupBy("cluster_id").agg(
        F.count("*").alias("n"),
        F.min("doc_id").alias("minid"),
        F.sum(F.when(F.col("keep"), F.col("doc_id"))).alias("keep_doc"),
        F.sum(F.when(F.col("keep"), F.col("quality_u"))).alias("keep_q"),
        F.expr("min_by(quality_u, doc_id)").alias("minid_q"),
    )
    agg = per.agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.sum(F.when(F.col("n") >= 2, 1).otherwise(0))
        .cast("long").alias("n_multi"),
        F.sum(
            F.when((F.col("n") >= 2) & (F.col("keep_doc") != F.col("minid")), 1)
            .otherwise(0)
        ).cast("long").alias("n_differs"),
        F.sum(
            F.when(F.col("n") >= 2, F.col("keep_q") - F.col("minid_q"))
            .otherwise(0)
        ).cast("long").alias("quality_gain_total_u"),
    )
    return agg.select(
        "n_clusters",
        "n_multi",
        "n_differs",
        F.expr(
            "CASE WHEN n_multi > 0 THEN (n_differs * 1000000) div n_multi"
            " ELSE 0 END"
        ).cast("long").alias("differ_share_u"),
        "quality_gain_total_u",
    )


def sql_canonical_policy_diff() -> str:
    return f"""WITH cc AS ({sql_cluster_canonical()}),
per AS (
  SELECT cluster_id, COUNT(*) AS n, MIN(doc_id) AS minid,
         SUM(CASE WHEN keep THEN doc_id END) AS keep_doc,
         SUM(CASE WHEN keep THEN quality_u END) AS keep_q,
         MIN_BY(quality_u, doc_id) AS minid_q
  FROM cc GROUP BY cluster_id
),
agg AS (
  SELECT COUNT(*) AS n_clusters,
         SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS n_multi,
         SUM(CASE WHEN n >= 2 AND keep_doc <> minid THEN 1 ELSE 0 END)
           AS n_differs,
         SUM(CASE WHEN n >= 2 THEN keep_q - minid_q ELSE 0 END)
           AS quality_gain_total_u
  FROM per
)
SELECT CAST(n_clusters AS BIGINT) AS n_clusters,
       CAST(n_multi AS BIGINT) AS n_multi,
       CAST(n_differs AS BIGINT) AS n_differs,
       CAST(CASE WHEN n_multi > 0 THEN (n_differs * 1000000) // n_multi
                 ELSE 0 END AS BIGINT) AS differ_share_u,
       CAST(quality_gain_total_u AS BIGINT) AS quality_gain_total_u
FROM agg"""


QUERIES["q_canonical_policy_diff"] = q_canonical_policy_diff
ORACLES["q_canonical_policy_diff"] = sql_canonical_policy_diff


# --- wave 80: term burstiness ---

_BURST_MIN_DF = 5
_BURST_TOP = 25


def q_term_burstiness(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Term burstiness (Church & Gale 1995; Katz's K-mixture insight):
    content words BURST — when a document mentions them once it tends
    to mention them again — while function words spread uniformly.
    burst_u = (collection_frequency * 1e6) div document_frequency
    (mean occurrences per CONTAINING doc, >= 1e6 by construction);
    the top-{_BURST_TOP} burstiest terms at df >= {_BURST_MIN_DF} are
    the corpus's topical vocabulary — the signal that picks keyword
    candidates (vs q_tfidf_terms' per-doc ranking) and flags
    boilerplate when a 'function-looking' term bursts.  One
    (term) aggregate from the (doc, term) counts + TakeOrdered —
    exact integers throughout."""
    from ..operators.dedup import norm_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(norm_text(F.col("text")), " ")).alias("t"),
    ).filter(F.col("t") != "")
    dt = toks.groupBy("doc_id", "t").agg(F.count("*").alias("c"))
    per = dt.groupBy("t").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("c").cast("long").alias("cf"),
    ).filter(F.col("df") >= _BURST_MIN_DF)
    scored = per.select(
        "t",
        "df",
        "cf",
        F.expr("(cf * 1000000) div df").cast("long").alias("burst_u"),
    )
    top = scored.orderBy(
        F.col("burst_u").desc(), F.col("t").asc()
    ).limit(_BURST_TOP)
    w = Window.orderBy(F.col("burst_u").desc(), F.col("t").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def sql_term_burstiness() -> str:
    toks = _TOKS.format(c="text")
    return f"""WITH tok AS (
  SELECT doc_id, unnest({toks}) AS t FROM documents
),
dt AS (
  SELECT doc_id, t, COUNT(*) AS c FROM tok WHERE t <> '' GROUP BY 1, 2
),
per AS (
  SELECT t, COUNT(*) AS df, SUM(c) AS cf FROM dt GROUP BY t
  HAVING COUNT(*) >= {_BURST_MIN_DF}
),
scored AS (
  SELECT t, CAST(df AS BIGINT) AS df, CAST(cf AS BIGINT) AS cf,
         CAST((cf * 1000000) // df AS BIGINT) AS burst_u
  FROM per
),
top AS (
  SELECT * FROM scored ORDER BY burst_u DESC, t ASC LIMIT {_BURST_TOP}
)
SELECT t, df, cf, burst_u,
       CAST(ROW_NUMBER() OVER (ORDER BY burst_u DESC, t ASC) AS BIGINT)
         AS rank
FROM top"""


QUERIES["q_term_burstiness"] = q_term_burstiness
ORACLES["q_term_burstiness"] = sql_term_burstiness
