"""Distribution statistics operators: exact per-group quantiles and
per-document n-gram repetition stats.

Training-data pipelines gate on distribution cut-points (p50/p90/p99
of document length, latency, quality score) rather than means.
``group_quantiles_u`` computes EXACT discrete quantiles per group in
one shuffle: values are floored to micro-units (so the cross-engine
comparison has no rounding ambiguity), ranked per group with a window,
and the quantile is the value at rank ``ceil(q * n)`` — a selection,
not a sum, so tie order and fold order cannot drift the result (all
rows tied at a rank share the same value).

Scale shape: one hash shuffle on the group key, in-partition sort for
the window — the standard distributed grouped-window plan. Per-group
row counts bound the sort; for heavily skewed groups pre-aggregate to
a (group, value, count) histogram first. No driver collect, no UDFs.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Sequence

from pyspark.sql import Window
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from pyspark.sql import DataFrame


def group_quantiles_u(
    df: "DataFrame",
    group_col: str,
    value_col: str,
    qs_u: Sequence[int] = (500_000, 900_000, 990_000),
    scale: int = 1_000_000,
) -> "DataFrame":
    """(group, q_u, quantile_u): for each group and each micro-unit
    quantile fraction in ``qs_u``, the exact discrete quantile of
    ``floor(value * scale)`` — the value at 1-based rank
    ``(q_u * n + scale - 1) div scale`` (integer ceil of q*n) in the
    group's sorted order. NULL and NaN values are excluded (NULLs sort
    first in Spark but last in most SQL engines; a NaN would cast to 0
    in Spark's long cast but error in DuckDB's — excluding both is the
    only portable contract).
    """
    if not qs_u:
        raise ValueError("qs_u must be non-empty")
    v = F.col(value_col).cast("double")
    vals = df.where(v.isNotNull() & ~F.isnan(v)).select(
        F.col(group_col).alias("g"),
        F.floor(v * scale).cast("long").alias("v_u"),
    )
    w = Window.partitionBy("g").orderBy("v_u")
    ranked = vals.select(
        "g",
        "v_u",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("g")).alias("n_g"),
    )
    targets = F.array(
        *[
            F.struct(
                F.lit(int(qu)).cast("long").alias("q_u"),
                F.expr(f"({int(qu)} * n_g + {scale - 1}) div {scale}").alias("r"),
            )
            for qu in qs_u
        ]
    )
    return (
        ranked.select("g", "v_u", "rn", F.explode(targets).alias("t"))
        .where(F.col("rn") == F.col("t.r"))
        .select(
            F.col("g").alias(group_col),
            F.col("t.q_u").alias("q_u"),
            F.col("v_u").alias("quantile_u"),
        )
    )


def ngram_repetition(
    df: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 2,
    scale: int = 1_000_000,
) -> "DataFrame":
    """Gopher/C4-style within-document repetition stats: per doc, the
    fraction of word-``k``-gram occurrences claimed by the single most
    frequent gram (``top_frac_u``) and the fraction that are repeats of
    an earlier occurrence (``dup_frac_u``), both floored micro-units.
    High values flag boilerplate/spam for quality filtering.

    Shape: explode grams -> groupBy (doc, gram) count -> groupBy doc
    (max / sum / count-distinct) — two map-side-combined shuffles, the
    second on the doc key only. Integer arithmetic throughout; docs
    with fewer than ``k`` tokens produce no grams and drop out (their
    repetition is undefined).
    """
    from .dedup import shingles

    grams = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles(F.col(text_col), k)).alias("g"),
    )
    per_gram = grams.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    agg = per_gram.groupBy("doc_id").agg(
        F.max("c").alias("top_cnt"),
        F.sum("c").alias("total"),
        F.count("*").alias("n_distinct"),
    )
    return agg.select(
        "doc_id",
        F.col("total").alias("n_grams"),
        F.expr(f"(top_cnt * {scale}) div total").alias("top_frac_u"),
        F.expr(f"((total - n_distinct) * {scale}) div total").alias("dup_frac_u"),
    )


def corpus_topk_ngrams(
    df: "DataFrame",
    text_col: str = "text",
    k: int = 2,
    topk: int = 100,
) -> "DataFrame":
    """Corpus-level most-frequent word ``k``-grams — the global vocab /
    tokenizer-training surface (and the BPE seed-count shape): explode
    grams -> global count -> deterministic top-``k``.

    Output: (gram, n, rank) with the total order (n DESC, gram ASC),
    so ties at the cut are deterministic on both engines.

    Scale shape: one map-side-combined shuffle on the gram key (each
    map task pre-aggregates to one row per distinct gram, so the hot
    head of the Zipf distribution never concentrates raw occurrence
    rows on one reducer), then distributed top-k
    (TakeOrderedAndProject) — the full gram dictionary is never
    collected or globally sorted. The rank window runs over <= topk
    rows AFTER the limit.
    """
    from .dedup import shingles

    grams = df.select(F.explode(shingles(F.col(text_col), k)).alias("gram"))
    counts = grams.groupBy("gram").agg(F.count("*").alias("n"))
    topped = counts.orderBy(F.col("n").desc(), F.col("gram").asc()).limit(topk)
    w = Window.orderBy(F.col("n").desc(), F.col("gram").asc())
    return topped.withColumn("rank", F.row_number().over(w).cast("long"))


def gopher_rules(
    df: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = 1_000_000,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len_u: int = 3_000_000,
    max_mean_word_len_u: int = 10_000_000,
    max_symbol_ratio_u: int = 100_000,
    max_bullet_frac_u: int = 900_000,
    max_ellipsis_frac_u: int = 300_000,
) -> "DataFrame":
    """Gopher-style document quality gate (Rae et al. 2021 §A1.1):
    per-document rule features plus the conjunctive ``keep`` flag.

    All features are integer micro-units computed by built-in string
    expressions — scan-side codegen, zero shuffles, pushdown-friendly —
    and every division is ``floor(x * scale / y)`` so the DuckDB oracle
    reproduces each value exactly:

    - ``n_words``: whitespace tokens;
    - ``mean_word_len_u``: non-whitespace chars per word;
    - ``symbol_ratio_u``: ('#' + unicode-ellipsis + '...') per word —
      the Gopher symbol-to-word screen;
    - ``bullet_frac_u`` / ``ellipsis_frac_u``: fraction of lines
      starting with a bullet ('-', '*', the bullet char) / ending with
      an ellipsis.

    The thresholds default to the published Gopher cut-points
    (50..100k words, mean word length 3..10, symbol ratio 0.1, 90%
    bullet lines, 30% ellipsis lines).
    """
    t = F.col(text_col)
    words = F.split(F.trim(t), r"\s+")
    n_words = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(
        F.size(words)
    )
    word_chars = F.length(F.regexp_replace(t, r"\s", ""))
    hashes = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    uni_ell = F.length(t) - F.length(
        F.replace(t, F.lit("…"), F.lit(""))
    )
    dot_ell = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    symbols = (hashes + uni_ell + dot_ell).cast("long")
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    is_bullet = lambda x: (  # noqa: E731
        F.ltrim(x).startswith("-")
        | F.ltrim(x).startswith("*")
        | F.ltrim(x).startswith("•")
    )
    ends_ell = lambda x: (  # noqa: E731
        F.rtrim(x).endswith("…") | F.rtrim(x).endswith("...")
    )
    n_bullet = F.size(F.filter(lines, is_bullet))
    n_ell = F.size(F.filter(lines, ends_ell))

    def _ratio_u(num, den):
        return F.when(den > 0, F.floor(num * scale / den)).otherwise(
            F.lit(0)
        ).cast("long")

    out = df.select(
        id_col,
        n_words.cast("long").alias("n_words"),
        _ratio_u(word_chars, n_words).alias("mean_word_len_u"),
        _ratio_u(symbols, n_words).alias("symbol_ratio_u"),
        _ratio_u(n_bullet, n_lines).alias("bullet_frac_u"),
        _ratio_u(n_ell, n_lines).alias("ellipsis_frac_u"),
    )
    keep = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len_u") >= min_mean_word_len_u)
        & (F.col("mean_word_len_u") <= max_mean_word_len_u)
        & (F.col("symbol_ratio_u") <= max_symbol_ratio_u)
        & (F.col("bullet_frac_u") <= max_bullet_frac_u)
        & (F.col("ellipsis_frac_u") <= max_ellipsis_frac_u)
    )
    return out.withColumn("keep", keep)


def phrase_pmi(
    df: "DataFrame",
    text_col: str = "text",
    min_count: int = 5,
    topk: int = 50,
    scale: int = 1_000_000,
) -> "DataFrame":
    """word2phrase-style collocation scores (Mikolov et al. 2013):
    for each corpus bigram with at least ``min_count`` occurrences,
    the integer PMI surrogate

        score_u = (n_bigram * n_tokens * scale) div (n_a * n_b)

    — high when 'new york' co-occurs far above chance — ranked
    (score_u DESC, gram ASC) and cut to ``topk``. The phrase-merge
    pass a tokenizer/vocab pipeline runs before BPE.

    Integer-exact cross-engine: one fused product before a single
    floor division (fits a long through ~sf10 corpora: n_bigram *
    n_tokens * 1e6 at 4e5 tokens is ~4e16 < 2^63; shard the corpus
    before the product at larger scales). Shuffles: unigram agg,
    bigram agg (both map-side combined), broadcast of the two 1-row
    totals, TakeOrderedAndProject for the cut.
    """
    from .dedup import shingles

    toks = df.select(F.explode(shingles(F.col(text_col), 1)).alias("w"))
    # deliberately NOT localCheckpoint-pinned: the unigram aggregate is
    # one cheap scan, and an interleaved A/B at sf0.1 measured the
    # pinned variant ~1.9x SLOWER (7.6 vs 4.0 s) — checkpointing hides
    # the aggregate's stats from the two downstream joins (costing the
    # broadcast) and serializes subtrees that otherwise evaluate in
    # parallel on idle cores. The redundant re-evaluation is the
    # cheaper trade for scan-cheap subtrees; contrast ngram_jaccard_lsh,
    # where the repeated subtree is a whole LSH derivation.
    uni = toks.groupBy("w").agg(F.count("*").alias("n_w"))
    total = toks.agg(F.count("*").alias("n_tokens"))
    bi = (
        df.select(F.explode(shingles(F.col(text_col), 2)).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("n_bigram"))
        .where(F.col("n_bigram") >= min_count)
        .withColumn("wa", F.split(F.col("gram"), " ")[0])
        .withColumn("wb", F.split(F.col("gram"), " ")[1])
    )
    ua = uni.select(F.col("w").alias("wa"), F.col("n_w").alias("n_a"))
    ub = uni.select(F.col("w").alias("wb"), F.col("n_w").alias("n_b"))
    scored = (
        bi.join(ua, "wa")
        .join(ub, "wb")
        .crossJoin(F.broadcast(total))
        .select(
            "gram",
            F.col("n_bigram").cast("long").alias("n_bigram"),
            F.expr(
                f"(n_bigram * n_tokens * {scale}) div (n_a * n_b)"
            ).alias("score_u"),
        )
    )
    return scored.orderBy(
        F.col("score_u").desc(), F.col("gram").asc()
    ).limit(topk)


def compression_signal(
    df: "DataFrame",
    id_col: str = "url",
    text_col: str = "text",
    level: int = 6,
) -> "DataFrame":
    """(id, n_bytes, comp_bytes, ratio_u): the zlib compression-ratio
    quality signal (functions/text.compress_ratio_u) per document —
    templated/repetitive pages compress hard and get filtered.

    Arrow ``mapInPandas`` (zlib is not expressible in codegen), no
    shuffle, column-pruned scan — the same embarrassingly-parallel
    shape as extraction; at 100 TB this rides the same corpus pass as
    the other scan-side quality features.
    """
    from pyspark.sql import types as T

    from ..functions.text import compress_ratio_u
    from .rows import map_rows

    schema = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("n_bytes", T.LongType(), True),
            T.StructField("comp_bytes", T.LongType(), True),
            T.StructField("ratio_u", T.LongType(), True),
        ]
    )

    return map_rows(
        df, [id_col, text_col],
        lambda i, text: [(str(i), *compress_ratio_u(text or "", level))],
        schema,
    )


def cooccurrence_counts(
    docs: "DataFrame",
    text_col: str = "text",
    window: int = 2,
    min_count: int = 2,
) -> "DataFrame":
    """(t_a, t_b, n): corpus-global windowed token co-occurrence counts
    — the GloVe/word2vec input statistic (Pennington et al. 2014 build
    exactly this matrix before factorizing it).

    A pair is two tokens at raw-split positions (i, j) with
    0 < j - i <= ``window``, keyed unordered (least, greatest), counted
    over the whole corpus, kept when n >= ``min_count``.

    Scale shape: pair generation is pure scan-side array code — for
    each offset d the token array is zipped with itself shifted by d
    (slice + zip_with, codegen; no positions self-join, no UDF) — then
    one explode feeds a single groupBy(t_a, t_b) with map-side partial
    aggregation. One shuffle total, proportional to distinct pairs,
    not corpus size.
    """
    from ..functions.text import _tokens

    toks = _tokens(F.col(text_col))
    empty = F.array().cast("array<struct<a:string,b:string>>")
    shifted = []
    for d in range(1, window + 1):
        n = F.size(toks) - d
        shifted.append(
            F.when(
                F.size(toks) > d,
                F.zip_with(
                    F.slice(toks, 1, n),
                    F.slice(toks, d + 1, n),
                    lambda a, b: F.struct(
                        F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
                    ),
                ),
            ).otherwise(empty)
        )
    pairs = docs.select(
        F.explode(F.concat(*shifted)).alias("p")
    ).select(F.col("p.a").alias("t_a"), F.col("p.b").alias("t_b"))
    return (
        pairs.filter((F.col("t_a") != "") & (F.col("t_b") != ""))
        .groupBy("t_a", "t_b")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
    )


def unigram_rarity(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = 1_000_000,
) -> "DataFrame":
    """(id, n_toks, rarity_u): per-document mean unigram surprisal
    surrogate — the integer-exact stand-in for the CCNet/KenLM
    perplexity filter (Wenzek et al. 2020 rank Common-Crawl docs by
    LM perplexity; rarity of a token under the corpus unigram LM is
    the log-free monotone surrogate).

    Per token: rarity_u(t) = (total_tokens * scale) div count(t) —
    inverse relative frequency in micro-units, floored to a long
    before the per-doc sum so the distributed fold is order-free.
    Per doc: rarity_u = sum div n_toks. Empty docs score 0.

    Scale shape: one shuffle to build the unigram table (map-side
    combined), one join of the token stream against it keyed on the
    token (AQE broadcasts it while it fits; shuffle-join beyond),
    one shuffle for the per-doc sum. Overflow bound: exact while
    total_tokens * scale < 2^63 (~9.2e12 tokens at scale 1e6 —
    shrink ``scale`` for a larger corpus).
    """
    from ..functions.text import _tokens

    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(_tokens(F.col(text_col))).alias("t"),
    ).filter(F.col("t") != "")
    counts = toks.groupBy("t").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").cast("long").alias("total"))
    scored = (
        toks.join(counts, "t")
        .crossJoin(F.broadcast(total))
        .select("id", F.expr(f"(total * {scale}) div cnt").alias("r"))
        .groupBy("id")
        .agg(F.sum("r").alias("sr"), F.count("*").alias("n"))
        .select(
            "id",
            F.col("n").cast("long").alias("n_toks"),
            F.expr("sr div n").cast("long").alias("rarity_u"),
        )
    )
    ids = docs.select(F.col(id_col).alias("id"))
    return ids.join(scored, "id", "left").select(
        "id",
        F.coalesce("n_toks", F.lit(0)).cast("long").alias("n_toks"),
        F.coalesce("rarity_u", F.lit(0)).cast("long").alias("rarity_u"),
    )


def range_histogram(
    df: "DataFrame",
    value_col: str = "value",
    n_bins: int = 8,
    scale: int = 1_000_000,
    max_distinct_uncapped: int | None = 2_000_000,
) -> "DataFrame":
    """(bin, n_rows, min_u, max_u): exact equi-depth histogram of
    ``floor(value * scale)`` — the boundary table a range partitioner
    (distributed sort, ORDER BY writes) plans with. Spark's own
    RangePartitioner samples; this is the exact twin, and exactness is
    what makes it oracle-checkable.

    Boundaries are the ceil-rank values at ranks ceil(i*n/n_bins); a
    value lands in bin = #(boundaries < value), so heavy single values
    never split across bins (they may leave later bins short — the
    honest answer for a skewed key).

    Scale shape: the corpus is touched ONCE (groupBy value -> (v, cnt)
    histogram, map-side combined); everything after — cumulative
    counts, boundary selection, bin assignment, per-bin rollup — runs
    on the distinct-value histogram, not the rows. The one global
    window orders that histogram, so its single-partition sort is
    distinct-values-sized; for a near-unique 100 TB key, feed a
    deterministic md5 sample (operators/split.mixture_sample) instead
    of the full table. That assumption is now ENFORCED, not just
    documented (same guard pattern as dedup.ngram_jaccard_pairs): an
    ``approx_count_distinct`` probe (one linear agg — vs the
    single-partition sort it gates) raises above
    ``max_distinct_uncapped`` distinct scaled values; disable
    explicitly with ``max_distinct_uncapped=None``. NULL and NaN
    excluded (the portable contract, see group_quantiles_u).
    """
    v = F.col(value_col).cast("double")
    vu = df.where(v.isNotNull() & ~F.isnan(v)).select(
        F.floor(v * scale).cast("long").alias("v")
    )
    if max_distinct_uncapped is not None:
        row = vu.agg(F.approx_count_distinct("v").alias("d")).first()
        d = row["d"] if row is not None else 0
        if d > max_distinct_uncapped:
            raise ValueError(
                f"range_histogram: ~{d} distinct values of "
                f"{value_col!r} exceed {max_distinct_uncapped} — the "
                "cumulative window sorts the distinct-value histogram "
                "on ONE partition, which OOMs a reducer on near-unique "
                "keys. Feed a deterministic sample (e.g. "
                "split.mixture_sample on md5) or explicitly disable "
                "the guard with max_distinct_uncapped=None."
            )
    hist = vu.groupBy("v").agg(F.count("*").alias("cnt"))
    wcum = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select("v", "cnt", F.sum("cnt").over(wcum).alias("cum"))
    total = hist.agg(F.sum("cnt").cast("long").alias("n"))
    ranks = (
        hist.sparkSession.range(1, n_bins)
        .select(F.col("id").alias("i"))
        .crossJoin(F.broadcast(total))
        .select("i", F.expr(f"(i * n + {n_bins - 1}) div {n_bins}").alias("r"))
    )
    bounds = (
        F.broadcast(ranks)
        .join(cum, F.col("cum") >= F.col("r"))
        .groupBy("i")
        .agg(F.min("v").alias("b"))
    )
    bl = bounds.agg(F.sort_array(F.collect_list("b")).alias("bl"))
    return (
        hist.crossJoin(F.broadcast(bl))
        .select(
            F.size(F.filter("bl", lambda x: F.col("v") > x))
            .cast("long")
            .alias("bin"),
            "v",
            "cnt",
        )
        .groupBy("bin")
        .agg(
            F.sum("cnt").cast("long").alias("n_rows"),
            F.min("v").alias("min_u"),
            F.max("v").alias("max_u"),
        )
    )


def script_mix(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = 1_000_000,
) -> "DataFrame":
    """(id, n_chars, latin_u, cyrillic_u, cjk_u, digit_u): per-document
    Unicode-script composition in micro-unit fractions — the script
    detector a multilingual pipeline runs before language ID (script
    gates which LID model applies; CJK vs Latin tokenization differs
    upstream of everything).

    Counts characters per script class via regexp_extract_all (the
    same JVM-side mechanism as the quality signals) over the BMP
    ranges Latin A-Za-z, Cyrillic U+0400-U+04FF, CJK Unified
    U+4E00-U+9FFF, digits; fractions as count * scale div n_chars
    (integer, cross-engine exact). Pure scan-side codegen: zero
    shuffles, zero joins — a free column on an existing corpus pass.
    """
    t = F.col(text_col)

    def cnt(pattern: str) -> "Column":
        return F.size(F.regexp_extract_all(t, F.lit(pattern), 0)).cast("long")

    counted = docs.select(
        F.col(id_col).alias("id"),
        F.length(t).cast("long").alias("n_chars"),
        cnt("[A-Za-z]").alias("_lat"),
        cnt("[\u0400-\u04FF]").alias("_cyr"),
        cnt("[\u4E00-\u9FFF]").alias("_cjk"),
        cnt("[0-9]").alias("_dig"),
    )
    def share(c: str) -> "Column":
        return (
            F.when(
                F.col("n_chars") > 0,
                F.expr(f"({c} * {scale}) div n_chars"),
            )
            .otherwise(F.lit(0))
            .cast("long")
        )

    return counted.select(
        "id",
        "n_chars",
        share("_lat").alias("latin_u"),
        share("_cyr").alias("cyrillic_u"),
        share("_cjk").alias("cjk_u"),
        share("_dig").alias("digit_u"),
    )


def skew_profile(
    df: "DataFrame",
    key_col: str,
    topk: int = 10,
    scale: int = 1_000_000,
) -> "DataFrame":
    """(key, n, share_u, rank): the ``topk`` heaviest values of a
    prospective join/groupBy key with their corpus share in
    micro-units — the diagnostic you run BEFORE shuffling 100 TB on a
    key, to decide whether it needs salting or an AQE skew hint (a key
    holding >1/partitions of the data guarantees a straggler).

    One map-side-combined shuffle for the per-key counts, a broadcast
    1-row total, then TakeOrdered for the top-k (cnt desc, key asc —
    deterministic at the boundary); the rank window runs on the k
    surviving rows only.
    """
    # NULL keys excluded: the two engines disagree on NULL sort order
    # (Spark NULLS FIRST vs DuckDB NULLS LAST), so a NULL at the top-k
    # boundary would rank differently — and a NULL join key is its own
    # pathology (it never matches), not a skew question.
    counts = (
        df.where(F.col(key_col).isNotNull())
        .groupBy(F.col(key_col).alias("key"))
        .agg(F.count("*").alias("n"))
    )
    total = counts.agg(F.sum("n").cast("long").alias("total"))
    top = (
        counts.orderBy(F.col("n").desc(), F.col("key").asc())
        .limit(topk)
        .crossJoin(F.broadcast(total))
        .select(
            "key",
            F.col("n").cast("long").alias("n"),
            F.expr(f"(n * {scale}) div total").alias("share_u"),
        )
    )
    w = Window.orderBy(F.col("n").desc(), F.col("key").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def distribution_drift(
    docs_a: "DataFrame",
    docs_b: "DataFrame",
    text_col: str = "text",
    topk: int = 20,
    scale: int = 1_000_000,
) -> "DataFrame":
    """(token, p_u, q_u, delta_u, rank): the ``topk`` tokens whose
    corpus share moved most between snapshot A and snapshot B —
    integer L1 drift on unigram distributions, the monitor a
    continuous-crawl pipeline reads to catch template floods, spam
    bursts, or topic shift before they poison a training mix (the
    log-free stand-in for KL drift).

    p_u/q_u = token share per snapshot in micro-units (cnt * scale
    div total; absent tokens score 0 via the full-outer join),
    delta_u = |p_u - q_u|. Two map-side-combined count shuffles, one
    token-keyed full-outer join, TakeOrdered top-k (delta desc, token
    asc), rank window on the k survivors only.
    """
    from ..functions.text import _tokens

    def counts(d: "DataFrame") -> "DataFrame":
        return (
            d.select(F.explode(_tokens(F.col(text_col))).alias("t"))
            .filter(F.col("t") != "")
            .groupBy("t")
            .agg(F.count("*").alias("cnt"))
        )
    ca, cb = counts(docs_a), counts(docs_b)
    # greatest(..,1): an empty snapshot must yield all-zero shares on
    # both engines, not Spark-NULL-vs-DuckDB-divide-by-zero drift
    ta = ca.agg(
        F.greatest(F.coalesce(F.sum("cnt"), F.lit(0)), F.lit(1))
        .cast("long")
        .alias("total_a")
    )
    tb = cb.agg(
        F.greatest(F.coalesce(F.sum("cnt"), F.lit(0)), F.lit(1))
        .cast("long")
        .alias("total_b")
    )
    joined = (
        ca.withColumnRenamed("cnt", "cnt_a")
        .join(cb.withColumnRenamed("cnt", "cnt_b"), "t", "full_outer")
        .crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
        .select(
            F.col("t").alias("token"),
            F.expr(f"(coalesce(cnt_a, 0L) * {scale}) div total_a").alias("p_u"),
            F.expr(f"(coalesce(cnt_b, 0L) * {scale}) div total_b").alias("q_u"),
        )
        .select(
            "token", "p_u", "q_u", F.abs(F.col("p_u") - F.col("q_u")).alias("delta_u")
        )
    )
    top = joined.orderBy(
        F.col("delta_u").desc(), F.col("token").asc()
    ).limit(topk)
    w = Window.orderBy(F.col("delta_u").desc(), F.col("token").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def zscore_outliers(
    events: "DataFrame",
    group_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
    z: int = 2,
    scale: int = 100,
) -> "DataFrame":
    """(group, id, value_u): rows whose value lies strictly more than
    ``z`` standard deviations from their group's mean — the per-slice
    anomaly screen (sensor spikes, bot bursts, price typos) run
    before values feed training statistics.

    Entirely in scaled integer units so both engines agree bit-for-
    bit: with v = floor(value * scale), n/s/q the per-group count/
    sum/sum-of-squares, the population test |v - s/n| >
    z * sqrt(n*q - s^2) / n is cross-multiplied to
    (n*v - s)^2 > z^2 * (n*q - s^2) — pure BIGINT arithmetic, no
    division, no doubles. The default centi-unit scale keeps the
    dominant term n^2 * v^2 inside int64 through ~10^5-row groups of
    ~10^3-magnitude values; for finer scales or full-corpus groups at
    crawl scale lift the cross-products to DECIMAL(38,0) — the
    comparison stays exact.

    Shape: one map-side-combined groupBy for the moments, one keyed
    join back (broadcastable: one row per group), one codegen'd
    filter. NULL and NaN values are excluded from both the moments
    and the candidates, mirroring the oracle's WHERE.
    """
    if z < 1:
        raise ValueError(f"z must be >= 1, got {z}")
    base = events.where(
        F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col))
    ).select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("id"),
        F.floor(F.col(value_col) * F.lit(int(scale))).alias("v_u"),
    )
    mom = base.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum("v_u").alias("s"),
        F.sum(F.col("v_u") * F.col("v_u")).alias("q"),
    )
    dev = F.col("n") * F.col("v_u") - F.col("s")
    var_n2 = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    return (
        base.join(mom, "grp")
        .where(dev * dev > F.lit(z * z) * var_n2)
        .select(
            F.col("grp").alias(group_col),
            F.col("id").alias(id_col),
            F.col("v_u").alias("value_u"),
        )
    )


def referential_orphans(
    child: "DataFrame",
    parent: "DataFrame",
    fk_col: str,
    pk_col: str,
) -> "DataFrame":
    """(fk, n_orphans): foreign-key values in ``child`` with no match
    in ``parent``, with their row counts — the referential-integrity
    audit a KG/warehouse load runs after ingest (dangling itemrefs,
    orders without customers, edges to vanished nodes). NULL keys are
    reported under the NULL fk row rather than silently dropped —
    they are integrity violations too.

    Shape: left_anti join (Catalyst broadcasts the parent's key
    projection when it is small, shuffles otherwise — no hint needed
    because only the single key column of the parent survives column
    pruning into the build side) + one map-side-combined count.
    """
    par = parent.select(F.col(pk_col).alias("_pk")).where(
        F.col(pk_col).isNotNull()
    )
    return (
        child.select(F.col(fk_col).alias("fk"))
        .join(par, F.col("fk") == F.col("_pk"), "left_anti")
        .groupBy("fk")
        .agg(F.count("*").alias("n_orphans"))
    )


def winsorize_u(
    df: "DataFrame",
    group_col: str,
    id_col: str,
    value_col: str,
    lo_u: int = 10_000,
    hi_u: int = 990_000,
    scale: int = 1_000_000,
) -> "DataFrame":
    """(group, id, value_u, clipped_u): per-group winsorization — each
    value clipped to its group's exact discrete [lo_u, hi_u] quantile
    band (micro-unit fractions, ceil-rank semantics from
    :func:`group_quantiles_u`) — the tail-clamping step feature
    pipelines run so a price typo or sensor spike cannot dominate a
    normalization. NULL/NaN rows are excluded like the quantile
    contract.

    Shape: the quantile pass (one window exchange per group) reduces
    to ONE row per group, which broadcasts back onto the scan; the
    clip itself is codegen'd LEAST/GREATEST. Integer micro-units end
    to end, so both engines agree exactly.
    """
    if not (0 < lo_u <= hi_u <= scale):
        raise ValueError(f"need 0 < lo_u <= hi_u <= {scale}")
    qs = group_quantiles_u(
        df, group_col, value_col, qs_u=(lo_u, hi_u), scale=scale
    )
    band = qs.groupBy(group_col).agg(
        F.max(
            F.when(F.col("q_u") == lo_u, F.col("quantile_u"))
        ).alias("_lo"),
        F.max(
            F.when(F.col("q_u") == hi_u, F.col("quantile_u"))
        ).alias("_hi"),
    )
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull() & ~F.isnan(v)).select(
        F.col(group_col),
        F.col(id_col),
        F.floor(v * scale).cast("long").alias("value_u"),
    )
    return base.join(F.broadcast(band), group_col).select(
        group_col,
        id_col,
        "value_u",
        F.least(F.greatest(F.col("value_u"), F.col("_lo")), F.col("_hi")).alias(
            "clipped_u"
        ),
    )


def bigram_surprisal(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = 1_000_000,
) -> "DataFrame":
    """(id, n_bigrams, surprisal_u): per-document mean bigram
    surprisal under an add-one-smoothed bigram LM trained on the same
    corpus — the context-conditional upgrade of ``unigram_rarity`` and
    the integer-exact stand-in for the CCNet/KenLM perplexity filter
    (Wenzek et al. 2020 rank Common-Crawl documents by 5-gram LM
    perplexity; a corpus bigram LM is the smallest model that still
    scores *sequences*, not bags).

    Shared contract (the DuckDB oracle rebuilds every step):
    tokens = non-empty normalized whitespace tokens; V = distinct
    token count; ctx(t1) = occurrences of t1 as a bigram context
    (= sum of bigram counts over t2); per bigram
    ``surprisal_u = ((ctx(t1) + V) * scale) div (cnt(t1,t2) + 1)``
    — the floored inverse of the add-one conditional probability
    ``(cnt12 + 1) / (ctx1 + V)`` in micro-units; per document the
    mean is ``sum div n_bigrams`` over its bigram stream (docs with
    fewer than two tokens score 0). Integer division before the
    per-doc sum keeps the distributed fold order-free.

    Scale shape: the bigram stream is a scan-side array transform +
    explode (no shuffle); one map-side-combined shuffle builds the
    bigram table; the context table and V derive from it by a second
    (much smaller) aggregation; scoring joins the stream against the
    bigram table keyed (t1, t2) — AQE broadcasts it while it fits —
    and one final shuffle sums per document. Overflow bound: exact
    while (max ctx + V) * scale < 2^63, i.e. ~9.2e12 context
    occurrences at scale 1e6; shrink ``scale`` beyond.
    """
    from ..functions.text import _tokens

    toks = F.filter(_tokens(F.col(text_col)), lambda t: t != "")
    # zip_with over the two shifted slices: docs with 0 or 1 tokens
    # yield an empty bigram array (sequence(1, 0) would DESCEND in
    # Spark and emit a junk pair — do not reintroduce it here)
    pairs = docs.select(
        F.col(id_col).alias("id"), toks.alias("toks")
    ).select(
        "id",
        F.explode(
            F.expr(
                "zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)),"
                " slice(toks, 2, greatest(size(toks) - 1, 0)),"
                " (a, b) -> struct(a AS t1, b AS t2))"
            )
        ).alias("bg"),
    ).select("id", F.col("bg.t1").alias("t1"), F.col("bg.t2").alias("t2"))

    bg_counts = pairs.groupBy("t1", "t2").agg(F.count("*").alias("cnt12"))
    ctx_counts = bg_counts.groupBy("t1").agg(F.sum("cnt12").alias("ctx1"))
    vocab = (
        docs.select(F.explode(toks).alias("t"))
        .agg(F.countDistinct("t").cast("long").alias("v"))
    )

    scored = (
        pairs.join(bg_counts, ["t1", "t2"])
        .join(ctx_counts, "t1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "id",
            F.expr(f"((ctx1 + v) * {scale}) div (cnt12 + 1)").alias("s"),
        )
        .groupBy("id")
        .agg(F.sum("s").alias("ss"), F.count("*").alias("n"))
        .select(
            "id",
            F.col("n").cast("long").alias("n_bigrams"),
            F.expr("ss div n").cast("long").alias("surprisal_u"),
        )
    )
    ids = docs.select(F.col(id_col).alias("id"))
    return ids.join(scored, "id", "left").select(
        "id",
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce("surprisal_u", F.lit(0)).cast("long").alias("surprisal_u"),
    )


def tercile_buckets(
    scored: "DataFrame",
    id_col: str = "id",
    value_col: str = "surprisal_u",
    max_distinct_uncapped: int | None = 2_000_000,
) -> "DataFrame":
    """(id, value, bucket): CCNet-style head/middle/tail split of a
    scored corpus (Wenzek et al. 2020 §4.3 keep the lowest-perplexity
    third as 'head'). Exact tercile cuts, no engine quantile sketch:

    cut1 = min v with cum(v) * 3 >= n, cut2 = min v with
    cum(v) * 3 >= 2n over the (value, count) histogram's cumulative
    counts; bucket = head (v <= cut1), middle (v <= cut2), tail.
    Ties share a bucket by construction (the cut compares values,
    never row ranks), so the assignment is deterministic on both
    engines regardless of sort stability.

    Scale shape: one map-side-combined shuffle to the value histogram;
    the cumulative window runs over DISTINCT values only; the two cuts
    broadcast back onto the scan — assignment itself is shuffle-free.
    Like ``range_histogram`` the distinct-value histogram must fit one
    reducer: a cheap ``approx_count_distinct`` probe raises above
    ``max_distinct_uncapped`` (pass a coarser pre-floored value or a
    sample instead of disabling the guard at crawl scale).
    """
    base = scored.select(F.col(id_col).alias("id"), F.col(value_col).alias("v"))
    if max_distinct_uncapped is not None:
        probe = base.agg(
            F.approx_count_distinct("v").alias("d"), F.count("*").alias("n")
        ).head()
        if probe["d"] > max_distinct_uncapped:
            raise ValueError(
                f"tercile_buckets: ~{probe['d']} distinct values exceeds "
                f"max_distinct_uncapped={max_distinct_uncapped}; the "
                "cumulative window over the distinct-value histogram would "
                "sort on one reducer. Pre-floor the value more coarsely or "
                "feed a sample."
            )
    hist = base.groupBy("v").agg(F.count("*").alias("cnt"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("v", F.sum("cnt").over(w).alias("cum"))
    total = base.agg(F.count("*").alias("n"))
    cuts = (
        cum.crossJoin(F.broadcast(total))
        .agg(
            F.min(F.when(F.col("cum") * 3 >= F.col("n"), F.col("v"))).alias(
                "cut1"
            ),
            F.min(
                F.when(F.col("cum") * 3 >= 2 * F.col("n"), F.col("v"))
            ).alias("cut2"),
        )
    )
    return base.crossJoin(F.broadcast(cuts)).select(
        "id",
        F.col("v").alias(value_col),
        F.when(F.col("v") <= F.col("cut1"), F.lit("head"))
        .when(F.col("v") <= F.col("cut2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def ngram_diversity(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = 1_000_000,
) -> "DataFrame":
    """(id, n1, d1, n2, d2, div1_u, div2_u): per-document distinct-n
    diversity — the distinct-unigram and distinct-bigram ratios
    (Li et al. 2016's distinct-1/distinct-2, the standard degeneracy
    metric for generated/synthetic text; low distinct-2 flags the
    repetitive boilerplate and model-loop output a training-data
    curation pass drops).

    Contract: tokens = non-empty normalized whitespace tokens;
    bigrams = adjacent token pairs joined with a single space (tokens
    cannot contain spaces, so the join is collision-free);
    ``div{n}_u = (d{n} * scale) div n{n}`` and 0 when the stream is
    empty.

    Scale shape: everything is in-row array code (split, slice,
    zip_with, array_distinct) inside the scan stage — ZERO shuffles,
    zero joins, zero Python; the cheapest quality gate in the file.
    """
    from ..functions.text import _tokens

    toks = F.filter(_tokens(F.col(text_col)), lambda t: t != "")
    out = docs.select(
        F.col(id_col).alias("id"), toks.alias("toks")
    ).select(
        "id",
        "toks",
        F.expr(
            "zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)),"
            " slice(toks, 2, greatest(size(toks) - 1, 0)),"
            " (a, b) -> concat(a, ' ', b))"
        ).alias("bgs"),
    ).select(
        "id",
        F.size("toks").cast("long").alias("n1"),
        F.size(F.array_distinct("toks")).cast("long").alias("d1"),
        F.size("bgs").cast("long").alias("n2"),
        F.size(F.array_distinct("bgs")).cast("long").alias("d2"),
    )
    div = lambda d, n: F.when(  # noqa: E731
        F.col(n) > 0, F.expr(f"({d} * {scale}) div {n}")
    ).otherwise(F.lit(0)).cast("long")
    return out.select(
        "id", "n1", "d1", "n2", "d2",
        div("d1", "n1").alias("div1_u"),
        div("d2", "n2").alias("div2_u"),
    )


def dsir_weights(
    docs: "DataFrame",
    target: "Column",
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 256,
    scale: int = 1_000_000,
) -> "DataFrame":
    """(id, n_feats, importance_u): DSIR-style importance weights
    (Xie et al. 2023, Data Selection via Importance Resampling) —
    score every raw document by how much its hashed bag-of-n-grams
    resembles a small TARGET distribution (e.g. the wiki/books slice)
    relative to the raw corpus. The top-weight documents are what a
    targeted pretraining mixture keeps.

    Features = unigrams + adjacent bigrams, hashed to ``buckets``
    cells by the first 8 md5 nibbles mod buckets (DSIR's hashed
    n-gram generative model). Per feature occurrence the add-one
    likelihood ratio in micro-units:
    ``w_u = ((cnt_target[b] + 1) * scale) div (cnt_raw[b] + 1)``
    (the floored ratio stands in for the log-ratio: monotone in it
    per feature, integer-exact, fold-order-free); per document
    ``importance_u = sum(w_u) div n_feats`` (0 when featureless).
    ``target`` is a boolean Column over ``docs`` rows; the target set
    is a subset of raw, as in continued-pretraining selection.

    Scale shape: the bucket LM is ``buckets`` rows REGARDLESS of
    corpus size (the point of feature hashing) — ONE map-side-combined
    shuffle builds both counts (conditional sums), the table
    broadcasts back onto the feature stream, one final shuffle sums
    per document. Overflow-exact while (max bucket count + 1) * scale
    < 2^63.
    """
    from ..functions.text import _tokens

    toks = F.filter(_tokens(F.col(text_col)), lambda t: t != "")
    feats = docs.select(
        F.col(id_col).alias("id"),
        target.cast("boolean").alias("is_t"),
        toks.alias("toks"),
    ).select(
        "id",
        "is_t",
        F.explode(
            F.expr(
                "concat(toks, zip_with("
                "slice(toks, 1, greatest(size(toks) - 1, 0)),"
                " slice(toks, 2, greatest(size(toks) - 1, 0)),"
                " (a, b) -> concat(a, ' ', b)))"
            )
        ).alias("feat"),
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("feat")), 1, 8), 16, 10).cast("long"),
        F.lit(buckets),
    )
    stream = feats.select("id", "is_t", bucket.alias("b"))
    lm = stream.groupBy("b").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).cast("long").alias("cnt_t"),
        F.count("*").cast("long").alias("cnt_r"),
    )
    scored = (
        stream.join(F.broadcast(lm), "b")
        .select(
            "id",
            F.expr(f"((cnt_t + 1) * {scale}) div (cnt_r + 1)").alias("w"),
        )
        .groupBy("id")
        .agg(F.sum("w").alias("sw"), F.count("*").alias("n"))
        .select(
            "id",
            F.col("n").cast("long").alias("n_feats"),
            F.expr("sw div n").cast("long").alias("importance_u"),
        )
    )
    ids = docs.select(F.col(id_col).alias("id"))
    return ids.join(scored, "id", "left").select(
        "id",
        F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
        F.coalesce("importance_u", F.lit(0)).cast("long").alias("importance_u"),
    )


def fineweb_rules(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = 1_000_000,
    max_dup_line_char_u: int = 300_000,
    min_punct_end_u: int = 120_000,
    max_short_line_u: int = 670_000,
) -> "DataFrame":
    """(doc_id, n_lines, dup_char_u, punct_end_u, short_line_u, keep):
    the LINE-level quality heuristics of FineWeb/C4 that Gopher's
    word-level rules don't cover (Penedo et al. 2024 §3.3; Raffel et
    al. 2020 keep only lines ending in terminal punctuation):

    - dup_char_u: fraction of characters sitting in repeated lines
      (chars(lines) - chars(distinct lines)) / chars(lines) — the
      within-page boilerplate signal (nav bars, cookie banners
      repeated per section);
    - punct_end_u: fraction of lines whose rtrim ends in . ! ? or "
      — prose ends in punctuation, menus and link lists don't;
    - short_line_u: fraction of lines under 30 trimmed chars;
    - keep = dup_char_u <= max AND punct_end_u >= min AND
      short_line_u <= max (documents with zero lines of content
      fail the punct floor and drop, like C4).

    Lines split on \\n over coalesce(text, ''); all ratios are
    floored micro-units with 0 denominators scoring 0. Everything is
    in-row array code — ZERO shuffles, zero joins, zero Python; like
    ``gopher_rules`` this gate is a free column on the ingest scan.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(txt, "\n")
    chars = "aggregate(lines, 0L, (a, x) -> a + length(x))"
    dchars = (
        "aggregate(array_distinct(lines), 0L, (a, x) -> a + length(x))"
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"), lines.alias("lines")
    ).select(
        "doc_id",
        F.size("lines").cast("long").alias("n_lines"),
        F.expr(chars).cast("long").alias("chars"),
        F.expr(dchars).cast("long").alias("dchars"),
        F.size(
            F.expr(
                "filter(lines, x -> rtrim(x) rlike '[.!?\"]$')"
            )
        ).cast("long").alias("n_punct"),
        F.size(
            F.expr("filter(lines, x -> length(trim(x)) < 30)")
        ).cast("long").alias("n_short"),
    )
    ratio = lambda num, den: F.when(  # noqa: E731
        F.col(den) > 0, F.expr(f"({num} * {scale}) div {den}")
    ).otherwise(F.lit(0)).cast("long")
    m = base.select(
        "doc_id",
        "n_lines",
        ratio("(chars - dchars)", "chars").alias("dup_char_u"),
        ratio("n_punct", "n_lines").alias("punct_end_u"),
        ratio("n_short", "n_lines").alias("short_line_u"),
    )
    return m.select(
        "doc_id",
        "n_lines",
        "dup_char_u",
        "punct_end_u",
        "short_line_u",
        (
            (F.col("dup_char_u") <= max_dup_line_char_u)
            & (F.col("punct_end_u") >= min_punct_end_u)
            & (F.col("short_line_u") <= max_short_line_u)
        ).alias("keep"),
    )


def ranking_auc(
    df: "DataFrame",
    score_col: str,
    label_col: str,
) -> "DataFrame":
    """One row (n_pos, n_neg, auc_u): ROC-AUC of ``score_col`` as a
    ranker for boolean ``label_col``, via the Mann-Whitney identity —
    AUC = P(score_pos > score_neg) + P(score_pos = score_neg)/2 —
    computed over the GROUPED score histogram, never over ranked rows.

    Shape: one map-side-combined groupBy(score) collapses the corpus
    to at most |score domain| rows (quality_u lives in [0, 1e6], so
    the histogram is bounded at 1e6+1 rows at ANY corpus size); the
    ordered cumulative window then runs over that bounded histogram,
    not the data — the classic trick that turns the O(n log n)
    global-rank AUC into a histogram scan. All arithmetic is BIGINT:
    U2 = sum(2 * np(s) * cum_neg(<s) + np(s) * nn(s)), AUC micro-units
    = U2 * 1e6 div (2 * P * N). Ties get the exact half credit with
    no floats. A 100 TB run with >~3e6 positives x negatives per side
    would lift U2 into DECIMAL(38) — the histogram shape is unchanged.
    """
    hist = (
        df.select(
            F.col(score_col).cast("long").alias("s"),
            F.when(F.col(label_col), F.lit(1)).otherwise(F.lit(0)).alias("p"),
        )
        .groupBy("s")
        .agg(
            F.sum("p").cast("long").alias("np"),
            F.sum(F.lit(1) - F.col("p")).cast("long").alias("nn"),
        )
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    terms = hist.select(
        "np",
        "nn",
        F.coalesce(F.sum("nn").over(w), F.lit(0)).alias("cum_nn"),
    )
    agg = terms.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        F.sum(
            F.expr("2 * np * cum_nn + np * nn")
        ).cast("long").alias("u2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.expr("(u2 * 1000000) div (2 * n_pos * n_neg)"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("auc_u"),
    )


def shrunk_group_prior(
    df: "DataFrame",
    group_col: str,
    value_col: str,
    alpha: int = 20,
) -> "DataFrame":
    """(group, n_docs, mean_u, prior_u): per-group mean of an integer
    micro-unit signal, shrunk toward the corpus mean with additive
    smoothing — prior = (sum_g + alpha * corpus_mean) / (n_g + alpha),
    kept exact as (sum_g * T + alpha * S) div ((n_g + alpha) * T)
    where S/T is the corpus sum/count. The per-DOMAIN quality prior a
    curation pipeline feeds back into crawl scheduling: small domains
    inherit the corpus prior, large domains earn their own mean.

    Shape: one map-side-combined groupBy(group); the corpus total is a
    one-row broadcast-joined frame (same bounded crossJoin pattern as
    the corpus-drift queries) — no second shuffle over the data. All
    BIGINT (exact through sf1-scale sums; a 100 TB run lifts the
    sum * T product into DECIMAL(38), shape unchanged).
    """
    vals = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("long").alias("v"),
    )
    per = vals.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("v").cast("long").alias("sv"),
    )
    total = vals.agg(
        F.count("*").cast("long").alias("t_cnt"),
        F.sum("v").cast("long").alias("t_sum"),
    )
    a = int(alpha)
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            F.col("grp").alias(group_col),
            "n_docs",
            F.expr("sv div n_docs").cast("long").alias("mean_u"),
            F.expr(
                f"(sv * t_cnt + {a} * t_sum)"
                f" div ((n_docs + {a}) * t_cnt)"
            ).cast("long").alias("prior_u"),
        )
    )


def linreg_fit(
    df: "DataFrame",
    x_col: str,
    y_col: str,
) -> "DataFrame":
    """One row (n, slope_u, intercept_u): ordinary-least-squares fit
    y = slope * x + intercept via the closed-form normal equations —
    slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2),
    intercept = (Sy*Sxx - Sx*Sxy) / (n*Sxx - Sx^2) — over moment sums
    accumulated as exact BIGINTs in ONE map-side-combined aggregation.
    The trend-line fit a curation dashboard runs over (length, quality)
    or (rank, log-freq) pairs; at 100 TB it is still one linear agg
    producing five numbers.

    Determinism: sums are exact; the final ratios are a fixed double
    expression tree (bigint->double casts, one multiply-subtract, one
    divide, floor) evaluated in the identical shape on both engines —
    IEEE ops on identical inputs cannot drift. Zero x-variance reports
    slope_u = intercept_u = 0.
    """
    base = df.select(
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    agg = base.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr("x * x")).cast("long").alias("sxx"),
        F.sum(F.expr("x * y")).cast("long").alias("sxy"),
    )
    num_s = (
        "cast(n as double) * cast(sxy as double)"
        " - cast(sx as double) * cast(sy as double)"
    )
    num_i = (
        "cast(sy as double) * cast(sxx as double)"
        " - cast(sx as double) * cast(sxy as double)"
    )
    den = (
        "cast(n as double) * cast(sxx as double)"
        " - cast(sx as double) * cast(sx as double)"
    )
    return agg.select(
        "n",
        F.expr(
            f"CASE WHEN ({den}) > 0 THEN"
            f" cast(floor(({num_s}) / ({den}) * 1000000.0) as bigint)"
            f" ELSE 0 END"
        ).alias("slope_u"),
        F.expr(
            f"CASE WHEN ({den}) > 0 THEN"
            f" cast(floor(({num_i}) / ({den}) * 1000000.0) as bigint)"
            f" ELSE 0 END"
        ).alias("intercept_u"),
    )


def calibration_bins(
    df: "DataFrame",
    score_col: str,
    label_col: str,
    bins: int = 10,
    scale: int = 1_000_000,
) -> "DataFrame":
    """(bin, n, n_pos, rate_u): reliability-diagram buckets — the
    micro-unit score domain [0, scale] cut into ``bins`` equal-width
    bins (top edge folded into the last bin), each reporting its
    positive-label rate. The companion readout to ranking_auc: AUC
    says the scorer ORDERS well, the calibration bins say whether the
    score VALUE means what it claims. One map-side-combined groupBy
    over at most ``bins`` output rows at any corpus size.
    """
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    b = F.least(
        F.lit(bins - 1),
        F.expr(f"(cast({score_col} as bigint) * {bins}) div {scale}"),
    ).cast("long").alias("bin")
    agg = (
        df.select(
            b,
            F.when(F.col(label_col), F.lit(1)).otherwise(F.lit(0)).alias("p"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("p").cast("long").alias("n_pos"),
        )
    )
    return agg.select(
        "bin",
        "n",
        "n_pos",
        F.expr("(n_pos * 1000000) div n").cast("long").alias("rate_u"),
    )


def vocab_saturation(
    df: "DataFrame",
    text_col: str,
    id_col: str,
    buckets: int = 8,
) -> "DataFrame":
    """(bucket, new_terms, cum_vocab, bucket_tokens, cum_tokens):
    Heaps-law vocabulary-growth curve — the corpus is cut into
    ``buckets`` equal id-order prefixes and each bucket reports how
    many NEVER-SEEN-BEFORE terms it contributes, i.e. the marginal
    vocabulary return of ingesting one more corpus slice. Flattening
    cum_vocab = the "more data stops adding words" saturation signal
    a crawl-budget decision reads.

    Shape: exact, no sketch — each token's FIRST bucket is
    min(bucket) in one map-side-combined groupBy(token) (the same
    token-domain-sized shuffle as corpus_ngrams); per-bucket
    histograms and the cumulative window then run over at most
    ``buckets`` rows. The corpus is scanned once; nothing data-sized
    is sorted. Empty tokens are excluded on both engines.
    """
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    from .dedup import shingles

    total = df.agg(F.count("*").cast("long").alias("t_n"))
    toks = (
        df.crossJoin(F.broadcast(total))
        .select(
            F.least(
                F.lit(buckets - 1),
                F.expr(f"(cast({id_col} as bigint) * {buckets}) div t_n"),
            ).cast("long").alias("bucket"),
            F.explode(shingles(F.col(text_col), 1)).alias("tok"),
        )
        .where(F.col("tok") != "")
    )
    firsts = toks.groupBy("tok").agg(F.min("bucket").alias("b"))
    newv = firsts.groupBy(F.col("b").alias("bucket")).agg(
        F.count("*").cast("long").alias("new_terms")
    )
    btoks = toks.groupBy("bucket").agg(
        F.count("*").cast("long").alias("bucket_tokens")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    joined = btoks.join(newv, "bucket", "left").select(
        "bucket",
        F.coalesce("new_terms", F.lit(0)).cast("long").alias("new_terms"),
        "bucket_tokens",
    )
    return joined.select(
        "bucket",
        "new_terms",
        F.sum("new_terms").over(w).cast("long").alias("cum_vocab"),
        "bucket_tokens",
        F.sum("bucket_tokens").over(w).cast("long").alias("cum_tokens"),
    )


def spearman_rho(
    df: "DataFrame",
    x_col: str,
    y_col: str,
) -> "DataFrame":
    """One row (n, rho2_u, sign): Spearman rank correlation between
    two integer signals, tie-exact, computed WITHOUT ranking the data
    rows — each side collapses to its grouped value histogram, the
    average rank of a tied value v is cum_count(<v) + (n_v + 1)/2,
    held exact in DOUBLED half-units 2*cum + n_v + 1 (always an
    integer), and rows get their two ranks back by joining on the
    value. Pearson over the paired half-unit ranks (the constant
    factor 2 cancels) with the same exact-BIGINT-sums + fixed double
    expression tree as signal_corr, reported as floor(rho^2 * 1e6)
    plus a sign column.

    Shape: two map-side-combined histograms (bounded by the value
    domains, e.g. <= 1e6+1 rows for micro-unit scores), two cumulative
    windows over those bounded histograms, two joins back to the rows
    (broadcast-sized whenever the domain is), one final aggregation.
    The data is never globally sorted — ranks come from histograms.
    Rank products reach ~(2n)^2; past ~3e9 rows lift the sums into
    DECIMAL(38), shape unchanged.
    """

    def ranks(col: str, alias: str) -> "DataFrame":
        hist = (
            df.select(F.col(col).cast("long").alias("v"))
            .groupBy("v")
            .agg(F.count("*").cast("long").alias("c"))
        )
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
        return hist.select(
            F.col("v").alias(col),
            (
                F.lit(2) * F.coalesce(F.sum("c").over(w), F.lit(0))
                + F.col("c")
                + F.lit(1)
            ).cast("long").alias(alias),
        )

    paired = (
        df.select(
            F.col(x_col).cast("long").alias(x_col),
            F.col(y_col).cast("long").alias(y_col),
        )
        .join(F.broadcast(ranks(x_col, "rx")), x_col)
        .join(F.broadcast(ranks(y_col, "ry")), y_col)
    )
    agg = paired.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rx").cast("long").alias("sx"),
        F.sum("ry").cast("long").alias("sy"),
        F.sum(F.expr("rx * rx")).cast("long").alias("sxx"),
        F.sum(F.expr("ry * ry")).cast("long").alias("syy"),
        F.sum(F.expr("rx * ry")).cast("long").alias("sxy"),
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
        "n",
        F.expr(
            f"CASE WHEN ({dx}) > 0 AND ({dy}) > 0 THEN"
            f" cast(floor((({num}) * ({num})) / (({dx}) * ({dy}))"
            f" * 1000000.0) as bigint) ELSE 0 END"
        ).alias("rho2_u"),
        F.expr(
            f"CASE WHEN ({num}) > 0 THEN 1 WHEN ({num}) < 0 THEN -1"
            f" ELSE 0 END"
        ).cast("long").alias("sign"),
    )


def grouped_ranking_auc(
    df: "DataFrame",
    group_col: str,
    score_col: str,
    label_col: str,
) -> "DataFrame":
    """(group, n_pos, n_neg, auc_u): ranking_auc per group — the
    scorer-fairness-by-domain readout (a scorer can rank well globally
    while inverting inside one source). Same histogram trick, now
    partitioned: the cumulative window runs over per-group score
    histograms (bounded by the score domain per group), never over
    data rows; groups lacking both classes report auc_u = 0. One
    map-side-combined groupBy(group, score) shuffle plus a
    group-partitioned window."""
    hist = (
        df.select(
            F.col(group_col).alias("grp"),
            F.col(score_col).cast("long").alias("s"),
            F.when(F.col(label_col), F.lit(1)).otherwise(F.lit(0)).alias("p"),
        )
        .groupBy("grp", "s")
        .agg(
            F.sum("p").cast("long").alias("np"),
            F.sum(F.lit(1) - F.col("p")).cast("long").alias("nn"),
        )
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    terms = hist.select(
        "grp",
        "np",
        "nn",
        F.coalesce(F.sum("nn").over(w), F.lit(0)).alias("cum_nn"),
    )
    agg = terms.groupBy("grp").agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        F.sum(F.expr("2 * np * cum_nn + np * nn")).cast("long").alias("u2"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.expr("(u2 * 1000000) div (2 * n_pos * n_neg)"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("auc_u"),
    )


def welch_z(
    df: "DataFrame",
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> "DataFrame":
    """One row (n_a, n_b, mean_a_u, mean_b_u, z_u): Welch's
    two-sample z statistic for mean(value | group_a) vs
    mean(value | group_b) — z = (ma - mb) / sqrt(va/na + vb/nb) with
    sample variances — the A/B readout for "did the new filter change
    quality on this slice". Both groups' moments come from ONE
    map-side-combined pass (sum/sumsq per group); the statistic is a
    fixed double expression tree over exact BIGINT sums, reported as
    floor(z * 1e6). Degenerate inputs (n < 2 or zero variance both
    sides) report z_u = 0."""
    agg = (
        df.where(F.col(group_col).isin(group_a, group_b))
        .select(
            F.when(F.col(group_col) == group_a, F.lit(0))
            .otherwise(F.lit(1))
            .alias("g"),
            F.col(value_col).cast("long").alias("v"),
        )
        .groupBy()
        .agg(
            F.sum(F.when(F.col("g") == 0, 1).otherwise(0))
            .cast("long").alias("na"),
            F.sum(F.when(F.col("g") == 1, 1).otherwise(0))
            .cast("long").alias("nb"),
            F.sum(F.when(F.col("g") == 0, F.col("v")).otherwise(0))
            .cast("long").alias("sa"),
            F.sum(F.when(F.col("g") == 1, F.col("v")).otherwise(0))
            .cast("long").alias("sb"),
            F.sum(
                F.when(F.col("g") == 0, F.expr("v * v")).otherwise(0)
            ).cast("long").alias("qa"),
            F.sum(
                F.when(F.col("g") == 1, F.expr("v * v")).otherwise(0)
            ).cast("long").alias("qb"),
        )
    )
    # va/na + vb/nb with sample variance v = (n*q - s^2) / (n*(n-1))
    se2 = (
        "(cast(na as double) * cast(qa as double)"
        " - cast(sa as double) * cast(sa as double))"
        " / (cast(na as double) * cast(na as double)"
        " * (cast(na as double) - 1.0))"
        " + (cast(nb as double) * cast(qb as double)"
        " - cast(sb as double) * cast(sb as double))"
        " / (cast(nb as double) * cast(nb as double)"
        " * (cast(nb as double) - 1.0))"
    )
    diff = (
        "cast(sa as double) / cast(na as double)"
        " - cast(sb as double) / cast(nb as double)"
    )
    return agg.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.expr("CASE WHEN na > 0 THEN sa div na ELSE 0 END")
        .cast("long").alias("mean_a_u"),
        F.expr("CASE WHEN nb > 0 THEN sb div nb ELSE 0 END")
        .cast("long").alias("mean_b_u"),
        F.expr(
            f"CASE WHEN na >= 2 AND nb >= 2 AND ({se2}) > 0 THEN"
            f" cast(floor(({diff}) / sqrt({se2}) * 1000000.0) as bigint)"
            f" ELSE 0 END"
        ).alias("z_u"),
    )


def heldout_surprisal(
    train_docs: "DataFrame",
    valid_docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = 1_000_000,
) -> "DataFrame":
    """(id, n_bigrams, surprisal_u): per-document mean add-one bigram
    surprisal of the VALID split under an LM trained only on the
    TRAIN split — the held-out evaluation every LM-based quality
    filter should report instead of :func:`bigram_surprisal`'s
    self-scored (optimistic) number. Same integer contract, plus the
    two unseen cases self-scoring never exercises: an unseen bigram
    under a seen context costs ``(ctx1 + V) * scale`` (cnt12 = 0) and
    an unseen context costs ``V * scale`` (ctx1 = 0) — the add-one
    uniform floor, so every valid bigram is scorable (left joins +
    coalesce replace the inner joins).

    Scale shape unchanged: LM tables come from one map-side-combined
    shuffle over the train stream; the valid stream joins them keyed
    (t1, t2) / (t1) — AQE broadcasts while they fit — and one final
    shuffle sums per document. V counts TRAIN vocabulary (the model's
    event space; valid-only tokens are exactly the unseen mass the
    floor prices).
    """
    from ..functions.text import _tokens

    def _pairs(df: "DataFrame") -> "DataFrame":
        toks = F.filter(_tokens(F.col(text_col)), lambda t: t != "")
        return df.select(
            F.col(id_col).alias("id"), toks.alias("toks")
        ).select(
            "id",
            F.explode(
                F.expr(
                    "zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)),"
                    " slice(toks, 2, greatest(size(toks) - 1, 0)),"
                    " (a, b) -> struct(a AS t1, b AS t2))"
                )
            ).alias("bg"),
        ).select("id", F.col("bg.t1").alias("t1"), F.col("bg.t2").alias("t2"))

    train_pairs = _pairs(train_docs)
    bg_counts = train_pairs.groupBy("t1", "t2").agg(
        F.count("*").alias("cnt12")
    )
    ctx_counts = bg_counts.groupBy("t1").agg(F.sum("cnt12").alias("ctx1"))
    train_toks = F.filter(_tokens(F.col(text_col)), lambda t: t != "")
    vocab = train_docs.select(F.explode(train_toks).alias("t")).agg(
        F.countDistinct("t").cast("long").alias("v")
    )

    scored = (
        _pairs(valid_docs)
        .join(bg_counts, ["t1", "t2"], "left")
        .join(ctx_counts, "t1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "id",
            F.expr(
                f"((coalesce(ctx1, 0) + v) * {scale})"
                " div (coalesce(cnt12, 0) + 1)"
            ).alias("s"),
        )
        .groupBy("id")
        .agg(F.sum("s").alias("ss"), F.count("*").alias("n"))
        .select(
            "id",
            F.col("n").cast("long").alias("n_bigrams"),
            F.expr("ss div n").cast("long").alias("surprisal_u"),
        )
    )
    ids = valid_docs.select(F.col(id_col).alias("id"))
    return ids.join(scored, "id", "left").select(
        "id",
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce("surprisal_u", F.lit(0)).cast("long").alias("surprisal_u"),
    )


def collocations(
    docs: "DataFrame",
    min_count: int = 5,
    topn: int = 50,
    text_col: str = "text",
    scale: int = 1_000,
) -> "DataFrame":
    """(t1, t2, cnt12, cnt1, cnt2, lift_u, rank): corpus collocation
    extraction — the top-``topn`` adjacent word pairs by pointwise
    association lift p(t1,t2)/(p(t1)p(t2)), the classic PMI ranking
    (Church & Hanks 1990) used to mine multiword expressions for
    tokenizer/vocab curation. Ranking by lift IS ranking by PMI
    (log is monotone), and lift stays exactly rational:
    ``lift_u = cnt12 * T * scale div (cnt1 * cnt2)`` with integer
    marginals over the bigram stream (cnt1 = left marginal, cnt2 =
    right marginal, T = total bigrams), so scale=1000 means
    lift_u > 1000 <=> positive PMI. No floats, no libm — both
    engines replay it bit-identically.

    Shape: one map-side-combined shuffle to bigram counts; marginals
    re-aggregate the (already tiny) count table, the scalar T joins
    broadcast; ``min_count`` prunes the tail BEFORE the marginal
    joins and the single bounded top-n rank window. The product
    ``cnt12 * T * scale`` needs headroom: with long arithmetic it is
    exact up to T ~ 3e6 * sqrt(scale) pairs per corpus slice; shard
    by source and merge, or move the expression to DECIMAL(38,0),
    beyond that.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    from ..functions.text import _tokens

    toks = F.filter(_tokens(F.col(text_col)), lambda t: t != "")
    pairs = docs.select(toks.alias("toks")).select(
        F.explode(
            F.expr(
                "zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)),"
                " slice(toks, 2, greatest(size(toks) - 1, 0)),"
                " (a, b) -> struct(a AS t1, b AS t2))"
            )
        ).alias("bg")
    ).select(F.col("bg.t1").alias("t1"), F.col("bg.t2").alias("t2"))
    bgc = pairs.groupBy("t1", "t2").agg(F.count("*").alias("cnt12"))
    left = bgc.groupBy("t1").agg(F.sum("cnt12").alias("cnt1"))
    right = bgc.groupBy("t2").agg(F.sum("cnt12").alias("cnt2"))
    tot = bgc.agg(F.sum("cnt12").cast("long").alias("t"))
    scored = (
        bgc.where(F.col("cnt12") >= F.lit(int(min_count)))
        .join(left, "t1")
        .join(right, "t2")
        .crossJoin(F.broadcast(tot))
        .select(
            "t1",
            "t2",
            F.col("cnt12").cast("long").alias("cnt12"),
            F.col("cnt1").cast("long").alias("cnt1"),
            F.col("cnt2").cast("long").alias("cnt2"),
            F.expr(f"(cnt12 * t * {scale}) div (cnt1 * cnt2)")
            .cast("long")
            .alias("lift_u"),
        )
    )
    w = Window.orderBy(
        F.col("lift_u").desc(), F.col("t1").asc(), F.col("t2").asc()
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).where(F.col("rank") <= F.lit(int(topn)))
