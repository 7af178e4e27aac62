"""Hashed linear document classifier (the fastText shape).

fastText-style quality/topic classifiers over web corpora (Joulin et
al. 2016; the CCNet / GPT-3 "quality filter" is exactly this) score a
document as a linear function of hashed bag-of-words features. Here:

  bucket(token) = first 8 md5 hex digits mod n_buckets
  score_u(doc)  = (sum of w[bucket(t)] over tokens) * scale div n_toks
  label         = score_u >= threshold_u

with ``w`` a deterministic md5-derived integer weight table
(functions/lattice.linear_weights) embedded as a plan-time literal
array — the inference-time shape is identical with trained weights.

Scale shape: the whole inference is scan-side codegen — tokenize,
bucket, weight lookup (element_at on a literal array), and the
per-document sum as an array ``aggregate`` INSIDE the row. Zero
shuffles, zero joins (the weight table rides in the plan, the 100 TB
corpus never moves), no UDF, integer-exact end to end.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import functions as F

from ..functions.lattice import linear_weights
from ..functions.text import _tokens
from .similarity import lit_array

if TYPE_CHECKING:
    from pyspark.sql import Column, DataFrame


def linear_classify(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    threshold_u: int = 1_000_000_000,
    scale: int = 1_000_000,
    seed: str = "linear-lr-v1",
) -> "DataFrame":
    """(id, score_u, label): mean hashed-bucket weight per document in
    micro-units and the thresholded binary label. Empty documents
    score 0.

    ZERO shuffles: the per-document sum runs as an array ``aggregate``
    over the token array inside the row — no explode, no groupBy, no
    join. Each corpus row is read, scored, and labeled in place."""
    w = linear_weights(n_buckets, seed)
    warr = lit_array(w, "long")

    def _w(t: "Column") -> "Column":
        bucket = (
            F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
            % n_buckets
        )
        return F.element_at(warr, (bucket + 1).cast("int"))

    toks = F.filter(_tokens(F.col(text_col)), lambda t: t != "")
    sw = F.aggregate(
        F.transform(toks, _w), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return (
        docs.select(
            F.col(id_col).alias("id"),
            sw.alias("_sw"),
            F.size(toks).cast("long").alias("_n"),
        )
        .select(
            "id",
            F.when(F.col("_n") > 0, F.expr(f"(_sw * {scale}) div _n"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("score_u"),
        )
        .select(
            "id",
            "score_u",
            F.when(F.col("score_u") >= threshold_u, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("label"),
        )
    )


def confident_learning_joint(
    scored: "DataFrame",
    id_col: str = "doc_id",
    label_col: str = "label",
    prob_col: str = "p_u",
) -> "DataFrame":
    """(label, yhat, n, threshold_u): the binary confident joint
    (Northcutt et al. 2021, "Confident Learning") — the label-noise
    estimate every large-scale curation loop needs before trusting a
    filter trained on weak labels.

    Input: one row per example with the given (possibly noisy) binary
    label and the model's predicted probability of class 1 in
    micro-units (``p_u`` in [0, 1e6]). Per-class confidence
    thresholds are the integer-floor mean self-confidence of examples
    carrying that label, t_c = sum(conf_c | label=c) div count; an
    example is confidently class c when conf_c >= t_c (both classes
    eligible -> argmax confidence, tie -> class 1; neither ->
    abstain, dropped). The output cross-tab of given label vs
    confident label is the joint; OFF-DIAGONAL mass is the estimated
    label-error rate and feeds :func:`label_issues`.

    Scale shape: one map-side-combined groupBy for the thresholds
    (2 rows, broadcast back as a cross join), one scan to assign, one
    groupBy for the 2x2 counts — the corpus is read twice and never
    shuffled at data size. Integer-exact end to end (``div``), so the
    DuckDB oracle replays it with ``//``.
    """
    s = scored.select(
        F.col(id_col),
        F.col(label_col).cast("int").alias("label"),
        F.col(prob_col).cast("long").alias("conf1"),
        (F.lit(1_000_000) - F.col(prob_col).cast("long")).alias("conf0"),
    ).withColumn(
        "self_conf",
        F.when(F.col("label") == 1, F.col("conf1")).otherwise(F.col("conf0")),
    )
    th = (
        s.groupBy("label")
        .agg(
            F.sum("self_conf").alias("sc"),
            F.count("*").alias("cnt"),
        )
        .select("label", F.expr("sc div cnt").alias("t"))
    )
    tp = th.groupBy().agg(
        F.coalesce(
            F.max(F.when(F.col("label") == 1, F.col("t"))), F.lit(1_000_001)
        ).alias("t1"),
        F.coalesce(
            F.max(F.when(F.col("label") == 0, F.col("t"))), F.lit(1_000_001)
        ).alias("t0"),
    )
    y = s.crossJoin(F.broadcast(tp)).withColumn(
        "yhat",
        F.when(
            (F.col("conf1") >= F.col("t1")) & (F.col("conf0") >= F.col("t0")),
            F.when(F.col("conf1") >= F.col("conf0"), F.lit(1)).otherwise(
                F.lit(0)
            ),
        )
        .when(F.col("conf1") >= F.col("t1"), F.lit(1))
        .when(F.col("conf0") >= F.col("t0"), F.lit(0)),
    )
    return (
        y.where(F.col("yhat").isNotNull())
        .groupBy("label", "yhat")
        .agg(F.count("*").cast("long").alias("n"))
        .crossJoin(F.broadcast(tp))
        .select(
            "label",
            "yhat",
            "n",
            F.when(F.col("yhat") == 1, F.col("t1"))
            .otherwise(F.col("t0"))
            .cast("long")
            .alias("threshold_u"),
        )
    )


def label_issues(
    scored: "DataFrame",
    id_col: str = "doc_id",
    label_col: str = "label",
    prob_col: str = "p_u",
) -> "DataFrame":
    """(id, label, yhat, conf_u): the flagged examples — rows whose
    CONFIDENT class disagrees with their given label (the confident
    joint's off-diagonal, materialized per-example for relabeling /
    pruning). ``conf_u`` is the confidence in the confident class, the
    ranking key a human-review queue sorts by. Same two-scan shape as
    :func:`confident_learning_joint`."""
    s = scored.select(
        F.col(id_col),
        F.col(label_col).cast("int").alias("label"),
        F.col(prob_col).cast("long").alias("conf1"),
        (F.lit(1_000_000) - F.col(prob_col).cast("long")).alias("conf0"),
    ).withColumn(
        "self_conf",
        F.when(F.col("label") == 1, F.col("conf1")).otherwise(F.col("conf0")),
    )
    th = (
        s.groupBy("label")
        .agg(F.sum("self_conf").alias("sc"), F.count("*").alias("cnt"))
        .select("label", F.expr("sc div cnt").alias("t"))
    )
    tp = th.groupBy().agg(
        F.coalesce(
            F.max(F.when(F.col("label") == 1, F.col("t"))), F.lit(1_000_001)
        ).alias("t1"),
        F.coalesce(
            F.max(F.when(F.col("label") == 0, F.col("t"))), F.lit(1_000_001)
        ).alias("t0"),
    )
    y = s.crossJoin(F.broadcast(tp)).withColumn(
        "yhat",
        F.when(
            (F.col("conf1") >= F.col("t1")) & (F.col("conf0") >= F.col("t0")),
            F.when(F.col("conf1") >= F.col("conf0"), F.lit(1)).otherwise(
                F.lit(0)
            ),
        )
        .when(F.col("conf1") >= F.col("t1"), F.lit(1))
        .when(F.col("conf0") >= F.col("t0"), F.lit(0)),
    )
    return y.where(
        F.col("yhat").isNotNull() & (F.col("yhat") != F.col("label"))
    ).select(
        F.col(id_col),
        "label",
        "yhat",
        F.when(F.col("yhat") == 1, F.col("conf1"))
        .otherwise(F.col("conf0"))
        .cast("long")
        .alias("conf_u"),
    )
