"""Similarity search over an embedding column (``array<float>``).

- :func:`cosine_topk` — brute-force cosine top-k (the exactness
  baseline): dot products via ``zip_with`` + ``aggregate`` higher-order
  functions (JVM, codegen) and a window rank. The candidate join is an
  index-free cross join per query — correct, O(n·q), used for small q
  or as the verifier for the ANN path.
- :func:`lsh_topk` — scale path: random-hyperplane LSH. Signatures are
  computed scan-side from deterministic pseudo-hyperplanes (hash of
  (dim, plane)), candidates come from an equi-join on band keys, and
  only candidates get exact cosine — turning O(n·q) into
  O(candidates). Recall is tunable via (n_planes, n_bands).
- :func:`embedding_near_dup` — near-duplicate pairs by cosine >=
  threshold, LSH-bucketed.
- :func:`kmeans_centroids_u` / :func:`kmeans_assign` — integer-exact
  Lloyd training (bounded driver ledger) + scan-side assignment;
  :func:`ivf_topk` probes the nearest inverted lists per query.
- :func:`pq_codebooks_u` / :func:`pq_encode` / :func:`pq_topk` —
  FAISS-style product quantization: per-subspace Lloyd codebooks,
  zero-shuffle encode to 4-byte codes, ADC top-k over broadcast
  per-query lookup tables (two-level bucket-then-global rank).
- :func:`ivfpq_topk` — IVF-PQ, the serving shape at 10^12 vectors:
  coarse-list pruning by cid equi-join + ADC within probed lists.
"""

from __future__ import annotations

import math
from collections.abc import Iterable
from typing import TYPE_CHECKING

from pyspark.sql import Window
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from pyspark.sql import Column, DataFrame


def lit_array(values: Iterable, elem_type: str) -> "Column":
    """Plan-time literal ``array<double>`` or ``array<bigint>`` (centroids,
    codewords, lattice planes) built from one SQL expression instead of
    one ``F.lit`` per element: the same constant-folded, non-null array
    as ``F.array(*[F.lit(x) ...])``, without a py4j round trip per
    element. Python's ``repr`` of a float round-trips exactly, so each
    double parses back to the identical IEEE value."""
    if elem_type == "double":
        xs = [float(x) for x in values]
        if not xs or not all(map(math.isfinite, xs)):
            return F.array(*[F.lit(x) for x in xs])
        return F.expr("array(" + ", ".join(f"{x!r}D" for x in xs) + ")")
    if elem_type == "long":
        ns = [int(x) for x in values]
        if not ns:
            return F.array(*[F.lit(n).cast("long") for n in ns])
        return F.expr("array(" + ", ".join(f"{n}L" for n in ns) + ")")
    raise ValueError(f"lit_array: unsupported element type {elem_type!r}")


def dot(a: "Column", b: "Column") -> "Column":
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: "Column") -> "Column":
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: "Column", b: "Column") -> "Column":
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    embeddings: "DataFrame",
    queries: "DataFrame",
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> "DataFrame":
    """Exact top-k neighbors per query row.

    queries(query_id, embedding) x embeddings(vec_id, embedding)
    -> (query_id, vec_id, cos_sim, rank<=k). The small queries side is
    broadcast so the big side never shuffles.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        )
    )
    e = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("e_vec")
    )
    scored = q.crossJoin(e).select(
        "query_id",
        "vec_id",
        F.round(
            cosine(
                F.col("q_vec").cast("array<double>"),
                F.col("e_vec").cast("array<double>"),
            ),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _signature(vec: "Column", dim: int, n_planes: int) -> "Column":
    """Random-hyperplane sign bits from a precomputed md5-derived
    integer lattice (functions/lattice.py): bit p = (v . w_p) >= 0.

    The weights are plan-time literals — no per-row hashing, the whole
    projection stays in whole-stage codegen, and the DuckDB oracle can
    embed the identical lattice (Spark's native ``hash`` would not be
    reproducible there). Fold shape (left fold, init 0.0) matches the
    oracle's ``list_reduce`` exactly, so the sign bits are computed on
    bit-identical IEEE doubles in both engines.
    """
    from ..functions.lattice import plane_weights

    bits = []
    for row in plane_weights(dim, n_planes):
        w = lit_array(row, "double")
        proj = F.aggregate(
            F.zip_with(vec, w, lambda v, wt: v * wt),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def lsh_buckets(
    df: "DataFrame",
    vec_col: str,
    dim: int,
    n_planes: int = 16,
    n_bands: int = 4,
) -> "DataFrame":
    """Explode each row into (band_id, band_key) bucket rows."""
    bits_per_band = n_planes // n_bands
    sig = df.withColumn(
        "_sig", _signature(F.col(vec_col).cast("array<double>"), dim, n_planes)
    )
    return sig.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.substring("_sig", b * bits_per_band + 1, bits_per_band).alias(
                            "band_key"
                        ),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("_band"),
    ).select(
        *[c for c in df.columns], F.col("_band.band_id"), F.col("_band.band_key")
    )


def lsh_topk(
    embeddings: "DataFrame",
    queries: "DataFrame",
    k: int = 10,
    dim: int = 64,
    n_planes: int = 16,
    n_bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> "DataFrame":
    """Approximate top-k: bucket join on LSH bands, exact cosine on
    candidates only."""
    e_b = lsh_buckets(
        embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("e_vec")),
        "e_vec",
        dim,
        n_planes,
        n_bands,
    )
    q_b = lsh_buckets(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ),
        "q_vec",
        dim,
        n_planes,
        n_bands,
    )
    cand = (
        q_b.join(e_b, ["band_id", "band_key"])
        .select("query_id", "vec_id", "q_vec", "e_vec")
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cand.select(
        "query_id",
        "vec_id",
        F.round(
            cosine(
                F.col("q_vec").cast("array<double>"),
                F.col("e_vec").cast("array<double>"),
            ),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def kmeans_centroids_u(
    embeddings: "DataFrame",
    n_centroids: int = 16,
    iterations: int = 3,
    scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[int]]:
    """Fixed-iteration INTEGER-EXACT Lloyd k-means over micro-unit
    vectors — deterministic and cross-engine replayable (the same
    unrolled-rounds oracle trick as PageRank):

    - vectors floored to micro-units ``floor(v * scale)`` (long);
    - init: centroid ``c`` = the vector with id ``c`` (first N by id);
    - assignment: argmin of integer squared Euclidean distance against
      plan-time centroid literals — SCAN-SIDE codegen, no shuffle, no
      UDF; ties break to the smaller centroid id;
    - update: per-dimension ``sum // count`` (floor division, exact);
      an empty cluster keeps its previous centroid.

    Per iteration exactly one job runs and only ``n_centroids`` rows of
    (64 sums + count) reach the driver — the same ledger-scale collect
    budget as the rest of the repo. Returns the micro-unit centroid
    list indexed by centroid id.
    """
    vu = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.floor(x * scale).cast("long"),
        ).alias("v"),
    )
    init = {
        int(r["vec_id"]): [int(x) for x in r["v"]]
        for r in vu.filter(F.col("vec_id") < n_centroids).collect()
    }
    if len(init) < n_centroids:
        raise ValueError(
            f"kmeans_centroids_u: only {len(init)} of {n_centroids} init "
            f"rows found with {id_col} < {n_centroids}; ids must be "
            "0-based contiguous (or pass a smaller n_centroids)"
        )
    cents = [init[c] for c in range(n_centroids)]
    dim = len(cents[0])

    for _ in range(iterations):
        scores = F.array(
            *[
                F.struct(
                    F.aggregate(
                        F.zip_with(
                            F.col("v"),
                            lit_array(cv, "long"),
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x,
                    ).alias("d2"),
                    F.lit(cid).alias("cid"),
                )
                for cid, cv in enumerate(cents)
            ]
        )
        asg = vu.withColumn("cid", F.array_min(scores).getField("cid"))
        aggs = [F.sum(F.col("v")[d]).alias(f"s{d}") for d in range(dim)]
        rows = asg.groupBy("cid").agg(*aggs, F.count("*").alias("n")).collect()
        new = [list(c) for c in cents]
        for r in rows:
            n = int(r["n"])
            new[int(r["cid"])] = [int(r[f"s{d}"]) // n for d in range(dim)]
        cents = new
    return cents


def _cent_scores(vec: "Column", cents: list[list[float]]) -> "Column":
    """array<struct<cos,negcid>> of the vector vs every centroid —
    argmax over it (struct compares (cos, -cid)) is the shared
    scan-side inverted-list assignment."""
    return F.array(
        *[
            F.struct(
                cosine(vec, lit_array(cvec, "double")).alias("cos"),
                F.lit(-cid).alias("negcid"),
            )
            for cid, cvec in enumerate(cents)
        ]
    )


def ivf_list_sizes(
    embeddings: "DataFrame",
    cents: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "DataFrame":
    """(cid, n) inverted-list occupancy for the given centroid vectors
    — the balance diagnostic for the IVF path (skewed lists mean
    skewed probe latency at scale)."""
    e = embeddings.select(F.col(vec_col).cast("array<double>").alias("e_vec"))
    return (
        e.withColumn(
            "cid",
            -F.array_max(_cent_scores(F.col("e_vec"), cents)).getField("negcid"),
        )
        .groupBy("cid")
        .agg(F.count("*").alias("n"))
    )


def ivf_topk(
    embeddings: "DataFrame",
    queries: "DataFrame",
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    kmeans_iterations: int = 3,
    scale: int = 1_000_000,
    cents_u: list[list[int]] | None = None,
) -> "DataFrame":
    """IVF-style approximate top-k (the brief's "IVF variant as the
    scale path"): partition vectors into inverted lists by nearest
    centroid, probe only the ``n_probe`` closest lists per query, exact
    cosine within the probed lists.

    Centroids come from :func:`kmeans_centroids_u` (fixed-iteration
    integer-exact Lloyd — balanced inverted lists, unlike the first-N
    seed alone; pass ``kmeans_iterations=0`` for the raw first-N seed)
    and are embedded as plan-time literal arrays. List assignment is
    therefore SCAN-SIDE — an array_max over per-centroid cosine
    structs, no shuffle, no UDF — which is the property that matters at
    100 TB: the big side is read once, assigned in codegen, and only
    candidate rows reach the final per-query rank. Tie-breaks: max
    cosine, then min centroid id (struct compares (cos, -cid))."""
    if cents_u is None:
        cents_u = kmeans_centroids_u(
            embeddings,
            n_centroids=n_centroids,
            iterations=kmeans_iterations,
            scale=scale,
            id_col=id_col,
            vec_col=vec_col,
        )
    # micro-units -> doubles: exact-integer / exact-scale IEEE division
    # gives bit-identical doubles in every engine
    cents = [[x / scale for x in cu] for cu in cents_u]

    e = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("e_vec"),
    )
    assigned = e.withColumn(
        "cid",
        -F.array_max(_cent_scores(F.col("e_vec"), cents)).getField("negcid"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
    )
    probes = q.select(
        "query_id",
        "q_vec",
        F.explode(
            F.slice(
                F.reverse(F.array_sort(_cent_scores(F.col("q_vec"), cents))),
                1,
                n_probe,
            )
        ).alias("p"),
    ).select("query_id", "q_vec", (-F.col("p.negcid")).alias("cid"))

    cand = F.broadcast(probes).join(assigned, "cid").select(
        "query_id", "vec_id", "q_vec", "e_vec"
    )
    scored = cand.select(
        "query_id",
        "vec_id",
        F.round(cosine(F.col("q_vec"), F.col("e_vec")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_near_dup(
    embeddings: "DataFrame",
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 24,
    n_bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "DataFrame":
    """Near-duplicate vector pairs (cos >= threshold), LSH-blocked."""
    b = lsh_buckets(
        embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")),
        "vec",
        dim,
        n_planes,
        n_bands,
    )
    pairs = (
        b.alias("l")
        .join(
            b.alias("r"),
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .select(
            F.col("l.vec_id").alias("vec_id_a"),
            F.col("r.vec_id").alias("vec_id_b"),
            F.col("l.vec").alias("vec_a"),
            F.col("r.vec").alias("vec_b"),
        )
        .dropDuplicates(["vec_id_a", "vec_id_b"])
    )
    return (
        pairs.withColumn(
            "cos_sim",
            F.round(
                cosine(
                    F.col("vec_a").cast("array<double>"),
                    F.col("vec_b").cast("array<double>"),
                ),
                6,
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("vec_id_a", "vec_id_b", "cos_sim")
    )


def kmeans_assign(
    embeddings: "DataFrame",
    cents_u: list[list[int]],
    scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "DataFrame":
    """(vec_id, cid): nearest-centroid assignment against micro-unit
    centroids from :func:`kmeans_centroids_u` — the clustering twin of
    the IVF inverted-list assignment.

    Uses the SAME integer squared-Euclidean argmin as the Lloyd
    training rounds (micro-unit longs, ties to the smaller cid), so
    assignment is exactly the (iterations+1)-th Lloyd E-step and a
    DuckDB oracle can replay it bit-for-bit. Scan-side codegen over
    plan-time centroid literals: no shuffle, no UDF — each of the
    10^12 corpus rows is read once and labeled in place, which is the
    whole game for clustering at 100 TB.
    """
    vu = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.floor(x * scale).cast("long"),
        ).alias("v"),
    )
    scores = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("v"),
                        lit_array(cv, "long"),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("d2"),
                F.lit(cid).cast("long").alias("cid"),
            )
            for cid, cv in enumerate(cents_u)
        ]
    )
    return vu.select(
        "vec_id", F.array_min(scores).getField("cid").alias("cid")
    )


def kmeans_assign_dist(
    embeddings: "DataFrame",
    cents_u: list[list[int]],
    scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "DataFrame":
    """(vec_id, cid, d2): :func:`kmeans_assign` that also emits the
    winning integer squared-Euclidean distance — the prototypicality
    signal data-pruning methods rank on (Sorscher et al. 2022 use
    exactly distance-to-centroid). Same scan-side argmin over
    plan-time centroid literals (struct array_min orders by (d2, cid),
    ties to the smaller cid), still zero shuffles and zero Python."""
    vu = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.floor(x * scale).cast("long"),
        ).alias("v"),
    )
    scores = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("v"),
                        lit_array(cv, "long"),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("d2"),
                F.lit(cid).cast("long").alias("cid"),
            )
            for cid, cv in enumerate(cents_u)
        ]
    )
    best = F.array_min(scores)
    return vu.select(
        "vec_id",
        best.getField("cid").alias("cid"),
        best.getField("d2").alias("d2"),
    )


def semantic_dedup(
    embeddings: "DataFrame",
    threshold: float = 0.95,
    n_centroids: int = 16,
    iterations: int = 3,
    scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents_u: list[list[int]] | None = None,
) -> "DataFrame":
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-partition the embedding space, compare
    vectors pairwise ONLY within a cluster, and drop every vector that
    has a near-duplicate partner (cos >= threshold) with a smaller id
    in its cluster — the first-by-id member of each duplicate chain
    survives.

    Scale shape: the cluster bound is what makes the quadratic
    affordable — the within-cluster self-join shuffles on ``cid`` and
    the pair count is sum(|cluster|^2), not |corpus|^2; at 100 TB you
    grow ``n_centroids`` with the corpus so cluster sizes stay roughly
    constant (the paper uses k ~ sqrt(n)). Assignment itself is
    scan-side codegen against plan-time centroid literals (no shuffle,
    no UDF), so the corpus is read once to label and once to join.

    Exact and engine-replayable: centroids from the fixed-iteration
    integer Lloyd rounds (:func:`kmeans_centroids_u`), assignment via
    the integer squared-Euclidean argmin (:func:`kmeans_assign`),
    cosine on doubles with the repo's shared fold shape, threshold on
    ``round(cos, 6)``.

    Returns (vec_id, cid, keep) with keep = 1 for survivors.
    """
    if cents_u is None:
        cents_u = kmeans_centroids_u(
            embeddings,
            n_centroids=n_centroids,
            iterations=iterations,
            scale=scale,
            id_col=id_col,
            vec_col=vec_col,
        )
    asg = kmeans_assign(
        embeddings, cents_u, scale=scale, id_col=id_col, vec_col=vec_col
    )
    e = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("e_vec"),
    )
    v = asg.join(e, "vec_id")
    dups = (
        v.alias("l")
        .join(
            v.alias("r"),
            (F.col("l.cid") == F.col("r.cid"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .withColumn(
            "cos_sim",
            F.round(cosine(F.col("l.e_vec"), F.col("r.e_vec")), 6),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select(F.col("r.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("dropped", F.lit(1))
    )
    return asg.join(dups, "vec_id", "left").select(
        "vec_id",
        F.col("cid").cast("long").alias("cid"),
        F.when(F.col("dropped").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("keep"),
    )


def random_projection(
    embeddings: "DataFrame",
    out_dim: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "rp-v1",
    scale: int = 1_000,
) -> "DataFrame":
    """(vec_id, dim_id, proj_u): Johnson-Lindenstrauss-style random
    projection of a ``dim``-dimensional embedding down to ``out_dim``
    components — the cheap dimensionality-reduction front of an ANN /
    clustering stage (sign-random projections preserve angles, JL
    preserves distances up to (1±eps) for out_dim = O(log n / eps^2)).

    The projection matrix is the SAME deterministic md5 integer
    lattice the LSH family uses (functions/lattice.py) so both engines
    embed identical plan-time literals; each output component is the
    sequential-fold dot product (Spark ``aggregate`` init 0.0 ==
    DuckDB ``list_reduce``, exact since 0.0 + x == x) floored to
    micro-ish units (``floor(dot * scale)``) so there is no rounding
    ambiguity. Entirely scan-side codegen + one higher-order function
    per component: zero shuffles, zero joins, zero UDFs — at 100 TB
    this runs at scan speed and the output is ``out_dim/dim`` of the
    input width.
    """
    from ..functions.lattice import plane_weights

    planes = plane_weights(dim, out_dim, seed=seed)
    e = F.col(vec_col).cast("array<double>")
    comps = []
    for j, row in enumerate(planes):
        w = lit_array(row, "double")
        d = dot(e, w)
        comps.append(
            F.struct(
                F.lit(j).cast("long").alias("dim_id"),
                F.floor(d * scale).cast("long").alias("proj_u"),
            )
        )
    return embeddings.select(
        F.col(id_col).alias("vec_id"), F.explode(F.array(*comps)).alias("c")
    ).select("vec_id", F.col("c.dim_id").alias("dim_id"), F.col("c.proj_u").alias("proj_u"))


def pq_codebooks_u(
    embeddings: "DataFrame",
    m: int = 4,
    ksub: int = 8,
    iterations: int = 2,
    dim: int = 64,
    scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[int]]]:
    """FAISS-style product-quantization training: split each
    ``dim``-dimensional vector into ``m`` contiguous subvectors and run
    the SAME integer-exact Lloyd k-means (:func:`kmeans_centroids_u`)
    independently in each subspace. Returns ``books[j][c]`` = the
    micro-unit codeword ``c`` of subspace ``j``.

    Why PQ at 100 TB: a 64-dim float32 embedding is 256 bytes; its PQ
    code is ``m`` codeword ids (here 4 bytes at ksub<=256) — a 64x
    compression that lets the ADC search scan codes instead of vectors.
    Training cost is bounded exactly like IVF training: per subspace
    per iteration one job, and only ``ksub`` ledger rows (sub-dim sums
    + count) ever reach the driver.
    """
    if dim % m:
        raise ValueError(f"pq_codebooks_u: dim {dim} not divisible by m {m}")
    sub = dim // m
    books = []
    for j in range(m):
        sliced = embeddings.select(
            F.col(id_col).alias("vec_id"),
            F.slice(F.col(vec_col), j * sub + 1, sub).alias("subv"),
        )
        books.append(
            kmeans_centroids_u(
                sliced, n_centroids=ksub, iterations=iterations,
                scale=scale, vec_col="subv",
            )
        )
    return books


def _pq_sub_argmin(vu_slice: "Column", book: list[list[int]]) -> "Column":
    """Codeword id (long) = integer squared-Euclidean argmin of a
    micro-unit subvector against one subspace codebook (plan-time
    literals; ties to the smaller codeword id) — the per-subspace
    E-step reused by encode and ADC."""
    scores = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        vu_slice,
                        lit_array(cw, "long"),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("d2"),
                F.lit(cid).cast("long").alias("cid"),
            )
            for cid, cw in enumerate(book)
        ]
    )
    return F.array_min(scores).getField("cid")


def pq_encode(
    embeddings: "DataFrame",
    books_u: list[list[list[int]]],
    scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "DataFrame":
    """(vec_id, code: array<long> of length m): nearest codeword per
    subspace. Entirely scan-side codegen over plan-time codebook
    literals — zero shuffles, zero joins, zero Python — so encoding a
    10^12-row corpus is a single pass at scan speed (the compressed
    codes, not the raw vectors, are what the ANN serving tier stores).
    """
    m = len(books_u)
    sub = len(books_u[0][0])
    vu = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.floor(x * scale).cast("long"),
        ).alias("v"),
    )
    return vu.select(
        "vec_id",
        F.array(
            *[
                _pq_sub_argmin(F.slice(F.col("v"), j * sub + 1, sub), books_u[j])
                for j in range(m)
            ]
        ).alias("code"),
    )


def pq_topk(
    embeddings: "DataFrame",
    queries: "DataFrame",
    books_u: list[list[list[int]]],
    k: int = 10,
    scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    fanout: int = 32,
) -> "DataFrame":
    """Asymmetric-distance (ADC) top-k: (query_id, vec_id, adc_u,
    rank<=k). Each corpus vector is represented ONLY by its PQ code;
    the query stays exact. Per query a lookup table lut[j][c] =
    integer squared distance from the query's j-th subvector to
    codeword c is computed scan-side (m*ksub bounded structs), the
    small query side (codes + luts) is broadcast, and the ADC distance
    is m element_at fetches + adds per (query, code) pair — no
    vector-width work on the big side at probe time. Ties rank to the
    smaller vec_id. Distances are micro-unit-squared longs, so both
    engines agree bit-for-bit.

    Scale shape — two-level top-k: ADC deliberately scans EVERY code
    (that is the FAISS flat-PQ contract), so a single rank window
    partitioned by query_id would hand each of the few query reducers
    the whole corpus. Instead candidates first rank inside
    ``fanout`` hash buckets of vec_id (the N*Q scored rows spread over
    fanout*Q reducers, each keeping k), and the global rank then sees
    at most fanout*k survivors per query. The global top-k is always a
    subset of the union of bucket top-ks, and the final (adc_u,
    vec_id) total order is bucket-independent — so ``fanout`` changes
    the plan, never the result.
    """
    m = len(books_u)
    sub = len(books_u[0][0])
    codes = pq_encode(embeddings, books_u, scale=scale,
                      id_col=id_col, vec_col=vec_col)
    qu = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.floor(x * scale).cast("long"),
        ).alias("qv"),
    )
    luts = []
    for j, book in enumerate(books_u):
        qslice = F.slice(F.col("qv"), j * sub + 1, sub)
        luts.append(
            F.array(
                *[
                    F.aggregate(
                        F.zip_with(
                            qslice,
                            lit_array(cw, "long"),
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x,
                    )
                    for cw in book
                ]
            ).alias(f"lut{j}")
        )
    q = F.broadcast(qu.select("query_id", *luts))
    adc = sum(
        F.element_at(F.col(f"lut{j}"), (F.col("code")[j] + 1).cast("int"))
        for j in range(m)
    )
    scored = codes.crossJoin(q).select(
        "query_id", "vec_id", adc.alias("adc_u")
    )
    order = [F.col("adc_u").asc(), F.col("vec_id").asc()]
    wb = Window.partitionBy(
        "query_id", F.pmod(F.hash("vec_id"), F.lit(fanout))
    ).orderBy(*order)
    survivors = (
        scored.withColumn("r1", F.row_number().over(wb))
        .filter(F.col("r1") <= k)
        .drop("r1")
    )
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivfpq_topk(
    embeddings: "DataFrame",
    queries: "DataFrame",
    cents_u: list[list[int]],
    books_u: list[list[list[int]]],
    k: int = 10,
    n_probe: int = 4,
    scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    fanout: int = 32,
) -> "DataFrame":
    """IVF-PQ — the FAISS serving shape for 10^12-vector corpora:
    the coarse quantizer (:func:`kmeans_centroids_u` centroids) prunes
    the search to ``n_probe`` inverted lists per query, and within the
    probed lists candidates are ranked by PQ asymmetric distance over
    4-byte codes (:func:`pq_codebooks_u` codebooks, no-residual
    variant, FAISS ``by_residual=false``) instead of raw vectors.

    One corpus scan assigns BOTH the list id (cosine argmax against
    plan-time centroid literals) and the PQ code (per-subspace integer
    argmin) in codegen — zero shuffles on the big side; the probe side
    (query list choices + ADC lookup tables) broadcasts, candidates
    come from the cid equi-join (never a cross join), and the rank is
    the same two-level bucket-then-global top-k as :func:`pq_topk`.
    Ranking is ADC (integer micro-unit-squared longs, engine-exact);
    the coarse probe uses the same (cos desc, cid asc) order as
    :func:`ivf_topk`.
    """
    m = len(books_u)
    sub = len(books_u[0][0])
    cents = [[x / scale for x in cu] for cu in cents_u]
    micro = lambda c: F.transform(  # noqa: E731
        c.cast("array<double>"), lambda x: F.floor(x * scale).cast("long")
    )
    codes = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("e_vec"),
        micro(F.col(vec_col)).alias("v"),
    ).select(
        "vec_id",
        (-F.array_max(_cent_scores(F.col("e_vec"), cents)).getField("negcid"))
        .alias("cid"),
        F.array(
            *[
                _pq_sub_argmin(F.slice(F.col("v"), j * sub + 1, sub), books_u[j])
                for j in range(m)
            ]
        ).alias("code"),
    )
    qu = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
        micro(F.col(vec_col)).alias("qv"),
    )
    luts = []
    for j, book in enumerate(books_u):
        qslice = F.slice(F.col("qv"), j * sub + 1, sub)
        luts.append(
            F.array(
                *[
                    F.aggregate(
                        F.zip_with(
                            qslice,
                            lit_array(cw, "long"),
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x,
                    )
                    for cw in book
                ]
            ).alias(f"lut{j}")
        )
    probes = qu.select(
        "query_id",
        F.explode(
            F.slice(
                F.reverse(F.array_sort(_cent_scores(F.col("q_vec"), cents))),
                1,
                n_probe,
            )
        ).alias("p"),
        *luts,
    ).select("query_id", (-F.col("p.negcid")).alias("cid"),
             *[f"lut{j}" for j in range(m)])
    adc = sum(
        F.element_at(F.col(f"lut{j}"), (F.col("code")[j] + 1).cast("int"))
        for j in range(m)
    )
    scored = F.broadcast(probes).join(codes, "cid").select(
        "query_id", "vec_id", adc.alias("adc_u")
    )
    order = [F.col("adc_u").asc(), F.col("vec_id").asc()]
    wb = Window.partitionBy(
        "query_id", F.pmod(F.hash("vec_id"), F.lit(fanout))
    ).orderBy(*order)
    survivors = (
        scored.withColumn("r1", F.row_number().over(wb))
        .filter(F.col("r1") <= k)
        .drop("r1")
    )
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def centroid_drift(
    df: "DataFrame",
    vec_col: str,
    split_col: str,
) -> "DataFrame":
    """One row (n_a, n_b, cos_u): cosine similarity between the mean
    embedding of split 0 and split 1 — the embedding-space corpus
    drift readout (token-distribution drift has q_corpus_drift; this
    is its semantic twin: did the crawl's MEANING move between
    snapshots?). Cosine of the per-split SUM vectors equals cosine of
    the means (scalar factors cancel), so no division happens until
    the final expression.

    Determinism/scale shape: elements floor to micro-unit longs
    scan-side (float->double->*1e6->floor, identical IEEE steps both
    engines); per-dimension sums are ONE posexplode + map-side-
    combined groupBy(split, dim) shuffle into 2*dim rows; the final
    dot/norm aggregation runs over dim rows. Element sums fit BIGINT
    to ~9e12 rows; past that lift to DECIMAL(38) — shape unchanged.
    """
    vu = df.select(
        F.col(split_col).cast("long").alias("half"),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * 1e6).cast("long"),
        ).alias("v"),
    )
    dims = (
        vu.select("half", F.posexplode("v").alias("pos", "val"))
        .groupBy("half", "pos")
        .agg(F.sum("val").cast("long").alias("s"))
    )
    a = dims.where(F.col("half") == 0).select("pos", F.col("s").alias("sa"))
    b = dims.where(F.col("half") == 1).select("pos", F.col("s").alias("sb"))
    ip = a.join(b, "pos").agg(
        F.sum(F.expr("sa * sb")).cast("long").alias("dot"),
        F.sum(F.expr("sa * sa")).cast("long").alias("na2"),
        F.sum(F.expr("sb * sb")).cast("long").alias("nb2"),
    )
    cnts = vu.agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("long").alias("n_a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("long").alias("n_b"),
    )
    return cnts.crossJoin(F.broadcast(ip)).select(
        "n_a",
        "n_b",
        F.expr(
            "CASE WHEN na2 > 0 AND nb2 > 0 THEN"
            " cast(floor(cast(dot as double)"
            " / (sqrt(cast(na2 as double)) * sqrt(cast(nb2 as double)))"
            " * 1000000.0) as bigint) ELSE 0 END"
        ).alias("cos_u"),
    )


def int8_quantize(
    embeddings: "DataFrame",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "DataFrame":
    """Per-vector symmetric int8 scalar quantization — the SQ8
    embedding-compression layout an ANN serving tier stores when PQ's
    64x is too lossy: 4x smaller than float32, decoded by one
    multiply. scale = 127 / max|x_i| (0 for the all-zero vector),
    q_i = floor(x_i * scale) in [-128, 127].

    Scale shape: pure scan-side array expressions — zero shuffles,
    zero Python. Cross-engine: every float op (double cast, one
    divide, one multiply, floor) and the init-0.0 greatest/sum folds
    are IEEE-identical in DuckDB, so digests of the int codes match
    bit-for-bit. Returns (id, e array<double>, scale double,
    qv array<int>).
    """
    e = F.col(vec_col).cast("array<double>")
    return (
        embeddings.select(F.col(id_col), e.alias("e"))
        .withColumn(
            "_maxabs",
            F.aggregate(
                F.transform(F.col("e"), F.abs),
                F.lit(0.0),
                lambda a, x: F.greatest(a, x),
            ),
        )
        .withColumn(
            "scale",
            F.when(F.col("_maxabs") > 0, F.lit(127.0) / F.col("_maxabs"))
            .otherwise(F.lit(0.0)),
        )
        .withColumn(
            "qv",
            F.transform(
                F.col("e"), lambda x: F.floor(x * F.col("scale")).cast("int")
            ),
        )
        .select(id_col, "e", "scale", "qv")
    )


def int8_topk(
    embeddings: "DataFrame",
    k: int = 10,
    n_queries: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fanout: int = 32,
) -> "DataFrame":
    """Quantized-serving top-k: rank corpus vectors per query by the
    INTEGER dot product of their int8 codes (the SQ8 probe path —
    integer SIMD arithmetic, no float work on the big side).
    (query_id, vec_id, dot_q, rank<=k), dot descending, ties to the
    smaller vec_id, self-match excluded.

    Scale shape mirrors pq_topk's two-level top-k: the few quantized
    queries broadcast, every (query, code) pair scores scan-side, and
    candidates rank first inside ``fanout`` vec_id hash buckets so the
    global rank sees at most fanout*k survivors per query — the
    bucket split changes the plan, never the result (the (dot_q,
    vec_id) order is total). All arithmetic is exact int64.
    """
    quant = int8_quantize(embeddings, id_col=id_col, vec_col=vec_col)
    corpus = quant.select(F.col(id_col), F.col("qv"))
    qs = F.broadcast(
        quant.filter(F.col(id_col) < n_queries).select(
            F.col(id_col).alias("query_id"), F.col("qv").alias("qqv")
        )
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("qv"), F.col("qqv"), lambda a, b: (a * b).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        corpus.crossJoin(qs)
        .where(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col), dot.alias("dot_q"))
    )
    order = [F.col("dot_q").desc(), F.col(id_col).asc()]
    wb = Window.partitionBy(
        "query_id", F.pmod(F.hash(id_col), F.lit(fanout))
    ).orderBy(*order)
    survivors = (
        scored.withColumn("r1", F.row_number().over(wb))
        .filter(F.col("r1") <= k)
        .drop("r1")
    )
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_shapley(
    embeddings: "DataFrame",
    test: "DataFrame",
    k: int = 5,
    scale: int = 1_000_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> "DataFrame":
    """Closed-form KNN-Shapley data valuation (Jia et al., VLDB 2019,
    "Efficient Task-Specific Data Valuation for Nearest Neighbor
    Algorithms"): the exact Shapley value of every training point for
    a K-NN classifier evaluated on a broadcast test set, via the
    sorted-scan recursion (neighbors ranked nearest-first, r = 1..N)

        s(N) = 1[y_N = y] / N
        s(r) = s(r+1) + (1[y_r = y] - 1[y_{r+1} = y]) / K * min(K, r) / r

    No pairwise training-set work and no sampling: per test point the
    whole utility surface collapses into one rank window plus one
    suffix sum.  Output is (vec_id, shap_u) — the per-training-point
    value summed over the test set, in ``1/scale`` fixed-point units.

    Cross-engine determinism: the neighbor order is
    floor(round(cos, 6) * 1e6) DESC with vec_id ties; each recursion
    increment is floored into integer micro-units from a SINGLE IEEE
    division (exact parity per term — only multi-term float folds can
    drift, and both the suffix sum and the test-set sum here are
    integer sums).  Scale: the test side is broadcast (valuation runs
    against a bounded probe set), the train side is scored in one
    scan, and the only exchange is the rank-by-query shuffle — the
    same shape as :func:`cosine_topk` with an O(n_test) constant.
    Downstream consumers should TakeOrderedAndProject (orderBy+limit)
    rather than globally sort the full valuation table.
    """
    q = F.broadcast(
        test.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            F.col(label_col).alias("q_label"),
        )
    )
    e = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("e_vec"),
        F.col(label_col).alias("e_label"),
    )
    scored = q.crossJoin(e).select(
        "query_id",
        "vec_id",
        F.floor(
            F.round(
                cosine(
                    F.col("q_vec").cast("array<double>"),
                    F.col("e_vec").cast("array<double>"),
                ),
                6,
            )
            * 1e6
        ).cast("long").alias("cos_u"),
        F.when(F.col("e_label") == F.col("q_label"), 1).otherwise(0).alias("ind"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_u").desc(), F.col("vec_id").asc()
    )
    ranked = scored.select(
        "query_id",
        "vec_id",
        "ind",
        F.row_number().over(w).alias("r"),
        F.count("*").over(Window.partitionBy("query_id")).alias("n"),
        F.lead("ind").over(w).alias("ind_nxt"),
    )
    term = F.when(
        F.col("ind_nxt").isNull(),
        F.floor(F.lit(float(scale)) * F.col("ind") / F.col("n")),
    ).otherwise(
        F.floor(
            F.lit(float(scale))
            * (F.col("ind") - F.col("ind_nxt"))
            * F.least(F.lit(k), F.col("r"))
            / (F.lit(k) * F.col("r"))
        )
    )
    ws = (
        Window.partitionBy("query_id")
        .orderBy("r")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    svals = ranked.withColumn("t", term.cast("long")).withColumn(
        "s", F.sum("t").over(ws)
    )
    return svals.groupBy("vec_id").agg(
        F.sum("s").cast("long").alias("shap_u")
    )
