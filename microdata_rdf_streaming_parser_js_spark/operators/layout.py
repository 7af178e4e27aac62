"""Data-layout operators: the write-side clustering a lakehouse table
format (Delta/Iceberg ``OPTIMIZE ZORDER``, Hudi clustering) applies so
that later multi-dimensional predicates prune files instead of
scanning 100 TB.

Z-ordering maps two sort dimensions onto one locality-preserving key
by interleaving their bits; sorting/bucketing by the z-value keeps
rows close in BOTH dimensions close in the file layout, so min/max
file statistics cut both ways. All pure integer bit arithmetic
(shift/and/or) — scan-side codegen, engine-portable, no UDF.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Window
from pyspark.sql import functions as F

from .similarity import lit_array

if TYPE_CHECKING:
    from pyspark.sql import Column, DataFrame


def z_value(a: "Column", b: "Column", bits: int = 16) -> "Column":
    """Interleave the low ``bits`` bits of two non-negative longs:
    bit i of ``a`` lands at position 2i, bit i of ``b`` at 2i+1.
    2*bits <= 62 keeps the result in a long."""
    if not 0 < bits <= 31:
        raise ValueError("bits must be in 1..31")
    parts = []
    for i in range(bits):
        parts.append(F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i))
        parts.append(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.bitwiseOR(p)
    return out


def zorder_layout(
    df: "DataFrame",
    col_a: str,
    col_b: str,
    bits: int = 16,
    file_shift: int = 8,
) -> "DataFrame":
    """(file_id, n_rows, min_a, max_a, min_b, max_b): the file-level
    min/max statistics a z-ordered write would produce — rows grouped
    by the top z-value bits (``z div 2^file_shift`` = one "file" per
    z-range). Tight per-file ranges in BOTH dimensions are exactly
    what lets a reader prune on either predicate; compare with a
    single-column sort, where the second dimension's ranges stay
    corpus-wide.

    One shuffle (the groupBy on the derived file id); the z-value
    itself is scan-side bit codegen.
    """
    a, b = F.col(col_a).cast("long"), F.col(col_b).cast("long")
    z = z_value(a, b, bits=bits)
    return (
        df.select(
            a.alias("_a"),
            b.alias("_b"),
            F.shiftright(z, file_shift).cast("long").alias("file_id"),
        )
        .groupBy("file_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("_a").alias("min_a"),
            F.max("_a").alias("max_a"),
            F.min("_b").alias("min_b"),
            F.max("_b").alias("max_b"),
        )
    )


def bloom_build(
    df: "DataFrame",
    key_col: str,
    m: int = 4096,
    k: int = 3,
) -> "DataFrame":
    """(pos,): the set bit positions of a Bloom filter over a key
    column — the portable semi-join pruning filter (what Spark's
    runtime row-group bloom pushdown builds; materialized, it ships to
    OTHER jobs/engines to pre-filter a 100 TB probe side before the
    real join).

    k md5-derived positions per key (``md5(key || '#i') mod m``),
    deduplicated — so the output is mergeable by plain UNION/DISTINCT
    and bounded at m rows no matter the input size. Scan-side hashing,
    one distinct shuffle bounded by m.
    """
    hashes = [
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col(key_col).cast("string"), F.lit(f"#{i}"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % m
        ).alias("pos")
        for i in range(k)
    ]
    return (
        df.select(F.explode(F.array(*hashes)).alias("pos"))
        .distinct()
        .select(F.col("pos").cast("long").alias("pos"))
    )


def bloom_mask_words(positions: list[int], m: int = 4096) -> list[int]:
    """Pack Bloom bit positions into 32-bit words (m/32 longs, each
    < 2^32 so the literal array is sign-safe in both engines). The
    packed mask is what actually ships to the probe job — a few
    hundred bytes of plan-time literals instead of a join."""
    if m % 32 != 0:
        raise ValueError("m must be a multiple of 32")
    words = [0] * (m // 32)
    for p in positions:
        if not 0 <= p < m:
            raise ValueError(f"position {p} outside [0, {m})")
        words[p >> 5] |= 1 << (p & 31)
    return words


def bloom_member(key: "Column", mask_words: list[int], m: int = 4096, k: int = 3) -> "Column":
    """True iff all k md5 positions of ``key`` are set in the packed
    mask — the scan-side Bloom membership test (same hash family as
    :func:`bloom_build`, so a filter built by one job prunes another
    job's probe side with zero shuffle and zero joins: the mask is a
    literal array and the test is pure bit codegen)."""
    mask = lit_array(mask_words, "long")
    cond = None
    for i in range(k):
        pos = (
            F.conv(
                F.substring(F.md5(F.concat(key.cast("string"), F.lit(f"#{i}"))), 1, 8),
                16,
                10,
            ).cast("long")
            % m
        )
        word = F.element_at(mask, F.shiftright(pos, 5).cast("int") + 1)
        bit = (
            F.call_function(
                "shiftright", word, pos.bitwiseAND(F.lit(31)).cast("int")
            ).bitwiseAND(F.lit(1))
            == 1
        )
        cond = bit if cond is None else (cond & bit)
    return cond


def compaction_plan(
    files: "DataFrame",
    part_col: str,
    size_col: str,
    id_col: str,
    target_bytes: int,
) -> "DataFrame":
    """(part, bin_id, n_files, bin_bytes): the small-file compaction
    plan a lakehouse OPTIMIZE pass executes — within each table
    partition, files sorted (size desc, id) are filled into bins by
    running byte count, bin = (cumsum - size) div target, so every bin
    except possibly the last holds >= target bytes once it overflows
    and no bin is split across partitions.

    Deterministic (total sort order both engines replay), one shuffle
    on the partition key; the per-partition window never sees more
    rows than that partition's file count — exactly the metadata
    scale a real OPTIMIZE planner works at (files, not data)."""
    size = F.col(size_col).cast("long")
    w = (
        Window.partitionBy(part_col)
        .orderBy(F.col(size_col).desc(), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = files.select(
        F.col(part_col).alias("part"),
        size.alias("_sz"),
        F.floor((F.sum(size).over(w) - size) / target_bytes)
        .cast("long")
        .alias("bin_id"),
    )
    return (
        binned.groupBy("part", "bin_id")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("_sz").alias("bin_bytes"),
        )
    )


def rendezvous_score(key: "Column", shard: str) -> "Column":
    """Exact HRW score: first 8 md5 hex nibbles of ``key|shard`` as a
    long (16^8 < 2^53 — same integer both engines)."""
    h = F.md5(F.concat(key.cast("string"), F.lit(f"|{shard}")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


def rendezvous_assign(
    df: "DataFrame",
    key_col: str,
    shards: "tuple[str, ...] | list[str]",
    out_col: str = "shard",
) -> "DataFrame":
    """``df`` plus an ``out_col`` assigning each key to a shard by
    rendezvous / highest-random-weight hashing (Thaler & Ravishankar
    1998): shard = argmax over shards of md5(key|shard).

    Why not ``pmod(hash(key), n)``: when the shard list grows n -> n+1,
    modulo reassigns ~n/(n+1) of ALL keys, forcing a near-total data
    movement; HRW moves exactly the keys whose new argmax IS the added
    shard (~1/(n+1) of them) and nothing else — the property a 100 TB
    bucketed layout needs to expand without a full rewrite. (Consistent
    ring hashing has the same guarantee; HRW needs no ring state and is
    pure codegen.)

    Ties (md5-equal scores) break to the EARLIEST shard in ``shards``
    — pinned by the WHEN-chain order and mirrored in oracle SQL. The
    chain is O(k^2) comparisons at plan time; fine for the literal
    shard lists a table layout declares (k <= ~64). For router-scale k
    swap in the array-of-structs max — same scores, different
    tie-break, not oracle-shared.

    Scale shape: scan-side codegen only — zero shuffles, zero joins;
    the assignment is a free column on any existing pass.
    """
    shards = list(shards)
    if len(shards) < 2 or len(set(shards)) != len(shards):
        raise ValueError("rendezvous_assign: need >= 2 distinct shards")
    key = F.col(key_col)
    scores = [rendezvous_score(key, s) for s in shards]
    expr = None
    for i, name in enumerate(shards):
        cond = None
        for j in range(len(shards)):
            if j == i:
                continue
            c = scores[i] >= scores[j]
            cond = c if cond is None else (cond & c)
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    return df.withColumn(out_col, expr)


def range_partition_bounds(
    df: "DataFrame",
    value_col: str,
    id_col: str,
    buckets: int = 8,
    sample_mod: int = 20,
) -> "DataFrame":
    """(bucket, n_rows, v_min, v_max): Spark-RangePartitioner-style
    boundary estimation plus the balance readout — deterministically
    sample ~1/sample_mod of the rows (md5(id) residue, engine-portable
    and reproducible, never an engine RNG), NTILE the sample into
    ``buckets`` equal-depth tiles ordered by (value, id), take each
    tile's max value as a boundary, then assign EVERY row scan-side
    and count per bucket. This is exactly what a global sort / range
    write does before shuffling 100 TB: boundaries come from a bounded
    sample, the data itself is touched once with a codegen CASE chain.

    The sample-sized NTILE window is single-partition by construction
    (that is the point: the sample is bounded by rate, the data never
    sorts globally). The ``buckets - 1`` boundary values are collected
    as plan literals — the same bounded collect the built-in
    RangePartitioner performs (boundaries ARE the partitioner).
    """
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    if sample_mod < 1:
        raise ValueError(f"sample_mod must be >= 1, got {sample_mod}")
    v = F.col(value_col).cast("long")
    rid = F.col(id_col).cast("long")
    h8 = F.conv(
        F.substring(F.md5(F.concat(rid.cast("string"), F.lit("#rb"))), 1, 8),
        16,
        10,
    ).cast("long")
    sample = df.where(F.pmod(h8, F.lit(sample_mod)) == 0).select(
        v.alias("v"), rid.alias("rid")
    )
    tiles = sample.select(
        "v",
        F.ntile(buckets).over(Window.orderBy("v", "rid")).alias("tile"),
    )
    bounds = (
        tiles.groupBy("tile")
        .agg(F.max("v").alias("hi"))
        .where(F.col("tile") < buckets)
        .orderBy("tile")
    )
    his = [r["hi"] for r in bounds.collect()]  # <= buckets-1 literals
    bucket = F.lit(0).cast("long")
    for hi in his:
        bucket = bucket + F.when(v > F.lit(hi), 1).otherwise(0)
    return (
        df.select(bucket.cast("long").alias("bucket"), v.alias("v"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("v").cast("long").alias("v_min"),
            F.max("v").cast("long").alias("v_max"),
        )
    )


def minmax_file_stats(
    df: "DataFrame",
    file_col: str,
    value_col: str,
) -> "DataFrame":
    """(file_id, n_rows, v_min, v_max): the per-file min/max column
    statistics every lakehouse format (parquet footers, Iceberg/Delta
    manifests) keeps, computed in one map-side-combined groupBy. A
    range predicate can SKIP any file whose [v_min, v_max] interval
    misses it — the pruning arithmetic that lets a 100 TB scan touch
    only the files that can match. Output is file-count-sized."""
    return (
        df.select(
            F.col(file_col).cast("long").alias("file_id"),
            F.col(value_col).cast("long").alias("v"),
        )
        .groupBy("file_id")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("v").alias("v_min"),
            F.max("v").alias("v_max"),
        )
    )
