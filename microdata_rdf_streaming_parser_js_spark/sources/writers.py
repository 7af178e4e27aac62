"""D6/D7 — graph materialization, host-bucket partitioning, skew
salting, and resumable per-partition checkpoints with lineage.

Tables written under ``out_dir`` as parquet directories (the only
writer; an Iceberg ``overwritePartitions()`` writer waits until an
Iceberg runtime jar ships with the project):

- ``triples/``  partitioned by ``host_bucket``
- ``nodes/``    distinct terms w/ kind, partitioned by ``host_bucket``
- ``edges/``    iri->iri edges only, partitioned by ``host_bucket``
- ``_progress/``  one row per completed host_bucket: counts, timing,
  input fingerprint — the resume ledger and lineage record.

A wave's jobs are one aggregate (all three ledger counts), the three
table writes and the ledger append; the canonicalize join upstream runs
none at plan time (Spark's byte threshold plus AQE's runtime re-plan
pick its strategy).

Idempotence: partition-overwrite (dynamic) per host_bucket, so a retry
of an unfinished wave rewrites exactly its buckets; ``_progress`` is
appended only after the wave's data commit.

Skew: a mega-host concentrates rows in one ``host_bucket``; writes
repartition on (host_bucket, salt) with ``salt = pmod(hash(url),
salt_n)`` so each bucket is written by ``salt_n`` parallel tasks
instead of one.
"""

from __future__ import annotations

import time
from typing import TYPE_CHECKING

from pyspark.sql import functions as F

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

PROGRESS_SCHEMA = (
    "host_bucket int, n_triples long, n_nodes long, n_edges long, "
    "input_fingerprint string, wall_sec double, completed_at timestamp, run_id string"
)


def with_host_bucket(df: "DataFrame", n_buckets: int = 64) -> "DataFrame":
    """Add ``host`` + ``host_bucket`` columns derived from ``url``
    (pure column exprs; bucket = pmod(hash(host)))."""
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    return df.withColumn("host", host).withColumn(
        "host_bucket", F.pmod(F.hash(host), F.lit(n_buckets)).cast("int")
    )


def _write_partitioned(
    df: "DataFrame",
    path: str,
    salt_n: int,
    num_partitions: int,
    mode: str = "overwrite",
) -> None:
    # explicit partition count: AQE treats user-specified repartition
    # numbers as final, so the salt split is not coalesced back into
    # one writer task per (possibly mega-) host bucket
    if "url" in df.columns:
        cols = [F.col("host_bucket"), F.pmod(F.hash("url"), F.lit(salt_n))]
    else:
        cols = [F.col("host_bucket")]
    out = df.repartition(num_partitions, *cols)
    (
        out.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("host_bucket")
        .parquet(path)
    )


def nodes_from_triples(triples: "DataFrame") -> "DataFrame":
    """Distinct graph nodes (subjects + non-literal objects)."""
    subs = triples.select(
        "host_bucket", F.col("subj").alias("iri"), F.lit("iri").alias("kind")
    )
    objs = triples.filter(F.col("obj_kind") != "literal").select(
        "host_bucket", F.col("obj").alias("iri"), F.col("obj_kind").alias("kind")
    )
    return subs.unionByName(objs).dropDuplicates(["host_bucket", "iri"])


def edges_from_triples(triples: "DataFrame") -> "DataFrame":
    return triples.filter(F.col("obj_kind") != "literal").select(
        "host_bucket", "subj", "pred", "obj", "url"
    )


def completed_buckets(spark: "SparkSession", out_dir: str) -> set[int]:
    """Read the resume ledger; empty set when ``_progress`` is absent or
    holds no data file (asked of the path's Hadoop FileSystem, so any
    scheme). Other read errors raise rather than re-run every bucket."""
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(f"{out_dir}/_progress")
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(path) or not any(
        not st.getPath().getName().startswith(("_", ".")) for st in fs.listStatus(path)
    ):
        return set()
    rows = (
        spark.read.schema(PROGRESS_SCHEMA)
        .parquet(f"{out_dir}/_progress")
        .select("host_bucket")
        .distinct()
        .collect()
    )
    return {r.host_bucket for r in rows}


def materialize_wave(
    spark: "SparkSession",
    triples: "DataFrame",
    out_dir: str,
    buckets: list[int] | None,
    salt_n: int = 8,
    input_fingerprint: str = "",
    run_id: str = "",
    mode: str = "overwrite",
) -> None:
    """Write one wave of host buckets + commit its checkpoint rows.

    ``triples`` must already carry host_bucket and be filtered to
    ``buckets``. The data write happens first; the _progress append is
    the commit point (a crash in between re-does the wave
    idempotently via dynamic partition overwrite).

    ``buckets=None`` derives the bucket list from the per-bucket
    counts this function computes anyway over the PERSISTED frame —
    the streaming foreachBatch path uses this so each micro-batch is
    read exactly once (a caller-side ``distinct().collect()`` would
    re-scan the un-persisted batch).
    """
    t0 = time.time()
    triples = triples.persist()
    try:
        # one aggregate for all three counts: each triple gives its
        # subject (pos 0) and non-literal object (pos 1, else null)
        terms = triples.select(
            "host_bucket",
            F.posexplode(
                F.array("subj", F.when(F.col("obj_kind") != "literal", F.col("obj")))
            ).alias("pos", "term"),
        )
        per_bucket = {
            r["host_bucket"]: (r["n_triples"], r["n_nodes"], r["n_edges"])
            for r in terms.groupBy("host_bucket")
            .agg(
                F.count_if(F.col("pos") == 0).alias("n_triples"),
                F.count_distinct("term").alias("n_nodes"),
                F.count_if((F.col("pos") == 1) & F.col("term").isNotNull()).alias("n_edges"),
            )
            .collect()
        }
        if buckets is None:
            buckets = sorted(per_bucket)
        n_parts = max(1, len(buckets)) * salt_n
        _write_partitioned(triples, f"{out_dir}/triples", salt_n, n_parts, mode)
        _write_partitioned(nodes_from_triples(triples), f"{out_dir}/nodes", salt_n, n_parts, mode)
        _write_partitioned(edges_from_triples(triples), f"{out_dir}/edges", salt_n, n_parts, mode)
    finally:
        triples.unpersist()
    wall = time.time() - t0
    now = F.current_timestamp()
    rows = [
        (
            int(b),
            *per_bucket.get(b, (0, 0, 0)),
            input_fingerprint,
            wall,
            None,
            run_id,
        )
        for b in buckets
    ]
    (
        spark.createDataFrame(rows, schema=PROGRESS_SCHEMA)
        .withColumn("completed_at", now)
        .write.mode("append")
        .parquet(f"{out_dir}/_progress")
    )
