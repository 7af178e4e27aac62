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

Each wave is laid out once (``wave_layout``): one shuffle on
(host_bucket, pmod(hash(url), salt_n)) that also drops repeated (url,
triple) rows, so distinct graph rows are the writer's rule and a
mega-host bucket is written by up to ``salt_n`` tasks. A wave's jobs:
one aggregate for the ledger counts (it fills the layout's cache), the
triples and edges writes from that cache, the nodes write (one shuffle,
salted on ``iri``, deduped in it) and a one-file ledger append. Both
shuffles take ``spark.sql.shuffle.partitions`` partitions (2x cores
locally, see ``session.get_spark``; cluster jobs size it), passed
explicitly so AQE keeps the salt split.

Idempotence: partition-overwrite (dynamic) per host_bucket, so a retry
of an unfinished wave rewrites exactly its buckets; ``_progress`` is
appended only after the wave's data commit.
"""

from __future__ import annotations

import time
from typing import TYPE_CHECKING

import pandas as pd
from pyspark.sql import functions as F

from ..operators.canonicalize import TRIPLE_KEY

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

PROGRESS_SCHEMA = (
    "host_bucket int, n_triples long, n_nodes long, n_edges long, "
    "input_fingerprint string, wall_sec double, completed_at timestamp, run_id string"
)
PROGRESS_COLUMNS = [f.split()[0] for f in PROGRESS_SCHEMA.split(", ")]


def with_host_bucket(df: "DataFrame", n_buckets: int = 64) -> "DataFrame":
    """Add ``host`` + ``host_bucket`` columns derived from ``url``
    (pure column exprs; bucket = pmod(hash(host)))."""
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    return df.withColumn("host", host).withColumn(
        "host_bucket", F.pmod(F.hash(host), F.lit(n_buckets)).cast("int")
    )


def _salted(df: "DataFrame", salt_on: str, keys: list[str], salt_n: int) -> "DataFrame":
    """``df`` hash-partitioned on (host_bucket, pmod(hash(salt_on), salt_n))
    with duplicates over ``keys`` dropped in that same shuffle (the keys
    hold every partitioning column, so Spark plans no second exchange)."""
    n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        df.withColumn("_salt", F.pmod(F.hash(salt_on), F.lit(salt_n)))
        .repartition(n_parts, "host_bucket", "_salt")
        .dropDuplicates(["host_bucket", "_salt", *keys])
        .drop("_salt")
    )


def wave_layout(triples: "DataFrame", salt_n: int) -> "DataFrame":
    """Distinct (url, triple) rows salted on url: the triples/edges layout."""
    return _salted(triples, "url", ["url", *TRIPLE_KEY], salt_n)


def _terms(triples: "DataFrame") -> "DataFrame":
    """Each triple's graph terms: its subject (pos 0) and its object
    (pos 1; a null ``iri`` for a literal)."""
    return triples.select(
        "host_bucket",
        "obj_kind",
        F.posexplode(
            F.array("subj", F.when(F.col("obj_kind") != "literal", F.col("obj")))
        ).alias("pos", "iri"),
    )


def _node_terms(triples: "DataFrame") -> "DataFrame":
    kind = F.when(F.col("pos") == 0, "iri").otherwise(F.col("obj_kind")).alias("kind")
    return _terms(triples).filter(F.col("iri").isNotNull()).select("host_bucket", "iri", kind)


def nodes_from_triples(triples: "DataFrame") -> "DataFrame":
    """Distinct graph nodes (subjects + non-literal objects)."""
    return _node_terms(triples).dropDuplicates(["host_bucket", "iri"])


def edges_from_triples(triples: "DataFrame") -> "DataFrame":
    return triples.filter(F.col("obj_kind") != "literal").select(
        "host_bucket", "subj", "pred", "obj", "url"
    )


def _write(df: "DataFrame", path: str, mode: str) -> None:
    (
        df.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("host_bucket")
        .parquet(path)
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
    ``buckets``; repeated (url, triple) rows are dropped here. The data
    write happens first; the _progress append is the commit point (a
    crash in between re-does the wave idempotently via dynamic
    partition overwrite).

    ``buckets=None`` takes the bucket list from the per-bucket counts
    this function computes anyway over the cached layout — the
    streaming foreachBatch path uses this so each micro-batch is read
    exactly once.
    """
    t0 = time.time()
    layout = wave_layout(triples, salt_n).persist()
    try:
        per_bucket = {
            r["host_bucket"]: (r["n_triples"], r["n_nodes"], r["n_edges"])
            for r in _terms(layout)
            .groupBy("host_bucket")
            .agg(
                F.count_if(F.col("pos") == 0).alias("n_triples"),
                F.count_distinct("iri").alias("n_nodes"),
                F.count_if((F.col("pos") == 1) & F.col("iri").isNotNull()).alias("n_edges"),
            )
            .collect()
        }
        _write(layout, f"{out_dir}/triples", mode)
        _write(edges_from_triples(layout), f"{out_dir}/edges", mode)
        _write(_salted(_node_terms(layout), "iri", ["iri"], salt_n), f"{out_dir}/nodes", mode)
    finally:
        layout.unpersist()
    if buckets is None:
        buckets = sorted(per_bucket)
    wall = time.time() - t0
    rows = [
        (int(b), *per_bucket.get(b, (0, 0, 0)), input_fingerprint, wall, None, run_id)
        for b in buckets
    ]
    (
        spark.createDataFrame(pd.DataFrame(rows, columns=PROGRESS_COLUMNS), schema=PROGRESS_SCHEMA)
        .withColumn("completed_at", F.current_timestamp())
        .coalesce(1)
        .write.mode("append")
        .parquet(f"{out_dir}/_progress")
    )
