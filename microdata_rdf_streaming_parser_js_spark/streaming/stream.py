"""Structured Streaming variant of the extraction pipeline.

The reference is a *streaming* parser (Node Transform); the Spark
analogue of its continuous operation is a Structured Streaming job:
``readStream`` over an arriving pages feed -> the same
``mapInPandas`` extraction (mapInPandas works on streaming DataFrames)
-> skolemize -> ``foreachBatch`` into the batch writer (whose rule is
distinct (url, triple) graph rows), checkpointed by Spark's streaming
checkpoint + our _progress ledger per micro-batch.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import functions as F

from ..operators.extract import extract_triples
from ..operators.skolemize import skolemize
from ..sources.writers import materialize_wave, with_host_bucket

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql.streaming import StreamingQuery


def read_pages_stream(
    spark: "SparkSession", path: str, schema, fmt: str = "parquet",
    max_files_per_trigger: int = 16,
) -> "DataFrame":
    return (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )


def stream_triples(pages_stream: "DataFrame") -> "DataFrame":
    """Streaming pages -> streaming skolemized triples (stateless:
    extraction is per-row, so no watermark is needed)."""
    return skolemize(extract_triples(pages_stream))


def start_pipeline_stream(
    spark: "SparkSession",
    pages_stream: "DataFrame",
    out_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 64,
    salt_n: int = 8,
) -> "StreamingQuery":
    """foreachBatch writer: each micro-batch lands with the same
    host-bucket partitioning and appends its _progress lineage rows."""
    triples_stream = stream_triples(pages_stream)

    def write_batch(batch_df: "DataFrame", batch_id: int) -> None:
        b = with_host_bucket(batch_df, n_buckets)
        # buckets=None: the writer derives the bucket list from the
        # per-bucket counts it computes over its cached layout — one
        # read of each micro-batch, not two
        materialize_wave(
            spark, b, out_dir, buckets=None, salt_n=salt_n,
            input_fingerprint=f"stream-batch-{batch_id}", run_id=f"batch{batch_id}",
            mode="append",
        )

    return (
        triples_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_host_counts(
    pages_stream: "DataFrame",
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> "DataFrame":
    """Late-data-tolerant windowed aggregation: pages per (host,
    tumbling window of warc_ts), with a watermark bounding state.

    Streaming-aggregation shape (watermark + window + groupBy) used for
    crawl-rate monitoring; in append output mode a window closes once
    the watermark passes its end.
    """
    from pyspark.sql import functions as F

    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(
            F.window("warc_ts", window).alias("win"),
            F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        )
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "host",
            "n_pages",
        )
    )


FIRST_SEEN_SCHEMA = "url string, digest string"
_FIRST_SEEN_STATE = "seen boolean"


def streaming_first_seen_dedup(pages_stream: "DataFrame") -> "DataFrame":
    """Custom stateful streaming operator: emit only the FIRST page per
    content digest across the whole stream (exact streaming dedup).

    Built on ``applyInPandasWithState``: one boolean state cell per
    digest group; later arrivals of the same digest are dropped. This
    is the streaming analogue of exact_dedup for continuous ingestion.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.dedup import doc_digest

    with_digest = pages_stream.select(
        "url",
        doc_digest(
            F.decode(F.col("html"), "utf-8")
        ).alias("digest"),
    )

    def dedup_fn(key, pdf_iter, state):
        if state.exists:
            return iter(())
        state.update((True,))
        import pandas as pd

        first = next(pdf_iter)
        for _rest in pdf_iter:
            pass
        return iter([pd.DataFrame({"url": [first["url"].iloc[0]], "digest": [key[0]]})])

    return with_digest.groupBy("digest").applyInPandasWithState(
        dedup_fn,
        outputStructType=FIRST_SEEN_SCHEMA,
        stateStructType=_FIRST_SEEN_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_stream_interval_join(
    left: "DataFrame",
    right: "DataFrame",
    key_col: str = "user_id",
    ts_col: str = "ts",
    max_lag: str = "6 hours",
    watermark: str = "1 hour",
) -> "DataFrame":
    """Stream-stream INNER interval join (the attribution shape:
    right-side events that follow a matching left-side event on the
    same key within ``max_lag``).

    Both sides get an event-time watermark and the join carries the
    time-range predicate ``l.ts <= r.ts <= l.ts + max_lag`` — the two
    conditions Spark needs to bound the join state store: left rows
    are evicted once the right watermark passes ``l.ts + max_lag`` and
    right rows once the left watermark passes ``r.ts``, so state stays
    proportional to the lag window, not the stream length — the only
    shape that survives an unbounded 100 TB event firehose. Inner
    join, append mode: matches emit as they arrive (no watermark
    wait), so a drained availableNow run equals the batch join and a
    DuckDB oracle can check it exactly.

    Column names must be disjoint apart from ``key_col``; the joined
    frame exposes left columns, right columns, and ``lag_s`` (whole
    seconds, long, floor semantics on both engines).
    """
    l = left.withWatermark(ts_col, watermark).alias("l")
    r = right.withWatermark(ts_col, watermark).alias("r")
    lts, rts = F.col(f"l.{ts_col}"), F.col(f"r.{ts_col}")
    joined = l.join(
        r,
        (F.col(f"l.{key_col}") == F.col(f"r.{key_col}"))
        & (rts >= lts)
        & (rts <= lts + F.expr(f"INTERVAL {max_lag}")),
    )
    keep = [F.col(f"l.{key_col}").alias(key_col)]
    for c in left.columns:
        if c not in (key_col, ts_col):
            keep.append(F.col(f"l.{c}"))
    for c in right.columns:
        if c not in (key_col, ts_col):
            keep.append(F.col(f"r.{c}"))
    keep.append(
        (F.unix_timestamp(rts) - F.unix_timestamp(lts))
        .cast("long")
        .alias("lag_s")
    )
    return joined.select(*keep)
