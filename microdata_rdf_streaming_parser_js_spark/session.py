"""SparkSession factory tuned for this pipeline.

Local-mode testing uses ``local[N]``; the same settings hold on a real
cluster (spark-submit --py-files) where ``master``/memory come from the
cluster manager instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "microdata-rdf-kg",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    - Arrow enabled: the extraction UDF is ``mapInPandas`` (Arrow batches).
    - AQE + skew-join: runtime coalescing and skew splitting for the
      dedup/linking shuffles.
    - shuffle partitions default to 2x cores locally (cluster jobs
      should set this to ~2-3x total executor cores).
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    n_cores = os.cpu_count() or 8 if cores in ("*", "") else int(cores)
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * n_cores)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce/re-plan under .persist() too — otherwise a
        # cached tiny frame pins the full static shuffle-partition
        # count on every downstream stage
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # measured on the extraction pipeline: 1024 -> 34.9k pages/s,
        # 2048 -> 36.0k, 4096 -> 37.4k (fewer JVM<->Python crossings).
        # 2048 is the memory-safe pick: real crawl pages average tens
        # of KB, so a batch is ~50-100 MB per worker — 4096 doubles
        # that for the last ~4%, an OOM surface at local[32]
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        # PySpark's DataFrame debugging wraps every Column/functions call
        # to record its Python call site in the JVM: a conf read plus
        # set/clear round-trips over py4j and a Python stack walk per
        # call. Plans built from plan-time literals (centroids,
        # codebooks, per-bit masks) make tens of thousands of such
        # calls; without the wrapper a query's driver-side build time
        # is its py4j traffic alone. Errors keep their JVM stack traces.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # local mode: shuffles spill through spark.local.dir on the driver
    # host; pointing it at tmpfs keeps multi-hundred-MB shuffle writes
    # memory-speed instead of bottlenecking every level of parallelism
    # on one disk (on a real cluster this is per-executor local SSD).
    shm = os.environ.get("SPARK_LOCAL_DIRS_OVERRIDE", "/dev/shm/spark-local")
    if shm:
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
