"""SparkSession factory with scale-appropriate defaults.

Defaults chosen for the 100 TB design point but safe on local[N]:
AQE on (runtime coalescing + skew-join splitting), UTC session time zone
(timestamp parity with the DuckDB oracle and any downstream engine),
Arrow enabled for the pandas/Arrow UDF kernels.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ts_raster_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so the bench harness can run the identical job at two parallelism
    levels (the sandbox stand-in for N vs 4N executors).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus.isdigit() else "32"
        shuffle_partitions = max(int(n), 8)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE rewrite a planned sort-merge join to shuffled-hash at
        # runtime when every post-shuffle partition's build side fits
        # this bound (guide §3.1; default 0 = off).  2x the 64 MiB AQE
        # advisory partition size: partitions AQE leaves big (skewed)
        # stay sort-merge, so the hash build is memory-bounded at any
        # scale.  Round-6 A/B on the 4.4M-turn latency self-join:
        # SMJ 3.40 s -> SHJ 3.11 s with no broadcast-path override.
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "134217728")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Parquet scan tuning: at 100 TB, 128 MiB splits keep task counts
        # manageable while preserving parallelism.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # zstd output: ~30% smaller tier files than snappy at equal
        # write+read wall time on this box (round-6 A/B: minute tier
        # 119 MB snappy vs 84 MB zstd, 4.8 s vs 4.6 s write, read flat)
        # — guide §6; at 100 TB smaller files are strictly better.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Generated-class cache.  The default 100 entries is a Guava
        # cache split into 4 segments of ~25 entries each, evicted per
        # segment, so the declared queries evict each other's classes
        # and every run Janino-compiles and re-JITs the same source
        # (~194 classes per pass of the 5-query bench mix).  Measured
        # working set of all 108 queries at sf0.001: 1,768 distinct
        # classes (1,428 with the setting below); 4096 is ~2.3x that.
        # Static conf: it only takes effect in a JVM whose first
        # session is this one.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # The cache is keyed by source text, and a whole-stage class is
        # named after its codegen stage id, which AQE assigns in stage
        # completion order.  With the id in the name the same stage
        # compiles again whenever that order changes between runs.
        .config("spark.sql.codegen.useIdInClassName", "false")
        # PySpark's DataFrame debugging wraps every pyspark.sql.functions
        # call in a Python stack walk plus ~5 extra py4j round trips
        # (active-session lookup, conf read, JVM class lookup, origin
        # set/clear), all to name the Python line in analysis errors.
        # Building conv_features_ext took ~8,200 round trips with it on
        # and ~2,400 with it off; the declared queries are fixed code, so
        # the Spark-side error message alone locates a failure.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    return b.getOrCreate()
