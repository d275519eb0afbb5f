"""SparkSession factory with engine defaults.

Local-mode testing uses ``local[N]``; the same configuration is what we
would submit to a real cluster — AQE on (runtime re-planning, skew-join
splitting, partition coalescing), shuffle partitions sized to the
parallelism, Arrow enabled for the Pandas-UDF slow path, UTC session
time zone so epoch-ms bucket arithmetic is calendar-free.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Compiled generated-code classes the JVM keeps. Spark's default of
# 100 is smaller than one steady cycle of the engine: an ingest op
# touches ~140 distinct classes and a query round ~125, so at 100
# every class is evicted before its next use and recompiled (~5 ms
# median each). 1000 is ~7x the largest cycle measured; at 3-9 KB of
# bytecode per entry it costs ~10 MB plus metaspace (README ADR
# "Generated-code cache sized to the working set"). A static SQL conf:
# it takes effect only when the session is built.
CODEGEN_CACHE_MAX_ENTRIES = 1000


def get_spark(
    app_name: str = "lakerunner_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    On a real cluster, drop ``master`` and let spark-submit provide it;
    everything else carries over unchanged.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(cpus) if str(cpus).isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # pyspark's daemon without the per-task re-read of every zip on
        # the worker's path (README ADR "Python worker daemon")
        .config("spark.python.daemon.module", "lakerunner_spark.pydaemon")
        # Per-operation call-site capture for enriched error messages
        # walks the Python stack AND issues a py4j origin call on EVERY
        # Column/DataFrame op — measured at ~15-20% of plan-construction
        # time on expression-heavy queries (r13 #3; the cost is pure
        # driver boundary, identical at any data scale). Off by default
        # for the engine; flip on when debugging a query.
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            "true"
            if os.environ.get("SPARK_GRAFT_DF_DEBUGGING") == "1"
            else "false",
        )
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES)
        )
        # NOTE: spark.sql.parquet.aggregatePushdown deliberately NOT
        # set — parquet sits on the default spark.sql.sources.
        # useV1SourceList, whose V1 scan has no aggregate pushdown, so
        # the flag would be a silent no-op; moving parquet to DSv2 for
        # it changes every scan's code path and is out of scope
        # TIMESTAMP(NANOS) parquet columns surface as LongType ns — the
        # engine's chq_tsns convention (the reference stores ns as Int64)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # Console progress bars write kilobytes of \r-framed noise to
        # stderr per minute; the per-round driver keeps only a ~2000
        # char tail of merged output to parse the bench result from,
        # and r9's kill-time tail was 100% progress bars. Off unless
        # explicitly asked for (SPARK_GRAFT_CONSOLE_PROGRESS=1).
        .config(
            "spark.ui.showConsoleProgress",
            "true"
            if os.environ.get("SPARK_GRAFT_CONSOLE_PROGRESS") == "1"
            else "false",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
