"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[N]``; the same settings are what we
would submit with ``spark-submit --py-files dist/fundcrawler_spark.zip``
on a real cluster (shuffle partitions are then sized to 2-3x total cores
and ``spark.sql.files.maxPartitionBytes`` left at 128m so a 100 TB scan
splits into ~800k tasks).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Static SQL confs: they are read once, when the JVM's first session is
# built, so every session builder of this engine sets them (``get_spark``
# and the spark-submit jobs under ``jobs/``).
#
# ``spark.sql.codegen.cache.maxEntries`` sizes the JVM-wide LRU of
# Janino-compiled generated classes. Spark's default is 100 entries, but
# the query suite uses ~146 distinct whole-stage-codegen classes and a
# crawl ~250, so the LRU evicted every class between two uses: each warm
# query_suite pass recompiled 141 classes and each warm crawl_warm pass
# ~200, and the JIT then compiled every fresh class again. 1024 holds
# over 4x the crawl's working set.
STATIC_CONF = {"spark.sql.codegen.cache.maxEntries": "1024"}


def get_spark(
    app_name: str = "fundcrawler_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    AQE is on: at cluster scale it coalesces small shuffle partitions and
    splits skewed ones (the single-host eastmoney skew case); Arrow is on
    for every pandas-UDF kernel boundary. The generated-class cache holds
    1024 classes (``STATIC_CONF``), so a plan that runs again reuses its
    compiled classes instead of compiling them anew. Static confs take
    effect only when a JVM's first session is built.
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config(map=STATIC_CONF)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # scan split size, parameterised (SPARK_GRAFT_MAX_PARTITION_BYTES).
        # Local default 16m: the testdata tables are single parquet files
        # under the stock 128m, so a 128m split serialises every scan
        # stage onto ONE task (r7 measurement: the lineitem scan+project
        # feeding retry_priority_admission ran 1-task; 16m opens it to
        # the file's row-group count). On a real cluster set 128m-512m
        # (guide §6.1: large sequential scans want fewer, bigger splits;
        # a 100 TB scan at 128m is ~800k tasks).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
    )
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        # e.g. /dev/shm/spark-local: tmpfs shuffle for bench runs where
        # the sandbox's shared disk would otherwise cap scaling
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread(df: DataFrame, *keys, rows: int | None = None) -> DataFrame:
    """Hash-repartition ``df`` by ``keys`` over one partition per core,
    or over ``min(cores, rows)`` (at least 1) when the caller knows an
    upper bound ``rows`` on the row count. This is the width of every
    compute-heavy stage (a Python kernel, a regex or HOF projection, a
    wide partial aggregate), for four reasons:

    - a single-file table scan opens only row-group-many tasks (often
      one), so without an exchange the heavy stage runs on those few;
    - AQE coalesces shuffle partitions by bytes, and a stage whose cost
      is per row, not per byte, would collapse onto 1-2 partitions; an
      explicit partition count is exempt from that coalescing;
    - every Python task pays a fixed worker start-up cost whatever its
      rows, so the boundary is paid once per core, never per empty task
      (``rows`` keeps a small batch from scheduling empty tasks);
    - hashing a key spreads rows like round-robin without round-robin's
      local sort of every input row (sortBeforeRepartition).
    """
    width = df.sparkSession.sparkContext.defaultParallelism
    if rows is not None:
        width = max(1, min(width, int(rows)))
    return df.repartition(width, *keys)
