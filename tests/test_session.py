"""Per-session work happens once per session: a plan compiled once is
not compiled again while its classes fit the generated-class cache, and
a table file's schema is inferred once per version of the file. Stage
width is decided once, by ``spread``."""

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from fundcrawler_spark import entry_queries
from fundcrawler_spark.session import spread

N_PLANS = 150  # above Spark's default 100-entry generated-class cache


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_plans_reuse_generated_classes(spark):
    # a union is not codegen'd, so each branch is its own whole-stage
    # class; one job of one task per branch runs them all
    sql = " UNION ALL ".join(
        f"SELECT id + {i} AS x FROM range(0, 1, 1, 1)" for i in range(N_PLANS)
    )

    def run_all():
        assert len(spark.sql(sql).collect()) == N_PLANS

    run_all()
    before = _compiles(spark)
    run_all()
    assert _compiles(spark) - before == 0


def _jobs(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_table_schema_inferred_once_per_file_version(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    sc = spark.sparkContext

    def read(group: str):
        sc.setJobGroup(group, group)
        try:
            return entry_queries._t(spark, str(tmp_path), "t")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    first = read("schema-first")
    assert _jobs(spark, "schema-first") >= 1
    second = read("schema-second")
    assert _jobs(spark, "schema-second") == 0
    assert second.schema == spark.read.parquet(str(path)).schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())

    pq.write_table(pa.table({"a": [4], "b": ["w"], "c": [1.5]}), path)
    third = read("schema-rewritten")
    assert _jobs(spark, "schema-rewritten") >= 1
    assert third.columns == ["a", "b", "c"]
    assert [tuple(r) for r in third.collect()] == [(4, "w", 1.5)]


def test_spread_width_is_one_partition_per_core(spark):
    cores = spark.sparkContext.defaultParallelism
    df = spark.range(100)
    assert spread(df, "id").rdd.getNumPartitions() == cores


def test_spread_width_is_capped_by_rows(spark):
    cores = spark.sparkContext.defaultParallelism
    df = spark.range(100)
    for rows in (1, 3, cores - 1, cores, cores + 5):
        assert spread(df, "id", rows=rows).rdd.getNumPartitions() == min(cores, rows)
    assert spread(df, "id", rows=0).rdd.getNumPartitions() == 1


def test_spread_keeps_equal_keys_together(spark):
    df = spark.range(200).select((F.col("id") % 7).alias("k"), "id")
    parts = (
        spread(df, "k")
        .select("k", F.spark_partition_id().alias("p"))
        .distinct()
        .groupBy("k")
        .count()
        .collect()
    )
    assert len(parts) == 7
    assert all(r["count"] == 1 for r in parts)
