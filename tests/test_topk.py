"""grouped_topk must equal the naive single-window top-K exactly."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from fundcrawler_spark.operators.topk import grouped_topk


def test_salted_topk_equals_naive(spark):
    df = (
        spark.range(0, 5000)
        .withColumn("g", (F.col("id") % 7).cast("string"))
        .withColumn("v", F.pmod(F.xxhash64("id"), F.lit(1000)).cast("double"))
    )
    got = grouped_topk(df, ["g"], ["v"], 25, tiebreak=["id"])
    w = Window.partitionBy("g").orderBy(F.col("v").desc(), F.col("id").asc())
    naive = df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 25)
    a = sorted(map(tuple, got.select("g", "rank", "id", "v").collect()))
    b = sorted(map(tuple, naive.select("g", "rank", "id", "v").collect()))
    assert a == b and len(a) == 7 * 25


def test_small_group_under_k(spark):
    df = spark.createDataFrame([("a", 1.0), ("a", 2.0)], "g string, v double") \
        .withColumn("id", F.monotonically_increasing_id())
    out = grouped_topk(df, ["g"], ["v"], 10, tiebreak=["id"])
    assert out.count() == 2


def test_plan_is_one_exchange_over_partial_group_limit(spark):
    """The single window is skew-safe because Spark plans a map-side
    partial WindowGroupLimit below its one exchange: each map task
    forwards at most k rows per group to the reducer."""
    df = spark.range(0, 5000).select(
        (F.col("id") % 7).alias("g"),
        (F.col("id") * 2654435761 % 1000).alias("score"),
        F.col("id").alias("tid"),
    )
    out = grouped_topk(df, ["g"], [F.col("score").desc()], 10, tiebreak=["tid"])
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0].splitlines()
    exchanges = [i for i, line in enumerate(final) if "Exchange " in line]
    assert len(exchanges) == 1, plan
    below = final[exchanges[0] + 1:]
    assert any("WindowGroupLimit" in line and line.rstrip().endswith("Partial")
               for line in below), plan
