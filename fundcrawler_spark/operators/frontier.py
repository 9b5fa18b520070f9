"""Frontier construction + per-wave update — pure DataFrame ops.

Reference mapping: the fund -> 4-page fan-out (Context build,
async_crawling_data.py:107-117) becomes an ``explode`` over the page-
type array; the in-flight context set becomes the frontier table; the
retry re-enqueue (http_request_downloader.py:146-153) becomes a
unionByName of failed rows with retry_count+1.

Scale: the frontier lives hash-partitioned by url_hash (its natural
key). Removing the admitted rows each wave is a LEFT ANTI join whose
right side (the wave's admitted set) is budget-bounded and therefore
broadcast — the 10^10-row side never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.urlnorm import build_url, canonicalize_url, url_hash, url_host
from ..schemas import PAGE_TYPES


def seeds_to_frontier(seeds: DataFrame) -> DataFrame:
    """seeds(fund_code, fund_name, seed_index) -> initial frontier: one
    row per (fund, page_type), FRONTIER_SCHEMA columns."""
    fan = seeds.select(
        "fund_code",
        "seed_index",
        F.explode(F.array(*[F.lit(p) for p in PAGE_TYPES])).alias("page_type"),
    )
    url = build_url(F.col("page_type"), F.col("fund_code"))
    df = fan.withColumn("url", url).withColumn("url_norm", canonicalize_url(F.col("url")))
    df = (
        df.withColumn("url_hash", url_hash(F.col("url_norm")))
        .withColumn("host", url_host(F.col("url_norm")))
        .withColumn("retry_count", F.lit(0).cast("int"))
        .withColumn("priority", F.col("seed_index"))
        .withColumn("wave", F.lit(0).cast("int"))
    )
    return df.select(
        "url", "url_norm", "url_hash", "host",
        "page_type", "seed_index", "retry_count", "priority", "wave",
    )


def remove_admitted(frontier: DataFrame, admitted: DataFrame) -> DataFrame:
    """frontier minus this wave's admitted rows (anti join on url_hash;
    admitted is budget-bounded -> broadcast, big side stays put)."""
    keys = F.broadcast(admitted.select("url_hash").distinct())
    return frontier.join(keys, "url_hash", "left_anti")


def requeue_failures(frontier_rest: DataFrame, fetched: DataFrame, next_wave: int,
                     max_retries: int | None = None) -> DataFrame:
    """Failed fetches re-enter the frontier with retry_count+1 (retry
    routing, http_request_downloader.py:146-153). ``max_retries=None``
    mirrors the reference's infinite default (:25) — finite is our
    recommended knob so a dead URL cannot stall the crawl forever."""
    fails = fetched.filter(F.col("state") == "FALSE")
    if max_retries is not None:
        fails = fails.filter(F.col("retry_count") < max_retries)
    requeued = (
        fails.select(
            "url", "host", "page_type", "seed_index", "url_hash",
            (F.col("retry_count") + 1).alias("retry_count"),
        )
        .withColumn("url_norm", canonicalize_url(F.col("url")))
        .withColumn("priority", F.col("seed_index"))
        .withColumn("wave", F.lit(next_wave).cast("int"))
        .select(
            "url", "url_norm", "url_hash", "host",
            "page_type", "seed_index", "retry_count", "priority", "wave",
        )
    )
    return frontier_rest.unionByName(requeued)


def with_priority_scores(
    frontier: DataFrame,
    scores: DataFrame,
    key_col: str = "seed_index",
    score_col: str = "rank",
    default_score: int = 0,
) -> DataFrame:
    """OPIC/PageRank frontier prioritization: override the default
    FIFO priority (seed order) with ``-score``. `admission_order`
    sorts priority ASCENDING after retry-first, so higher-scored
    pages are fetched earlier while the retry-first invariant — the
    reference's semantics — is untouched. Unscored rows fall back to
    ``-default_score`` (with default 0, after every positively-scored
    row).

    scores is small by construction (one row per seed/host/page
    node, e.g. `operators/graph.pagerank_fixed_point` output) —
    broadcast join, the wide frontier never shuffles.
    """
    s = scores.select(
        F.col(key_col),
        F.col(score_col).cast("long").alias("__score"),
    )
    return (
        frontier.join(F.broadcast(s), key_col, "left")
        .withColumn(
            "priority",
            -F.coalesce(F.col("__score"), F.lit(int(default_score)).cast("long")),
        )
        .drop("__score")
    )
