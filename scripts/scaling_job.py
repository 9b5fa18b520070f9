"""One fixed unit of crawl-engine work, run at a given core count.

Usage: python scripts/scaling_job.py <cores> [pages_rows] [frontier_rows]
Prints one JSON line with per-segment times and throughputs.

Sandbox realization of the north rule's N-vs-4N-executor scaling
criterion (BASELINE.md): the same job at local[N] and local[4N] on
identical input. Segments are grouped by plane:

  compute plane (scales with executors on a real cluster AND here):
    * jvm_frontier  — URL canonicalize + xxhash64 + host extract,
                      whole-stage-codegen, no exchange
    * fetch_parse   — mapInPandas fetch kernel (image synthesis +
                      encode) + the 10 regex projections
    * bloom_probe   — broadcast-mode seen-set probe (mapInPandas,
                      no shuffle of the candidate side)

  shuffle plane (in local mode ALL "executors" share one block
  manager + one tmpfs, so exchange bandwidth does NOT grow with the
  thread count — on a real cluster it grows with the executor count;
  reported separately, not as evidence against executor scaling):
    * repartition   — hash-partition the frontier by url_hash
    * bloom_insert  — cogrouped per-shard read-modify-write
    * admission     — salted per-host top-K (two slim exchanges)
    * anti_join     — broadcast anti join (tiny; fixed cost)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    cores = int(sys.argv[1])
    pages_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    frontier_rows = int(sys.argv[3]) if len(sys.argv) > 3 else 8_000_000

    from pyspark.sql import functions as F

    from fundcrawler_spark.functions.parse import parse_all
    from fundcrawler_spark.functions.urlnorm import (
        build_url, canonicalize_url, host_salt, url_hash, url_host,
    )
    from fundcrawler_spark.operators.fetch import run_fetch
    from fundcrawler_spark.operators.politeness import admit
    from fundcrawler_spark.operators.seen import SeenSet
    from fundcrawler_spark.schemas import PAGE_TYPES
    from fundcrawler_spark.session import get_spark

    spark = get_spark(app_name=f"scaling{cores}", cores=cores,
                      shuffle_partitions=64)  # FIXED across core counts

    t = {}

    def _url_df(n):
        return spark.range(0, n, 1, 64).select(
            F.concat(
                F.lit("https://WWW.Host"), (F.col("id") % 64).cast("string"),
                F.lit(".example.com//p//"), F.col("id").cast("string"), F.lit("/"),
            ).alias("url"),
            F.col("id").alias("seed_index"),
        )

    # ---------------- compute plane -----------------------------------
    # A: JVM canonicalize + hash (no exchange)
    jvm = _url_df(frontier_rows).select(
        url_hash(canonicalize_url(F.col("url"))).alias("h")
    )
    jvm.agg(F.max("h")).collect()  # warm codegen
    t0 = time.time()
    jvm.agg(F.max("h")).collect()
    t["jvm_frontier"] = time.time() - t0

    # B: fetch kernel + regex parse
    n_seeds = pages_rows // 4
    seeds = spark.range(0, n_seeds, 1, 64).select(
        F.lpad((F.col("id") % 1000000).cast("string"), 6, "0").alias("fund_code"),
        F.col("id").alias("seed_index"),
    )
    fan = seeds.select(
        "fund_code", "seed_index",
        F.explode(F.array(*[F.lit(p) for p in PAGE_TYPES])).alias("page_type"),
    )
    admitted_like = (
        fan.withColumn("url", build_url(F.col("page_type"), F.col("fund_code")))
        .withColumn("url_norm", canonicalize_url(F.col("url")))
        .withColumn("url_hash", url_hash(F.col("url_norm")))
        .withColumn("host", F.concat(F.lit("h"), (F.col("seed_index") % 4).cast("string")))
        .withColumn("host_salt", host_salt(F.col("host"), 32, F.col("url_norm")))
        .withColumn("retry_count", F.lit(0).cast("int"))
        .withColumn("wave", F.lit(0).cast("int"))
    )
    t0 = time.time()
    fetched = run_fetch(admitted_like, fail_rate=0.0, wave=0)
    parsed_cols = parse_all({p: F.col("body") for p in PAGE_TYPES})
    parsed = fetched.select(
        "seed_index", "page_type", *[c.alias(n) for n, c in parsed_cols.items()]
    )
    parsed.write.format("noop").mode("overwrite").save()
    t["fetch_parse"] = time.time() - t0

    # C: broadcast bloom probe (no exchange of the candidate side)
    fr_flat = _url_df(frontier_rows).select(
        url_hash(canonicalize_url(F.col("url"))).alias("url_hash"), "seed_index"
    ).persist()
    fr_flat.count()
    ss = SeenSet(spark, n_shards=64, capacity_per_shard=200_000)
    half = fr_flat.filter(F.col("seed_index") % 2 == 0).select("url_hash")
    shards = ss.insert(ss.empty_shards(), half).persist()
    shards.count()
    t0 = time.time()
    n_seen = ss.probe(shards, fr_flat, mode="broadcast").filter(F.col("seen")).count()
    t["bloom_probe"] = time.time() - t0

    # ---------------- shuffle plane ------------------------------------
    fr_full = (
        _url_df(frontier_rows)
        .withColumn("url_norm", canonicalize_url(F.col("url")))
        .withColumn("url_hash", url_hash(F.col("url_norm")))
        .withColumn("host", url_host(F.col("url_norm")))
        .withColumn("host_salt", host_salt(F.col("host"), 32, F.col("url_norm")))
        .withColumn("page_type", F.lit("OVERVIEW"))
        .withColumn("retry_count", (F.col("seed_index") % 3).cast("int"))
        .withColumn("priority", F.col("seed_index") % 1000)
        .withColumn("wave", F.lit(0).cast("int"))
    )
    t0 = time.time()
    fr_part = fr_full.repartition(64, "url_hash").persist()
    fr_part.count()
    t["repartition"] = time.time() - t0

    t0 = time.time()
    shards2 = ss.insert(ss.empty_shards(), fr_part.select("url_hash"))
    shards2.write.format("noop").mode("overwrite").save()
    t["bloom_insert"] = time.time() - t0

    budgets = {f"host{i}.example.com": 160 for i in range(64)}
    t0 = time.time()
    admitted = admit(fr_part, budgets, 160).persist()
    n_adm = admitted.count()
    t["admission"] = time.time() - t0

    t0 = time.time()
    n_rest = fr_part.join(
        F.broadcast(admitted.select("url_hash")), "url_hash", "left_anti"
    ).count()
    t["anti_join"] = time.time() - t0

    spark.stop()

    compute_sec = t["jvm_frontier"] + t["fetch_parse"] + t["bloom_probe"]
    compute_ops = 2 * frontier_rows + pages_rows
    shuffle_sec = t["repartition"] + t["bloom_insert"] + t["admission"] + t["anti_join"]
    print(json.dumps({
        "cores": cores,
        "pages_rows": pages_rows,
        "frontier_rows": frontier_rows,
        "steps": {k: round(v, 2) for k, v in t.items()},
        "pages_per_sec": round(pages_rows / t["fetch_parse"], 1),
        "frontier_ops_per_sec": round(2 * frontier_rows / (t["jvm_frontier"] + t["bloom_probe"]), 1),
        "compute_plane_ops_per_sec": round(compute_ops / compute_sec, 1),
        "shuffle_plane_sec": round(shuffle_sec, 2),
        "_sanity": {"probed_seen": n_seen, "admitted": n_adm, "rest": n_rest},
    }))


if __name__ == "__main__":
    main()
