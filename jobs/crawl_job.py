"""spark-submit entry point for the crawl engine.

    make dist
    spark-submit --py-files dist/fundcrawler_spark.zip \
        jobs/crawl_job.py --workdir /tmp/crawl --seeds 100 [--resume]

On a real cluster the same invocation runs against the cluster master;
the engine parallelism knobs (n_shards, shuffle partitions) are set
for multi-executor layouts — local[N] is just the sandbox
master URL.
"""

from __future__ import annotations

import argparse
import json
import os


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--seeds", type=int, default=100)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--overwrite", action="store_true",
                    help="discard a prior crawl found in --workdir")
    ap.add_argument("--fail-rate", type=float, default=0.0)
    ap.add_argument("--max-waves", type=int, default=200)
    ap.add_argument("--init-budget", type=float, default=None)
    ap.add_argument("--compact", action="store_true",
                    help="after the crawl: bin-pack each table's "
                         "per-wave small files into ~1M-row files")
    ap.add_argument("--zorder-pages", action="store_true",
                    help="with --compact: Z-cluster the pages table on "
                         "(seed_index, wave) instead of bin-packing, so "
                         "per-seed and per-wave-range scans both prune")
    ap.add_argument("--expire-keep", type=int, default=None,
                    help="with --compact: drop all but the last N "
                         "snapshots per table and delete their dead "
                         "files (forfeits resume/time-travel — only "
                         "for a finished crawl)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from fundcrawler_spark import fixtures as fx
    from fundcrawler_spark.plans.wave_loop import Crawler, CrawlConfig
    from fundcrawler_spark.schemas import SEEDS_SCHEMA
    from fundcrawler_spark.session import STATIC_CONF

    spark = (
        SparkSession.builder.appName("fundcrawler-crawl")
        .config(map=STATIC_CONF)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    cfg = CrawlConfig(
        fail_rate=args.fail_rate,
        max_waves=args.max_waves,
        init_budget=args.init_budget,
    )
    crawler = Crawler(spark, args.workdir, cfg)
    if args.resume:
        stats = crawler.run(resume=True)
    else:
        seeds = spark.createDataFrame(fx.seed_rows(args.seeds), SEEDS_SCHEMA)
        stats = crawler.run(seeds=seeds, overwrite=args.overwrite)
    if args.compact:
        from fundcrawler_spark.sources.iceberg_lite import maintain_tables

        zorder = (
            {os.path.basename(crawler.pages.path): ("seed_index", "wave")}
            if args.zorder_pages else None
        )
        stats["maintenance"] = maintain_tables(
            spark,
            [crawler.pages, crawler.images, crawler.results,
             crawler.fetch_log],
            expire_keep=args.expire_keep,
            zorder=zorder,
        )
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
