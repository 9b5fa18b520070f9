"""Cuckoo-mode crawl: insert-on-admission with delete-on-failure (the
retry-eviction semantics the bloom filter cannot express)."""

import shutil
import tempfile

from pyspark.sql import functions as F

from fundcrawler_spark import fixtures as fx
from fundcrawler_spark.operators.seen import CuckooShard, load_shard
from fundcrawler_spark.plans.wave_loop import Crawler, CrawlConfig
from fundcrawler_spark.schemas import SEEDS_SCHEMA


def test_cuckoo_admission_mode_completes_and_seen_matches(spark):
    seeds = spark.createDataFrame(fx.seed_rows(8), SEEDS_SCHEMA)
    wd = tempfile.mkdtemp(prefix="ck_")
    try:
        cfg = CrawlConfig(
            fail_rate=0.15, max_fail_attempts=1, max_waves=40, n_shards=4,
            seen_kind="cuckoo", shard_capacity=10_000,
            verify_host_counts=True,
        )
        c = Crawler(spark, wd, cfg)
        stats = c.run(seeds=seeds, log=lambda *a: None)
        pages = c.pages.read(spark)
        ok_hashes = {r["url_hash"] for r in pages.select("url_hash").collect()}

        seen = spark.read.parquet(
            f"{wd}/checkpoints/wave={stats['waves']-1:05d}/seen"
        ).collect()
        # after delete-on-failure, the cuckoo set contains exactly the
        # successfully fetched URLs (every failure was either retried to
        # success -> reinserted, or evicted)
        import numpy as np

        total_in_filter = sum(r["n_items"] for r in seen)
        assert total_in_filter == len(ok_hashes)
        for r in seen:
            shard = load_shard(r["kind"], bytes(r["blob"]))
            assert isinstance(shard, CuckooShard)
            in_shard = np.array(
                [h for h in ok_hashes if h % cfg.n_shards == r["shard_id"]],
                dtype=np.int64,
            )
            if len(in_shard):
                assert shard.contains(in_shard).all()
    finally:
        shutil.rmtree(wd)
