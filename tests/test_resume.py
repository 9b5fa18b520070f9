"""Exact resume: kill after wave K, resume, final state identical to an
uninterrupted run (north-rule checkpoint contract)."""

import json
import os
import re
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from fundcrawler_spark import fixtures as fx
from fundcrawler_spark.plans.wave_loop import Crawler, CrawlConfig
from fundcrawler_spark.schemas import SEEDS_SCHEMA


class InjectedCrash(Exception):
    pass


def test_resume_equals_straight_run(spark):
    """A crawl that crashes inside a checkpoint's overlapped writes
    leaves that checkpoint torn; resuming from the one before it equals
    the straight run bit for bit, which includes rolling back the
    tables the crashed flush had already committed."""
    seeds = spark.createDataFrame(fx.seed_rows(8), SEEDS_SCHEMA)
    full = CrawlConfig(fail_rate=0.08, max_fail_attempts=1, max_waves=25, n_shards=8)

    wd1, wd2 = tempfile.mkdtemp(prefix="rA_"), tempfile.mkdtemp(prefix="rB_")
    try:
        c1 = Crawler(spark, wd1, full)
        s1 = c1.run(seeds=seeds, log=lambda *a: None)

        # the 5th fetch_log append raises; it runs alongside the pages,
        # images, results, frontier and seen writes of that checkpoint
        h = Crawler(spark, wd2, full)
        append, calls = h.fetch_log.append, []

        def crashing_append(df):
            calls.append(df)
            if len(calls) == 5:
                raise InjectedCrash("fetch_log append")
            return append(df)

        h.fetch_log.append = crashing_append
        with pytest.raises(InjectedCrash):
            h.run(seeds=seeds, log=lambda *a: None)
        # a wave that admits nothing appends no logs, so the crashed
        # wave is the newest checkpoint dir, whatever its number
        ckpts = os.path.join(wd2, "checkpoints")
        newest = max(int(n.split("=")[1]) for n in os.listdir(ckpts) if n.startswith("wave="))
        assert not os.path.exists(os.path.join(ckpts, f"wave={newest:05d}", "_COMPLETE"))
        assert h.latest_checkpoint() == newest - 1
        # the crashed flush still committed pages past that checkpoint
        with open(os.path.join(ckpts, f"wave={newest - 1:05d}", "meta.json")) as f:
            assert h.pages.current_snapshot() != json.load(f)["snapshots"]["pages"]
        # a checkpoint written before the frontier dropped its host_salt
        # column carries it as an extra integer field; resume must
        # ignore it
        fdir = os.path.join(wd2, "checkpoints", f"wave={h.latest_checkpoint():05d}", "frontier")
        old = os.path.join(wd2, "frontier_with_salt")
        (spark.read.parquet(fdir)
         .withColumn("host_salt", F.pmod(F.xxhash64("host", "url_norm"), F.lit(32)).cast("int"))
         .write.parquet(old))
        shutil.rmtree(fdir)
        os.rename(old, fdir)
        assert "host_salt" in spark.read.parquet(fdir).columns

        c2 = Crawler(spark, wd2, full)
        s2 = c2.run(resume=True, log=lambda *a: None)

        assert (s1["waves"], s1["pages_fetched"]) == (s2["waves"], s2["pages_fetched"])
        key = lambda r: (r["fetch_order"], r["url_hash"], r["wave"])
        p1 = sorted(map(key, c1.pages.read(spark).collect()))
        p2 = sorted(map(key, c2.pages.read(spark).collect()))
        assert p1 == p2
        r1 = sorted(map(tuple, c1.results.read(spark).collect()))
        r2 = sorted(map(tuple, c2.results.read(spark).collect()))
        assert r1 == r2
        b1 = {r["shard_id"]: bytes(r["blob"]) for r in spark.read.parquet(
            f"{wd1}/checkpoints/wave={s1['waves']-1:05d}/seen").collect()}
        b2 = {r["shard_id"]: bytes(r["blob"]) for r in spark.read.parquet(
            f"{wd2}/checkpoints/wave={s2['waves']-1:05d}/seen").collect()}
        assert b1 == b2
    finally:
        shutil.rmtree(wd1)
        shutil.rmtree(wd2)


def test_pre_pool_checkpoint_rejected(spark):
    """A checkpoint whose meta.json predates the incomplete-pool format
    is refused loudly on resume, naming the checkpoint dir."""
    seeds = spark.createDataFrame(fx.seed_rows(4), SEEDS_SCHEMA)
    cfg = CrawlConfig(fail_rate=0.0, max_waves=2, n_shards=4)
    wd = tempfile.mkdtemp(prefix="prepool_")
    try:
        c = Crawler(spark, wd, cfg)
        c.run(seeds=seeds, log=lambda *a: None)
        d = os.path.join(wd, "checkpoints", f"wave={c.latest_checkpoint():05d}")
        with open(os.path.join(d, "meta.json")) as f:
            meta = json.load(f)
        del meta["has_incomplete_pool"]
        with open(os.path.join(d, "meta.json"), "w") as f:
            json.dump(meta, f)
        with pytest.raises(RuntimeError, match=f"{re.escape(d)}.*predates"):
            Crawler(spark, wd, cfg).run(resume=True, log=lambda *a: None)
    finally:
        shutil.rmtree(wd)


def test_torn_checkpoint_not_resumed(spark):
    seeds = spark.createDataFrame(fx.seed_rows(4), SEEDS_SCHEMA)
    cfg = CrawlConfig(fail_rate=0.0, max_waves=2, n_shards=4)
    wd = tempfile.mkdtemp(prefix="torn_")
    try:
        c = Crawler(spark, wd, cfg)
        c.run(seeds=seeds, log=lambda *a: None)
        last = c.latest_checkpoint()
        # tear the newest checkpoint: remove its commit marker
        os.remove(os.path.join(wd, "checkpoints", f"wave={last:05d}", "_COMPLETE"))
        assert Crawler(spark, wd, cfg).latest_checkpoint() == last - 1
    finally:
        shutil.rmtree(wd)


def test_fresh_run_refuses_dirty_workdir(spark):
    """A fresh run must not silently destroy a prior crawl: it raises on
    a dirty workdir unless overwrite=True is passed explicitly."""
    seeds = spark.createDataFrame(fx.seed_rows(4), SEEDS_SCHEMA)
    cfg = CrawlConfig(fail_rate=0.0, max_waves=3, n_shards=4)
    wd = tempfile.mkdtemp(prefix="dirty_")
    try:
        Crawler(spark, wd, cfg).run(seeds=seeds, log=lambda *a: None)
        with pytest.raises(RuntimeError, match="overwrite=True"):
            Crawler(spark, wd, cfg).run(seeds=seeds, log=lambda *a: None)
        # explicit overwrite truncates and reruns cleanly from wave 0
        c = Crawler(spark, wd, cfg)
        stats = c.run(seeds=seeds, overwrite=True, log=lambda *a: None)
        assert stats["pages_fetched"] == c.pages.read(spark).count()
    finally:
        shutil.rmtree(wd)


def test_resume_with_batched_appends(spark):
    """checkpoint_every>1 buffers pages/fetch_log appends between
    durable checkpoints; a kill mid-interval must resume from the last
    checkpoint and converge to the identical final state."""
    seeds = spark.createDataFrame(fx.seed_rows(8), SEEDS_SCHEMA)
    full = CrawlConfig(fail_rate=0.08, max_fail_attempts=1, max_waves=25,
                       n_shards=8, checkpoint_every=3)
    half = CrawlConfig(fail_rate=0.08, max_fail_attempts=1, max_waves=5,
                       n_shards=8, checkpoint_every=3)
    wd1, wd2 = tempfile.mkdtemp(prefix="rbA_"), tempfile.mkdtemp(prefix="rbB_")
    try:
        c1 = Crawler(spark, wd1, full)
        s1 = c1.run(seeds=seeds, log=lambda *a: None)
        Crawler(spark, wd2, half).run(seeds=seeds, log=lambda *a: None)
        c2 = Crawler(spark, wd2, full)
        s2 = c2.run(resume=True, log=lambda *a: None)
        assert (s1["waves"], s1["pages_fetched"]) == (s2["waves"], s2["pages_fetched"])
        key = lambda r: (r["fetch_order"], r["url_hash"], r["wave"])
        p1 = sorted(map(key, c1.pages.read(spark).collect()))
        p2 = sorted(map(key, c2.pages.read(spark).collect()))
        assert p1 == p2
        # fetch_log rows must also be complete and consistent (telemetry
        # is wave-deterministic except wall_ms)
        lkey = lambda r: (r["wave"], r["host"], r["n_admitted"], r["n_success"],
                          r["n_fail"], r["fail_rate_w10"], r["budget"], r["threshold"])
        l1 = sorted(map(lkey, c1.fetch_log.read(spark).collect()))
        l2 = sorted(map(lkey, c2.fetch_log.read(spark).collect()))
        assert l1 == l2
        # incremental finalize (per-checkpoint-interval appends across
        # multiple intervals + a resume boundary) must equal a full
        # end-of-run recompute over the pages table — exactly once per
        # seed, no misses, identical parse output
        from fundcrawler_spark.operators.assemble import assemble_results

        seeds_back = spark.read.parquet(f"{wd2}/seeds.parquet")
        full = sorted(map(tuple, assemble_results(
            c2.pages.read(spark).select("seed_index", "page_type", "body"),
            seeds_back).collect()))
        incr = sorted(map(tuple, c2.results.read(spark).collect()))
        assert incr == full
        # images: one enriched row per fetched page, unique ids
        img = c2.images.read(spark)
        assert img.count() == c2.pages.read(spark).count()
        assert img.select("image_id").distinct().count() == img.count()
    finally:
        shutil.rmtree(wd1)
        shutil.rmtree(wd2)


def test_resume_with_robots_equals_straight_run(spark):
    """Robots filtering composes with resume: disallowed rows are
    dropped at seed insertion AND re-dropped defensively when a
    checkpoint frontier is reloaded, so a resumed blocked crawl matches
    the straight run exactly (pages, results, waves) and never fetches
    a disallowed URL."""
    from fundcrawler_spark.fixtures import EASTMONEY_HOST

    robots = {EASTMONEY_HOST: "User-agent: *\nDisallow: /tsdata_\nAllow: /\n"}
    seeds = spark.createDataFrame(fx.seed_rows(8), SEEDS_SCHEMA)
    full = CrawlConfig(fail_rate=0.02, max_fail_attempts=1, max_waves=40,
                       n_shards=8, robots_by_host=robots)
    half = CrawlConfig(fail_rate=0.02, max_fail_attempts=1, max_waves=3,
                       n_shards=8, robots_by_host=robots)

    wd1, wd2 = tempfile.mkdtemp(prefix="rRA_"), tempfile.mkdtemp(prefix="rRB_")
    try:
        c1 = Crawler(spark, wd1, full)
        s1 = c1.run(seeds=seeds, log=lambda *a: None)

        Crawler(spark, wd2, half).run(seeds=seeds, log=lambda *a: None)
        c2 = Crawler(spark, wd2, full)
        s2 = c2.run(resume=True, log=lambda *a: None)

        assert (s1["waves"], s1["pages_fetched"]) == (s2["waves"], s2["pages_fetched"])
        key = lambda r: (r["fetch_order"], r["url_hash"], r["wave"])
        p1 = sorted(map(key, c1.pages.read(spark).collect()))
        p2 = sorted(map(key, c2.pages.read(spark).collect()))
        assert p1 == p2
        assert not any("tsdata" in r["url"] for r in c2.pages.read(spark).collect())
        assert s1["waves"] < 40  # terminated by drain, not max_waves
    finally:
        shutil.rmtree(wd1)
        shutil.rmtree(wd2)
