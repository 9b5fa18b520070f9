"""The two crawl workloads.

``crawl_warm``: politeness-bound eastmoney crawl at full budget. Every
fund code yields four pages on one host; the AIMD budget starts at its
cap (``init_budget = max_budget = 160``), no faults, no discovery, and
durable checkpoints only at the full replay's 25-wave cadence — so the
timed crawl is steady waves (admit -> fetch kernel -> agg collect ->
frontier update -> lazy active slice) plus the final checkpoint.

``crawl_durable``: the ``jobs/crawl_job.py`` defaults plus discovery:
cold AIMD, a durable checkpoint every wave, 64 shards x 1M seen-set
capacity, ``discover=True``. Each pass stops at a fixed wave through
``max_waves`` and finishes with ``run(resume=True)``, so it measures
the per-wave checkpoint, the discovery probe and the resume. It runs as
the companion segment of ``crawl_warm``'s traced run and supplies the
per-layer metrics in ``CrawlDurable.owns``.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from harness import Bench, Checks, Tracer
from stats import dir_bytes, median, tail_percentile

WAVE_LOG_PREFIX = "[crawl] wave="


def seed_rows(seed: int, n: int, stream: int) -> list[tuple[str, str, int]]:
    """``n`` distinct six-digit fund codes drawn from ``seed``."""
    rng = np.random.default_rng([seed, stream])
    codes = rng.choice(1_000_000, size=n, replace=False)
    return [(f"{int(c):06d}", f"基金{i:04d}号", i) for i, c in enumerate(codes)]


class CrawlWorkload:
    """Shared pass driver; subclasses fix the config and the checks."""

    name = ""
    prefix = "crawl"       # of the crawl-level per-layer metric names
    stream = 0
    n_seeds = 0
    warm_seeds = 0

    def __init__(self, bench: Bench, seed: int, checks: Checks) -> None:
        self.bench = bench
        self.spark = bench.spark
        self.seed = seed
        self.checks = checks
        self.n_pass = 0
        self.rows = []
        self.seeds_df = None

    # ------------------------------------------------------------ inputs

    def generate(self) -> None:
        from fundcrawler_spark.schemas import SEEDS_SCHEMA

        self.rows = seed_rows(self.seed, self.n_seeds, self.stream)
        self.seeds_df = self.spark.createDataFrame(self.rows, SEEDS_SCHEMA)

    def config(self, **overrides):
        raise NotImplementedError

    def _workdir(self) -> str:
        self.n_pass += 1
        wd = self.bench.path("crawl", f"pass{self.n_pass}")
        shutil.rmtree(wd, ignore_errors=True)
        return wd

    def warmup(self) -> None:
        """One small crawl of the same configuration, untimed."""
        from fundcrawler_spark.schemas import SEEDS_SCHEMA

        rows = seed_rows(self.seed, self.warm_seeds, self.stream + 100)
        seeds = self.spark.createDataFrame(rows, SEEDS_SCHEMA)
        wd = self._workdir()
        self._crawl(seeds, wd, hook=None, warm=True)
        shutil.rmtree(wd, ignore_errors=True)

    # ------------------------------------------------------------- crawl

    def _crawl(self, seeds, wd: str, hook, warm: bool = False) -> dict:
        raise NotImplementedError

    @staticmethod
    def _on_wave(hook):
        """``wave_hook`` that keeps each wave's record with its end time."""
        if hook is None:
            return None
        return lambda rec: hook.append({**rec, "t_end": time.time()})

    def run_pass(self, tracer: Tracer | None = None) -> dict:
        wd = self._workdir()
        hook = [] if tracer is not None else None
        rec = self._crawl(self.seeds_df, wd, hook)
        rec["hook"] = hook or []
        rec["disk_bytes"] = dir_bytes(wd)
        rec["workdir"] = wd
        return rec

    def finish_pass(self, rec: dict) -> None:
        shutil.rmtree(rec["workdir"], ignore_errors=True)

    @staticmethod
    def wave_walls(log_ts: list[tuple[float, str]]) -> list[float]:
        """Per-wave walls from consecutive end-of-wave log lines of one
        ``run`` call (the first wave of a call also carries the call's
        set-up, so it has no interval)."""
        ts = [t for t, msg in log_ts if msg.startswith(WAVE_LOG_PREFIX)]
        return [b - a for a, b in zip(ts, ts[1:])]

    # ----------------------------------------------------------- metrics

    def end_to_end(self, passes: list[dict]) -> dict[str, tuple[float, str]]:
        return {"pass_s": (median([p["wall_s"] for p in passes]), "s")}

    def workload_metrics(self, rec: dict) -> dict[str, float]:
        tail, pct, n = tail_percentile(rec["wave_walls"])
        pages = rec["pages"]
        p = self.prefix
        out = {
            f"{p}.pages_per_s": pages / rec["wall_s"],
            f"{p}.wave_p50_s": median(rec["wave_walls"]),
            f"{p}.wave_tail_s": tail,
            f"{p}.wave_tail_pct": pct,
            f"{p}.wave_n": float(n),
            f"{p}.disk_bytes_per_page": rec["disk_bytes"] / pages,
        }
        if "resume_s" in rec:
            out[f"{p}.resume_s"] = rec["resume_s"]
        return out

    # ------------------------------------------------------------ checks

    def pages_by_hash(self, wd: str) -> dict[int, tuple[int, int]]:
        from fundcrawler_spark.sources.iceberg_lite import IcebergLiteTable

        pages = IcebergLiteTable(os.path.join(wd, "tables", "pages")).read(self.spark)
        rows = pages.select("url_hash", "fetch_order", "wave").collect()
        return {r["url_hash"]: (r["fetch_order"], r["wave"]) for r in rows}

    def final_blobs(self, wd: str, waves: int) -> dict[int, bytes]:
        d = os.path.join(wd, "checkpoints", f"wave={waves - 1:05d}", "seen")
        return {r["shard_id"]: bytes(r["blob"])
                for r in self.spark.read.parquet(d).collect()}

    def check_results(self, wd: str) -> None:
        from fundcrawler_spark.sources.iceberg_lite import IcebergLiteTable

        res = IcebergLiteTable(os.path.join(wd, "tables", "results")).read(self.spark)
        codes = [r["fund_code"] for r in res.select("fund_code").collect()]
        self.checks.check(
            f"{self.name}.results_one_per_seed",
            len(codes) == len(set(codes)) == len(self.rows)
            and set(codes) == {c for c, _, _ in self.rows},
            f"{len(codes)} rows, {len(set(codes))} distinct, {len(self.rows)} seeds",
        )

    # ----------------------------------------------------------- tracing

    def trace_install(self, tracer: Tracer) -> None:
        """Spans around the crawler's calls into each layer. Functions the
        wave loop imported by name are wrapped in its namespace; the ones
        it reaches through a module (or imports at call time) are
        wrapped on that module; methods on their class."""
        from fundcrawler_spark.operators import frontier, multimodal, politeness
        from fundcrawler_spark.operators.seen import SeenSet
        from fundcrawler_spark.plans import wave_loop
        from fundcrawler_spark.sources.iceberg_lite import IcebergLiteTable

        tracer.wrap(wave_loop, "admit", "politeness.admit_s")
        tracer.wrap(wave_loop, "run_fetch", "fetch.run_fetch_s")
        tracer.wrap(wave_loop, "assemble_results", "assemble.results_s")
        tracer.wrap(politeness, "top_slice_keys", "politeness.top_slice_s")
        tracer.wrap(frontier, "seeds_to_frontier", "frontier.seeds_to_frontier_s")
        tracer.wrap(frontier, "remove_admitted", "frontier.remove_admitted_s")
        tracer.wrap(multimodal, "enrich_images", "multimodal.enrich_images_s")
        tracer.wrap(IcebergLiteTable, "append", "iceberg_lite.append_s")
        tracer.wrap(IcebergLiteTable, "read", "iceberg_lite.read_s")
        tracer.wrap(SeenSet, "insert", "seen.insert_s")
        tracer.wrap(SeenSet, "probe", "seen.probe_s")

    def layer_metrics(self, rec: dict, tracer: Tracer) -> dict[str, float]:
        hook, wd = rec["hook"], rec["workdir"]
        out = {name: tracer.total(name) for name in (
            "politeness.admit_s", "fetch.run_fetch_s", "assemble.results_s",
            "politeness.top_slice_s", "frontier.seeds_to_frontier_s",
            "frontier.remove_admitted_s", "multimodal.enrich_images_s",
            "iceberg_lite.append_s", "iceberg_lite.read_s",
            "seen.insert_s", "seen.probe_s")}
        # the serial phase keys only: the flush_* keys of a checkpoint
        # wave measure overlapped spans
        for key in ("fetch_agg", "refill", "discover", "checkpoint", "ckpt_flush", "ckpt_write"):
            out[f"wave_loop.{key}_s"] = sum(w.get(f"{key}_sec", 0.0) for w in hook)
        out["wave_loop.waves"] = float(len(hook))
        out["rate_control.pages_per_wave"] = rec["pages"] / max(len(hook), 1)
        out["iceberg_lite.commits"] = float(tracer.count("iceberg_lite.append_s"))
        out["iceberg_lite.bytes"] = float(dir_bytes(os.path.join(wd, "tables")))
        ckpts = os.path.join(wd, "checkpoints")
        for part in ("frontier", "seen"):
            out[f"ckpt.{part}_bytes"] = float(sum(
                dir_bytes(os.path.join(ckpts, d, part)) for d in os.listdir(ckpts)))
        out.update(self.kernel_probes(rec))
        out["fetch.boundary_s"] = out["wave_loop.fetch_agg_s"] - out["stub_transport.kernel_s"]
        return out

    def kernel_probes(self, rec: dict) -> dict[str, float]:
        """Time the Python kernels on the driver, on exactly the rows the
        traced crawl sent them. Fault-free crawls fetch every admitted
        row once, so a wave's pages are the rows its ``run_fetch`` call
        received, and the seen set's inserts are all fetched hashes."""
        from fundcrawler_spark.operators.seen import BloomShard
        from fundcrawler_spark.sources.iceberg_lite import IcebergLiteTable
        from fundcrawler_spark.sources.stub_transport import fetch_pandas_batch

        cfg = self.config()
        pages = IcebergLiteTable(os.path.join(rec["workdir"], "tables", "pages")).read(
            self.spark).select("url", "url_hash", "host", "page_type", "seed_index",
                               "retry_count", "wave").toPandas()
        admitted = {w["wave"]: w["n_admitted"] for w in rec["hook"]}
        kernel_s = 0.0
        for wave, pdf in pages.groupby("wave"):
            self.checks.check(f"{self.name}.probe_rows", len(pdf) == admitted.get(wave),
                              f"wave {wave}: {len(pdf)} pages, {admitted.get(wave)} admitted")
            t0 = time.perf_counter()
            fetch_pandas_batch(pdf.reset_index(drop=True), cfg.fail_rate,
                               cfg.max_fail_attempts, cfg.discover)
            kernel_s += time.perf_counter() - t0
        keys = pages["url_hash"].to_numpy(dtype=np.int64)
        sids = keys % cfg.n_shards
        t0 = time.perf_counter()
        blob_bytes = 0
        for sid in np.unique(sids):
            shard = BloomShard.sized(cfg.shard_capacity)
            shard.insert(keys[sids == sid])
            blob_bytes += len(shard.to_blob())
        seen_s = time.perf_counter() - t0
        return {"stub_transport.kernel_s": kernel_s, "seen.kernel_s": seen_s,
                "seen.blob_bytes": float(blob_bytes)}

    def spark_metrics(self, rec: dict, jobs: dict) -> dict[str, float]:
        """Crawl jobs come from the overlap threads too, which do not
        inherit job groups, so they are attributed to waves by the time
        window their submission falls in."""
        from eventlog import attribute_by_window, driver_gap, jobs_in_window, summarize

        mine = jobs_in_window(jobs, rec["t0"], rec["t1"])
        out = summarize(mine, rec["t0"], rec["t1"])
        windows = [(f"{i}:wave{w['wave']}", w["t_end"] - w["wave_sec"], w["t_end"])
                   for i, w in enumerate(rec["hook"])]
        per_wave = attribute_by_window(mine, windows)
        out["wave_loop.jobs_per_wave"] = (
            sum(len(v) for v in per_wave.values()) / max(len(windows), 1))
        out["wave_loop.driver_gap_s"] = sum(
            driver_gap(per_wave[key], lo, hi) for key, lo, hi in windows)
        return out


class CrawlWarm(CrawlWorkload):
    name = "crawl_warm"
    stream = 1
    n_seeds = 80           # 320 pages = 2 waves of 160
    warm_seeds = 40        # one 160-page wave
    budget = 160

    def config(self, **overrides):
        from fundcrawler_spark.plans.wave_loop import CrawlConfig

        base = dict(fail_rate=0.0, max_waves=200, n_shards=32,
                    init_budget=float(self.budget), max_budget=self.budget,
                    checkpoint_every=25, shard_capacity=100_000)
        base.update(overrides)
        return CrawlConfig(**base)

    def _crawl(self, seeds, wd: str, hook, warm: bool = False) -> dict:
        from fundcrawler_spark.plans.wave_loop import Crawler

        log_ts: list[tuple[float, str]] = []
        cfg = self.config(wave_hook=self._on_wave(hook))
        t0 = time.time()
        stats = Crawler(self.spark, wd, cfg).run(
            seeds=seeds, log=lambda msg: log_ts.append((time.time(), msg)))
        t1 = time.time()
        return {"wall_s": t1 - t0, "t0": t0, "t1": t1, "stats": stats,
                "pages": stats["pages_fetched"], "waves": stats["waves"],
                "wave_walls": self.wave_walls(log_ts), "log_ts": log_ts}

    def expected_order(self) -> dict[int, tuple[int, int]]:
        """Admission order computed without the engine's ranking: sort
        the frontier by (retry DESC, priority, seed_index, page ordinal)
        and cut it into waves of ``budget`` rows."""
        from fundcrawler_spark.operators.frontier import seeds_to_frontier
        from fundcrawler_spark.schemas import PAGE_ORDINAL

        rows = seeds_to_frontier(self.seeds_df).select(
            "url_hash", "retry_count", "priority", "seed_index", "page_type").collect()
        rows.sort(key=lambda r: (-r["retry_count"], r["priority"], r["seed_index"],
                                 PAGE_ORDINAL[r["page_type"]]))
        return {r["url_hash"]: (i + 1, i // self.budget) for i, r in enumerate(rows)}

    def check(self, rec: dict) -> None:
        from fundcrawler_spark.operators.seen import BloomShard

        cfg = self.config()
        wd = rec["workdir"]
        expect = self.expected_order()
        got = self.pages_by_hash(wd)
        self.checks.check(f"{self.name}.crawl_order", got == expect,
                          f"{len(got)} pages vs {len(expect)} expected")
        n_waves = -(-len(expect) // self.budget)
        self.checks.check(f"{self.name}.waves", rec["waves"] == n_waves,
                          f"{rec['waves']} != {n_waves}")
        shards: dict[int, BloomShard] = {}
        for h in expect:
            shards.setdefault(h % cfg.n_shards, BloomShard.sized(cfg.shard_capacity)).insert(
                np.array([h], dtype=np.int64))
        want = {sid: s.to_blob() for sid, s in shards.items()}
        self.checks.check(f"{self.name}.bloom_blobs", self.final_blobs(wd, rec["waves"]) == want,
                          "final seen blobs differ from BloomShard-built blobs")
        self.check_results(wd)


class CrawlDurable(CrawlWorkload):
    name = "crawl_durable"
    prefix = "durable"
    stream = 2
    n_seeds = 3            # 15 pages with discovery: waves of 1, 6, 6, 2
    warm_seeds = 1
    stop_wave = 2          # first run stops here; the rest is resumed
    warm_stop_wave = 1     # the 1-code warm-up resumes too
    # the per-layer metrics this segment supplies to crawl_warm's traced
    # run: the checkpoint, discovery, resume and write-side layers
    owns = ("durable.pages_per_s", "durable.wave_p50_s", "durable.resume_s",
            "durable.disk_bytes_per_page", "wave_loop.discover_s", "wave_loop.checkpoint_s",
            "wave_loop.ckpt_flush_s", "wave_loop.ckpt_write_s", "assemble.results_s",
            "multimodal.enrich_images_s", "iceberg_lite.append_s", "iceberg_lite.read_s",
            "iceberg_lite.commits", "iceberg_lite.bytes", "ckpt.frontier_bytes",
            "ckpt.seen_bytes", "seen.insert_s", "seen.probe_s", "seen.kernel_s",
            "seen.blob_bytes")

    def config(self, **overrides):
        from fundcrawler_spark.plans.wave_loop import CrawlConfig

        base = dict(discover=True)   # everything else: CrawlConfig defaults
        base.update(overrides)
        return CrawlConfig(**base)

    def generate(self) -> None:
        super().generate()
        self.discover_map = self._discover_map([c for c, _, _ in self.rows])

    def _discover_map(self, codes: list[str]) -> dict:
        from pyspark.sql import functions as F

        from fundcrawler_spark.functions.urlnorm import canonicalize_url, url_hash, url_host
        from fundcrawler_spark.sources.stub_transport import discovered_url

        df = self.spark.createDataFrame([(discovered_url(c),) for c in codes], "url string")
        norm = canonicalize_url(F.col("url"))
        rows = df.select("url", url_hash(norm).alias("h"), url_host(norm).alias("host")).collect()
        return {r["url"]: (r["h"], r["host"]) for r in rows}

    def _crawl(self, seeds, wd: str, hook, warm: bool = False) -> dict:
        from fundcrawler_spark.plans.wave_loop import Crawler

        stop = self.warm_stop_wave if warm else self.stop_wave
        marks: list[dict] = [] if hook is None else hook
        on_wave = self._on_wave(marks)
        log1: list[tuple[float, str]] = []
        log2: list[tuple[float, str]] = []
        t0 = time.time()
        Crawler(self.spark, wd, self.config(max_waves=stop, wave_hook=on_wave)).run(
            seeds=seeds, log=lambda msg: log1.append((time.time(), msg)))
        n_first = len(marks)
        t_resume = time.time()
        stats = Crawler(self.spark, wd, self.config(wave_hook=on_wave)).run(
            resume=True, log=lambda msg: log2.append((time.time(), msg)))
        t1 = time.time()
        rec = {"wall_s": t1 - t0, "t0": t0, "t1": t1, "stats": stats,
               "pages": stats["pages_fetched"], "waves": stats["waves"],
               "wave_walls": self.wave_walls(log1) + self.wave_walls(log2),
               "log_ts": log1 + log2, "t_resume": t_resume}
        if len(marks) > n_first:
            first = marks[n_first]
            rec["resume_s"] = (first["t_end"] - first["wave_sec"]) - t_resume
        return rec

    def check(self, rec: dict) -> None:
        from fundcrawler_spark.operators.frontier import seeds_to_frontier
        from fundcrawler_spark.plans.simulator import simulate

        cfg = self.config()
        wd = rec["workdir"]
        self.checks.check(f"{self.name}.resumed", "resume_s" in rec,
                          f"the first run reached the end before wave {self.stop_wave}")
        rows = [r.asDict() for r in seeds_to_frontier(self.seeds_df).collect()]
        sim = simulate(rows, fail_rate=cfg.fail_rate, max_fail_attempts=cfg.max_fail_attempts,
                       max_retries=cfg.max_retries, max_waves=cfg.max_waves,
                       max_budget=cfg.max_budget, n_shards=cfg.n_shards,
                       shard_capacity=cfg.shard_capacity, discover_map=self.discover_map)
        expect = {}
        for order, h, wave in sim["order"]:
            expect[h] = (order, wave)
        got = self.pages_by_hash(wd)
        self.checks.check(f"{self.name}.crawl_order", got == expect,
                          f"{len(got)} pages vs {len(expect)} simulated")
        self.checks.check(f"{self.name}.waves", rec["waves"] == sim["waves"],
                          f"{rec['waves']} != {sim['waves']}")
        self.checks.check(f"{self.name}.pages", rec["pages"] == len(sim["order"]),
                          f"{rec['pages']} != {len(sim['order'])}")
        self.checks.check(f"{self.name}.seen_set", set(got) == sim["seen"],
                          "fetched hashes differ from the simulated seen set")
        self.checks.check(f"{self.name}.bloom_blobs",
                          self.final_blobs(wd, rec["waves"]) == sim["bloom_blobs"],
                          "final seen blobs differ from the simulator's")
        self.check_results(wd)
