"""``frontier_scale``: one frontier batch over many hosts at volume.

A seeded synthetic frontier of ``N_ROWS`` URLs over ``N_HOSTS`` hosts
whose sizes follow a Zipf law (host 0 dominates), with mixed-case
schemes, ``www.`` prefixes, doubled slashes and fragments for the
canonicalizer to fold. One pass runs the data plane of the wave loop
once, with no per-wave driver cost and no writes:

1. canonicalize, hash and salt the URLs (``functions.urlnorm``);
2. bloom-insert the even-indexed half of the keys, probe all of them;
3. cuckoo-insert and probe a smaller key set;
4. select the active slice (``politeness.top_slice_keys``);
5. ``politeness.admit`` at budget 160 per host;
6. ``frontier.remove_admitted``.

It runs as the companion segment of ``query_suite``'s traced run and
supplies the per-layer metrics in ``FrontierScale.owns``.
"""

from __future__ import annotations

import math
import time

import numpy as np

from harness import Bench, Checks, Tracer

N_ROWS = 500_000
N_HOSTS = 256
ZIPF_A = 1.1
N_SHARDS = 64
CUCKOO_KEYS = 20_000
BUDGET = 160
SLICE_WAVES = 8
HOST_BUCKETS = 4096
STEPS = ("urlnorm.build_s", "seen.insert_s", "seen.probe_s", "seen.cuckoo_insert_s",
         "seen.cuckoo_probe_s", "politeness.top_slice_s", "politeness.admit_s",
         "frontier.remove_admitted_s")


def host_names(n: int) -> list[str]:
    return [f"host{i:03d}.example{i % 7}.com" for i in range(n)]


def host_of_bucket(seed: int) -> np.ndarray:
    """Host index of each of ``HOST_BUCKETS`` equal-probability buckets,
    quantizing a Zipf(``ZIPF_A``) law over ``N_HOSTS`` hosts whose rank
    order is a seeded permutation with host 0 first."""
    rng = np.random.default_rng([seed, 3])
    weights = 1.0 / np.arange(1, N_HOSTS + 1) ** ZIPF_A
    cum = np.cumsum(weights / weights.sum())
    rank_of = np.concatenate([[0], 1 + rng.permutation(N_HOSTS - 1)])
    ranks = np.minimum(np.searchsorted(cum, (np.arange(HOST_BUCKETS) + 0.5) / HOST_BUCKETS),
                       N_HOSTS - 1)
    return rank_of[ranks]


class FrontierScale:
    name = "frontier_scale"
    # the per-layer metrics this segment supplies to query_suite's
    # traced run: the frontier data plane at volume
    owns = ("frontier.rows_per_s",) + STEPS + ("seen.kernel_s", "seen.fp_rate",
                                                "seen.blob_bytes")

    def __init__(self, bench: Bench, seed: int, checks: Checks) -> None:
        self.bench = bench
        self.spark = bench.spark
        self.seed = seed
        self.checks = checks
        self.input = bench.path("frontier_input")
        self.hosts = host_names(N_HOSTS)
        self.cached: list = []

    def generate(self) -> None:
        from pyspark.sql import functions as F

        spark = self.spark
        buckets = spark.createDataFrame(
            [(b, self.hosts[h]) for b, h in enumerate(host_of_bucket(self.seed).tolist())],
            "bucket int, host_c string")

        def rnd(k: int, mod: int):
            return F.pmod(F.xxhash64(F.lit(self.seed), F.col("id"), F.lit(k)), F.lit(mod))

        raw = spark.range(N_ROWS).select(
            F.col("id"),
            rnd(1, HOST_BUCKETS).cast("int").alias("bucket"),
            rnd(2, 4).cast("int").alias("style"),
            rnd(3, 1000).alias("priority"),
            rnd(4, 3).cast("int").alias("retry_count"),
            rnd(5, 4).cast("int").alias("pt"),
        )
        host = F.col("host_c")
        scheme = F.element_at(F.array(F.lit("http://"), F.lit("HTTPS://"), F.lit("https://www."),
                                      F.lit("Http://WWW.")), F.col("style") + 1)
        url = F.concat(
            scheme,
            F.when(F.col("style") % 2 == 1, F.upper(host)).otherwise(host),
            F.when(F.col("style") == 3, F.lit(":80")).otherwise(F.lit("")),
            F.lit("//p/"), F.col("id").cast("string"),
            F.when(F.col("style") >= 2, F.lit("/#top")).otherwise(F.lit("")),
        )
        (raw.join(F.broadcast(buckets), "bucket")
            .select(
                url.alias("url"),
                F.element_at(F.array(F.lit("OVERVIEW"), F.lit("MANAGER"), F.lit("METRICS"),
                                     F.lit("INCREASE")), F.col("pt") + 1).alias("page_type"),
                F.col("id").alias("seed_index"),
                "retry_count", "priority")
            .write.mode("overwrite").parquet(self.input))

    def warmup(self) -> None:
        """One pass over a tenth of the rows, untimed."""
        self._pipeline(self.spark.read.parquet(self.input).limit(N_ROWS // 10), None)
        self.finish_pass({})

    # -------------------------------------------------------------- pass

    def _step(self, spans: dict, name: str, tracer: Tracer | None, fn):
        t0 = time.time()
        out = fn()
        t1 = time.time()
        spans[name] = t1 - t0
        if tracer is not None:
            tracer.spans.append((name, t0, t1))
        return out

    def _persist(self, df):
        df = df.persist()
        self.cached.append(df)
        return df

    def _pipeline(self, raw, tracer: Tracer | None) -> dict:
        from pyspark.sql import functions as F

        from fundcrawler_spark.functions.urlnorm import canonicalize_url, host_salt, url_hash, url_host
        from fundcrawler_spark.operators.frontier import remove_admitted
        from fundcrawler_spark.operators.politeness import admit, top_slice_keys
        from fundcrawler_spark.operators.seen import SeenSet

        spark = self.spark
        spans: dict[str, float] = {}
        out: dict = {"spans": spans}
        t_start = time.time()

        def build():
            fr = (raw.withColumn("url_norm", canonicalize_url(F.col("url")))
                  .withColumn("url_hash", url_hash(F.col("url_norm")))
                  .withColumn("host", url_host(F.col("url_norm")))
                  .withColumn("host_salt", host_salt(F.col("host"), 32, F.col("url_norm")))
                  .withColumn("wave", F.lit(0).cast("int")))
            fr = self._persist(fr.repartition(spark.sparkContext.defaultParallelism, "url_hash"))
            return fr, fr.count()

        fr, n = self._step(spans, "urlnorm.build_s", tracer, build)
        out["rows"] = n
        even = F.col("seed_index") % 2 == 0
        n_ins = max(1, (n + 1) // 2)

        bloom = SeenSet(spark, N_SHARDS, "bloom",
                        capacity_per_shard=math.ceil(1.25 * n_ins / N_SHARDS))
        out["bloom"] = bloom
        out["bloom_keys"] = fr.filter(even).select("url_hash")

        def insert():
            shards = self._persist(bloom.insert(bloom.empty_shards(), out["bloom_keys"]))
            shards.count()
            return shards

        shards = self._step(spans, "seen.insert_s", tracer, insert)

        def probe():
            probed = bloom.probe(shards, fr.select("url_hash", "seed_index"))
            return probed.agg(
                F.count_if(even & ~F.col("seen")).alias("fn"),
                F.count_if(~even & F.col("seen")).alias("fp"),
                F.count_if(~even).alias("neg"),
            ).first().asDict()

        out["bloom_counts"] = self._step(spans, "seen.probe_s", tracer, probe)

        small = fr.filter(F.col("seed_index") < CUCKOO_KEYS).select("url_hash", "seed_index")
        cuckoo = SeenSet(spark, N_SHARDS, "cuckoo",
                         capacity_per_shard=math.ceil(CUCKOO_KEYS / N_SHARDS))

        def cuckoo_insert():
            s = self._persist(cuckoo.insert(cuckoo.empty_shards(), small.filter(even)))
            s.count()
            return s

        cshards = self._step(spans, "seen.cuckoo_insert_s", tracer, cuckoo_insert)
        out["cuckoo_fn"] = self._step(
            spans, "seen.cuckoo_probe_s", tracer,
            lambda: cuckoo.probe(cshards, small).filter(even & ~F.col("seen")).count())

        def slice_():
            keys = top_slice_keys(fr, SLICE_WAVES * BUDGET, approx_rows=n)
            active = self._persist(fr.join(F.broadcast(keys), "url_hash"))
            return active, active.count()

        active, out["n_active"] = self._step(spans, "politeness.top_slice_s", tracer, slice_)

        def admit_():
            adm = self._persist(admit(active, {h: BUDGET for h in self.hosts}, BUDGET,
                                      approx_rows=out["n_active"]))
            return adm, adm.count()

        admitted, out["n_admitted"] = self._step(spans, "politeness.admit_s", tracer, admit_)
        out["n_rest"] = self._step(spans, "frontier.remove_admitted_s", tracer,
                                   lambda: remove_admitted(active, admitted).count())
        out["t0"], out["t1"] = t_start, time.time()
        out["wall_s"] = out["t1"] - t_start
        out["fr"], out["admitted"] = fr, admitted
        return out

    def run_pass(self, tracer: Tracer | None = None) -> dict:
        return self._pipeline(self.spark.read.parquet(self.input), tracer)

    def finish_pass(self, rec: dict) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached.clear()

    # ------------------------------------------------------------ checks

    def check(self, rec: dict) -> None:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from fundcrawler_spark.schemas import PAGE_ORDINAL

        b = rec["bloom_counts"]
        self.checks.check("frontier_scale.bloom_no_false_negatives", b["fn"] == 0, f"{b['fn']}")
        fpr = b["fp"] / max(b["neg"], 1)
        self.checks.check("frontier_scale.bloom_fpr", fpr <= 0.01, f"{fpr:.4f} > 0.01")
        self.checks.check("frontier_scale.cuckoo_no_false_negatives", rec["cuckoo_fn"] == 0,
                          f"{rec['cuckoo_fn']}")
        rec["fp_rate"] = fpr
        # each host's admitted set is its top BUDGET under the admission
        # order, recomputed with a plain row_number window over the
        # whole frontier
        ordinal = F.create_map(*[x for p, i in PAGE_ORDINAL.items() for x in (F.lit(p), F.lit(i))])
        w = Window.partitionBy("host").orderBy(
            F.col("retry_count").desc(), F.col("priority"), F.col("seed_index"),
            ordinal[F.col("page_type")])
        want = (rec["fr"].withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= BUDGET).select("url_hash"))
        got = rec["admitted"].select("url_hash")
        diff = want.exceptAll(got).count() + got.exceptAll(want).count()
        self.checks.check("frontier_scale.admitted_top_budget", diff == 0,
                          f"{diff} url hashes differ from the per-host top {BUDGET}")
        self.checks.check("frontier_scale.remove_admitted",
                          rec["n_rest"] == rec["n_active"] - rec["n_admitted"],
                          f"{rec['n_rest']} != {rec['n_active']} - {rec['n_admitted']}")

    # ----------------------------------------------------------- metrics

    def workload_metrics(self, rec: dict) -> dict[str, float]:
        return {"frontier.rows_per_s": rec["rows"] / rec["wall_s"]}

    def trace_install(self, tracer: Tracer) -> None:
        # the pipeline's steps are the benchmark's own calls into each
        # layer; _step records their spans
        pass

    def layer_metrics(self, rec: dict, tracer: Tracer) -> dict[str, float]:
        """Step spans, plus the bloom kernel timed on the driver over
        exactly the keys the ``SeenSet.insert`` call received, then
        probed with every key of the batch."""
        from fundcrawler_spark.operators.seen import BloomShard

        out = {name: tracer.total(name) for name in STEPS}
        out["seen.fp_rate"] = rec.get("fp_rate", 0.0)
        bloom = rec["bloom"]
        inserted = rec["bloom_keys"].toPandas()["url_hash"].to_numpy(dtype=np.int64)
        probed = rec["fr"].select("url_hash").toPandas()["url_hash"].to_numpy(dtype=np.int64)
        t0 = time.perf_counter()
        shards, blob_bytes = {}, 0
        sids = inserted % N_SHARDS
        for sid in np.unique(sids):
            shards[int(sid)] = s = BloomShard.sized(bloom.capacity, bloom.fpr)
            s.insert(inserted[sids == sid])
            blob_bytes += len(s.to_blob())
        psids = probed % N_SHARDS
        for sid, s in shards.items():
            s.contains(probed[psids == sid])
        out["seen.kernel_s"] = time.perf_counter() - t0
        out["seen.blob_bytes"] = float(blob_bytes)
        return out
