"""Skew + sizing evidence: a single dominant host's fetch work actually
spreads over the cores, and bloom shards at 10^7-key scale behave."""

import time

import numpy as np
from pyspark.sql import functions as F

from fundcrawler_spark import fixtures as fx
from fundcrawler_spark.operators.fetch import run_fetch
from fundcrawler_spark.operators.frontier import seeds_to_frontier
from fundcrawler_spark.operators.politeness import admit
from fundcrawler_spark.operators.seen import BloomShard
from fundcrawler_spark.schemas import SEEDS_SCHEMA


def test_single_host_fetch_spreads_over_partitions(spark):
    """The eastmoney case: ONE host owns the whole admitted set; the
    url_hash fetch partitioning must still spread it across many partitions."""
    seeds = spark.createDataFrame(fx.seed_rows(500), SEEDS_SCHEMA)
    frontier = seeds_to_frontier(seeds)
    hosts = [r["host"] for r in frontier.select("host").distinct().collect()]
    assert hosts == ["fundf10.eastmoney.com"], hosts  # truly single-host
    admitted = admit(frontier, {hosts[0]: 160}, 160)
    fetched = run_fetch(admitted, fail_rate=0.0, wave=0)
    n_parts = (
        fetched.select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert n_parts >= 8, f"single host collapsed to {n_parts} fetch partitions"


def test_bloom_shard_at_ten_million_keys():
    """Sizing math from SURVEY.md §4.1: a 10^7-key shard at 1% FPR is
    ~12 MB and keeps its FPR — 1000 such shard-groups cover 10^10 keys."""
    b = BloomShard.sized(10_000_000, fpr=0.01)
    assert 10 * 2**20 < len(b.to_blob()) < 16 * 2**20
    rng = np.random.RandomState(7)
    keys = rng.randint(-(2**62), 2**62, 1_000_000, dtype=np.int64)
    t0 = time.time()
    b.insert(keys)
    assert b.contains(keys).all()
    dt = time.time() - t0
    probe = rng.randint(-(2**62), 2**62, 200_000, dtype=np.int64)
    fpr = b.contains(probe).mean()  # inserted 10% of capacity -> fpr << 1%
    assert fpr < 0.01
    assert dt < 30, f"1M insert+probe took {dt:.1f}s"


def test_fetch_fanout_sized_by_expected_rows(spark):
    """The fetch stage runs one Python task per core and never more tasks
    than rows: every Python task pays a fixed worker start-up tax, so a
    budget-bounded wave of 160 rows runs min(defaultParallelism, 160)
    partitions, a 3-row wave runs 3 (not a core count's worth), and both
    fetch exactly the rows of the unsized default."""
    seeds = spark.createDataFrame(fx.seed_rows(500), SEEDS_SCHEMA)
    frontier = seeds_to_frontier(seeds)
    cores = spark.sparkContext.defaultParallelism
    for budget, expected in ((160, min(cores, 160)), (3, 3)):
        admitted = admit(frontier, {"fundf10.eastmoney.com": budget}, budget)
        sized = run_fetch(admitted, fail_rate=0.0, wave=0, expected_rows=budget)
        assert sized.rdd.getNumPartitions() == expected, (budget, expected)
        rows_sized = {r["url_hash"] for r in sized.collect()}
        rows_default = {
            r["url_hash"] for r in run_fetch(admitted, fail_rate=0.0, wave=0).collect()
        }
        assert rows_sized == rows_default and len(rows_sized) == budget


def test_admit_literal_map_equals_broadcast_join(spark):
    """admit() attaches budgets as a literal create_map below 256 hosts
    and as a broadcast join above; both plans must admit the same set.
    Forced here by synthesizing >256 hosts (multi-site frontier)."""
    from fundcrawler_spark.functions.urlnorm import url_hash

    n_hosts = 300
    fr = (
        spark.range(n_hosts * 8)
        .select(
            F.concat(F.lit("http://h"), (F.col("id") % n_hosts).cast("string"),
                     F.lit(".example.com/p"), F.col("id").cast("string")).alias("url"),
            F.concat(F.lit("h"), (F.col("id") % n_hosts).cast("string"),
                     F.lit(".example.com")).alias("host"),
            F.lit("OVERVIEW").alias("page_type"),
            F.col("id").cast("long").alias("seed_index"),
            F.lit(0).cast("int").alias("retry_count"),
            F.col("id").cast("long").alias("priority"),
            F.lit(0).cast("int").alias("wave"),
        )
        .withColumn("url_norm", F.col("url"))
        .withColumn("url_hash", url_hash(F.col("url_norm")))
    )
    budgets_all = {f"h{i}.example.com": (3 if i % 2 else 0) for i in range(n_hosts)}
    big = admit(fr, budgets_all, 3)                     # >256 -> broadcast join
    few_hosts = {f"h{i}.example.com" for i in range(100)}
    budgets_few = {h: b for h, b in budgets_all.items() if h in few_hosts}
    small = admit(fr.filter(F.col("host").isin(list(few_hosts))), budgets_few, 3)
    got_big = {(r["host"], r["url_hash"]) for r in big.collect()}
    got_small = {(r["host"], r["url_hash"]) for r in small.collect()}
    # the literal-map plan must agree with the join plan on their
    # common hosts, and zero-budget hosts admit nothing in either
    assert got_small == {t for t in got_big if t[0] in few_hosts}
    assert all(int(h[1:].split(".")[0]) % 2 for h, _ in got_big)


def test_driver_host_state_bounded_at_1e5_hosts():
    """r5 verdict item 6: the wave loop keeps O(distinct hosts) driver
    state (BudgetTable + per-host count dicts). Measure the ceiling at
    10^5 hosts — the structures must stay tens-of-MB (fine for any
    realistic politeness table; a true web-scale host set would move
    these to a spillable table, documented in wave_loop) and one full
    observe_wave tick over every host must stay sub-second-ish."""
    import time
    import tracemalloc

    from fundcrawler_spark.plans.rate_control import BudgetTable

    n = 100_000
    hosts = [f"h{i}.example.com" for i in range(n)]
    tracemalloc.start()
    budgets = BudgetTable(max_num=160.0)
    for h in hosts:
        budgets.budget_for(h)  # materializes every HostRate
    active_counts = {h: 7 for h in hosts}
    backlog_total = {h: 1000 for h in hosts}
    orig_rem_lb = {h: 42 for h in hosts}
    current, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert current < 200 * 1024 * 1024, f"{current/1e6:.0f} MB for 1e5 hosts"

    t0 = time.time()
    counts = {h: (6, 1) for h in hosts}
    budgets.observe_wave(counts, set(hosts))
    dt = time.time() - t0
    assert dt < 5.0, f"observe_wave over 1e5 hosts took {dt:.1f}s"
    # keep the dicts alive so tracemalloc attributed them above
    assert len(active_counts) == len(backlog_total) == len(orig_rem_lb) == n


def test_fetch_order_broadcast_fallback_over_256_hosts(spark):
    """with_fetch_order switches from a literal offset map to a
    broadcast join above 256 hosts; both paths must produce the same
    deterministic (host ASC, host_rank ASC) total order."""
    from fundcrawler_spark.operators.fetch import with_fetch_order

    n_hosts, per_host = 300, 3
    rows = [
        (i * per_host + r, f"h{i:04d}", r + 1)
        for i in range(n_hosts) for r in range(per_host)
    ]
    df = spark.createDataFrame(rows, "url_hash long, host string, host_rank int")
    counts = {f"h{i:04d}": per_host for i in range(n_hosts)}
    out = with_fetch_order(df, counts, order_offset=10)
    got = {r["url_hash"]: r["fetch_order"] for r in out.collect()}
    # expected: hosts sorted ASC (h0000 < h0001 < ...), ranks within
    expect = {}
    order = 10
    for i in range(n_hosts):
        for r in range(per_host):
            expect[i * per_host + r] = order + r + 1
        order += per_host
    assert got == expect
    # sub-256 literal-map path agrees on a slice of the same input
    small_hosts = [f"h{i:04d}" for i in range(200)]
    small = df.filter(df["host"].isin(small_hosts))
    out_small = with_fetch_order(small, {h: per_host for h in small_hosts}, 10)
    got_small = {r["url_hash"]: r["fetch_order"] for r in out_small.collect()}
    assert got_small == {k: v for k, v in expect.items() if k < 200 * per_host}
