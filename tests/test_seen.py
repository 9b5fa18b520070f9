"""Seen-set shard tests: bloom FPR / no-false-negatives, cuckoo
insert+delete, and the distributed probe/insert cycle."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fundcrawler_spark.operators.seen import BloomShard, CuckooShard, SeenSet


def test_bloom_no_false_negatives_and_fpr():
    rng = np.random.RandomState(42)
    keys = rng.randint(-(2**62), 2**62, 20_000, dtype=np.int64)
    b = BloomShard.sized(20_000, fpr=0.01)
    b.insert(keys)
    assert b.contains(keys).all()
    probe = rng.randint(-(2**62), 2**62, 50_000, dtype=np.int64)
    fresh = probe[~np.isin(probe, keys)]
    fpr = b.contains(fresh).mean()
    assert fpr < 0.02, fpr


def test_bloom_blob_roundtrip_and_union():
    a, b = BloomShard.sized(1000), BloomShard.sized(1000)
    ka = np.arange(100, dtype=np.int64)
    kb = np.arange(100, 200, dtype=np.int64)
    a.insert(ka)
    b.insert(kb)
    u = a.union(b)
    assert u.contains(np.concatenate([ka, kb])).all()
    r = BloomShard.from_blob(a.to_blob())
    assert (r.bits == a.bits).all() and r.n_items == a.n_items


def test_cuckoo_insert_contains_delete():
    c = CuckooShard.sized(10_000)
    keys = np.arange(5000, dtype=np.int64) * 7 - 999
    c.insert(keys)
    assert c.contains(keys).all()
    dele = keys[:1000]
    assert c.delete(dele) == 1000
    assert not c.contains(dele).any() or c.contains(dele).mean() < 0.01
    assert c.contains(keys[1000:]).all()
    r = CuckooShard.from_blob(c.to_blob())
    assert (r.table == c.table).all()


def test_distributed_probe_insert(spark):
    ss = SeenSet(spark, n_shards=4, capacity_per_shard=10_000)

    def hashes(n):
        return spark.range(0, n).select(
            (F.col("id") * 2654435761).cast("long").alias("url_hash")
        )

    cand = hashes(500)
    shards = ss.empty_shards()
    # zero partitions: an action over the empty set schedules no tasks
    assert shards.rdd.getNumPartitions() == 0
    p0 = ss.probe(shards, cand)
    assert p0.filter(F.col("seen")).count() == 0
    shards = ss.insert(shards, hashes(200))
    assert shards.count() == 4
    # inserting into the zero-partition set builds each shard's blob
    # bit for bit like a local BloomShard over the same keys
    keys = np.array([r["url_hash"] for r in hashes(200).collect()], dtype=np.int64)
    for r in shards.collect():
        local = BloomShard.sized(10_000)
        local.insert(keys[keys % 4 == r["shard_id"]])
        assert bytes(r["blob"]) == local.to_blob(), r["shard_id"]
    for mode in ("broadcast", "cogroup"):
        p1 = ss.probe(shards, cand, mode=mode)
        seen_n = p1.filter(F.col("seen")).count()
        assert 200 <= seen_n <= 205, mode  # bloom FP allowance
    # both physical strategies agree row-for-row
    a = ss.probe(shards, cand, mode="broadcast").orderBy("url_hash").collect()
    b = ss.probe(shards, cand, mode="cogroup").orderBy("url_hash").collect()
    assert [(r["url_hash"], r["seen"]) for r in a] == [(r["url_hash"], r["seen"]) for r in b]
    n_items = sum(r["n_items"] for r in shards.select("n_items").collect())
    assert n_items == 200


def test_bloom_n_items_crosschecked_by_approx_distinct(spark):
    """SURVEY.md §2.4: approx_count_distinct(url_hash) cross-checks the
    bloom shards' n_items bookkeeping."""
    from pyspark.sql import functions as F

    ss = SeenSet(spark, n_shards=4, capacity_per_shard=50_000)
    keys = spark.range(0, 5000).select(F.xxhash64("id").alias("url_hash"))
    shards = ss.insert(ss.empty_shards(), keys)
    n_items = sum(r["n_items"] for r in shards.select("n_items").collect())
    approx = keys.agg(F.approx_count_distinct("url_hash").alias("a")).first()["a"]
    assert n_items == 5000
    assert abs(approx - n_items) / n_items < 0.05


def test_untouched_shards_pass_through_verbatim(spark):
    """Insert keys that touch ONE shard: every other shard's blob must
    be unioned through without deserialization. Proven behaviorally: a
    sentinel-invalid blob planted in an untouched shard would crash
    load_shard's magic assert if it ever entered the mutate kernel."""
    from fundcrawler_spark.schemas import SEEN_SHARDS_SCHEMA

    ss = SeenSet(spark, n_shards=4, capacity_per_shard=10_000)
    # build real shards 0..3, then corrupt shard 3's blob
    keys = spark.range(0, 400).select(F.col("id").alias("url_hash"))
    shards = ss.insert(ss.empty_shards(), keys)
    rows = [r.asDict() for r in shards.collect()]
    sentinel = b"NOT-A-FILTER-BLOB"
    for r in rows:
        if r["shard_id"] == 3:
            r["blob"] = bytearray(sentinel)
    dirty = spark.createDataFrame(
        [(r["shard_id"], r["kind"], r["blob"], r["n_items"]) for r in rows],
        SEEN_SHARDS_SCHEMA,
    )
    # keys hitting shard 1 only (pmod(url_hash, 4) == 1)
    more = spark.range(0, 50).select((F.col("id") * 4 + 1).cast("long").alias("url_hash"))
    out = {r["shard_id"]: bytes(r["blob"]) for r in ss.insert(dirty, more).collect()}
    assert out[3] == sentinel                      # untouched: verbatim bytes
    before = {r["shard_id"]: bytes(r["blob"]) for r in rows}
    assert out[0] == bytes(before[0]) and out[2] == bytes(before[2])
    assert out[1] != bytes(before[1])              # touched shard rewritten


def test_probe_with_broadcast_blob_reuse(spark):
    """probe(bc=...) with a pre-collected blob broadcast must equal the
    plain probe — the wave loop reuses one broadcast across every
    discover wave between settles instead of re-collecting the blobs."""
    ss = SeenSet(spark, n_shards=4, capacity_per_shard=10_000)
    keys = spark.range(0, 300).select((F.col("id") * 37 - 11).alias("url_hash"))
    shards = ss.insert(ss.empty_shards(), keys)
    cand = spark.range(0, 600).select((F.col("id") * 37 - 11).alias("url_hash"))
    base = {r["url_hash"]: r["seen"] for r in ss.probe(shards, cand).collect()}
    bc = ss.broadcast_blobs(shards)
    fast = {r["url_hash"]: r["seen"] for r in ss.probe(shards, cand, bc=bc).collect()}
    assert fast == base
    assert sum(base.values()) == 300


def test_stale_probe_plus_buffered_keys_equals_settled_probe(spark):
    """The discover fast path: probing the LAST-SETTLED shards and
    anti-joining the buffered (not-yet-folded) insert keys exactly must
    leave the same unseen set as folding the buffer first and probing
    the settled result (bloom FP-free at this size)."""
    ss = SeenSet(spark, n_shards=4, capacity_per_shard=10_000)
    settled_keys = spark.range(0, 200).select((F.col("id") * 13).alias("url_hash"))
    shards = ss.insert(ss.empty_shards(), settled_keys)
    buffered = spark.range(100, 350).select((F.col("id") * 13).alias("url_hash"))
    cand = spark.range(0, 500).select((F.col("id") * 13).alias("url_hash"))

    folded = ss.insert(shards, buffered)
    want = {
        r["url_hash"]
        for r in ss.probe(folded, cand).filter(~F.col("seen")).collect()
    }
    stale = ss.probe(shards, cand).filter(~F.col("seen")).drop("seen")
    got = {
        r["url_hash"]
        for r in stale.join(
            F.broadcast(buffered.distinct()), "url_hash", "left_anti"
        ).collect()
    }
    assert got == want
    assert len(want) == 150  # ids 350..499 * 13
