"""Partitioned URL-seen set — bloom shards with a cuckoo-filter fallback.

The reference has NO seen set (its seed list is distinct, SURVEY.md
§2.6); this is the core new component the north rule mandates. Spark's
built-in ``DataFrame.stat.bloomFilter`` collects to the driver and dies
at 10^10 keys, so we shard: ``shard_id = pmod(url_hash, n_shards)``, one
opaque filter blob per shard, built/probed via ``applyInPandas`` over
cogrouped (candidates x shards). Sizing at 10^10 keys / 1% FPR is
~12 GB of blobs total => 1024 shards of ~12 MB, each comfortably inside
an executor task (SURVEY.md §4.1).

Determinism: blobs are pure functions of the inserted hash multiset —
probe/insert use splitmix64 double-hashing of the int64 ``url_hash``
(itself Spark's xxhash64 of the canonical URL), so the pure-Python
reference simulator reproduces the exact same filters bit-for-bit.

Bloom supports insert+probe; cuckoo adds delete (retry-eviction
semantics when inserting on admission rather than on success).

Collision contract: the set is keyed by the 64-bit ``url_hash``
(xxhash64 of the canonical URL), not the URL itself, so two distinct
URLs colliding on url_hash are indistinguishable from a re-crawl of one
URL. At the 10^10-key design point the expected number of colliding
pairs is n^2 / 2^65 ~ 2.7 — i.e. ~3 URLs over the whole crawl are
silently skipped as "already seen". That error mode is strictly weaker
than the bloom filter's own configured 1% false-positive rate (10^8
keys spuriously "seen"), so hash collisions are subsumed by the FPR
semantics the probe already advertises: a ``seen=true`` answer is
always "probably seen", never a correctness guarantee, while
``seen=false`` remains exact (no false negatives from either source).
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import MASK64, splitmix64 as _splitmix64
from ..schemas import SEEN_SHARDS_SCHEMA


def _h2(hashes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Two independent 64-bit streams from the signed int64 url_hash."""
    u = hashes.astype(np.int64).view(np.uint64)
    a = _splitmix64(u)
    b = _splitmix64(a)
    return a, b | np.uint64(1)  # odd second hash


# ------------------------------------------------------------- bloom

BLOOM_MAGIC = b"BLM1"


class BloomShard:
    """Fixed-size bloom filter over int64 keys (numpy bit array)."""

    def __init__(self, m_bits: int, k: int, bits: np.ndarray | None = None, n_items: int = 0):
        self.m = m_bits
        self.k = k
        self.bits = bits if bits is not None else np.zeros((m_bits + 7) // 8, dtype=np.uint8)
        self.n_items = n_items

    @classmethod
    def sized(cls, capacity: int, fpr: float = 0.01) -> "BloomShard":
        m = max(64, int(-capacity * np.log(fpr) / (np.log(2) ** 2)))
        m = (m + 63) & ~63
        k = max(1, round(m / max(capacity, 1) * np.log(2)))
        return cls(m, min(k, 16))

    def _positions(self, keys: np.ndarray) -> np.ndarray:
        a, b = _h2(keys)
        i = np.arange(self.k, dtype=np.uint64)[:, None]
        return ((a[None, :] + i * b[None, :]) % np.uint64(self.m)).astype(np.int64)

    def insert(self, keys: np.ndarray) -> None:
        if len(keys) == 0:
            return
        pos = self._positions(keys).ravel()
        np.bitwise_or.at(self.bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        self.n_items += len(keys)

    def contains(self, keys: np.ndarray) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(keys)  # (k, n)
        byte = self.bits[pos >> 3]
        hit = (byte >> (pos & 7).astype(np.uint8)) & 1
        return hit.all(axis=0).astype(bool)

    def union(self, other: "BloomShard") -> "BloomShard":
        assert self.m == other.m and self.k == other.k
        return BloomShard(self.m, self.k, self.bits | other.bits, self.n_items + other.n_items)

    def to_blob(self) -> bytes:
        return BLOOM_MAGIC + struct.pack("<QIQ", self.m, self.k, self.n_items) + self.bits.tobytes()

    @classmethod
    def from_blob(cls, blob: bytes) -> "BloomShard":
        assert blob[:4] == BLOOM_MAGIC
        m, k, n = struct.unpack("<QIQ", blob[4:24])
        bits = np.frombuffer(blob[24:], dtype=np.uint8).copy()
        return cls(m, k, bits, n)


# ------------------------------------------------------------- cuckoo

CUCKOO_MAGIC = b"CKF1"
_FP_BITS = 16
_SLOTS = 4


class CuckooShard:
    """Cuckoo filter: 4-slot buckets, 16-bit fingerprints, deterministic
    eviction (counter-seeded xorshift), supports delete."""

    def __init__(self, n_buckets: int, table: np.ndarray | None = None, n_items: int = 0):
        self.nb = n_buckets
        self.table = table if table is not None else np.zeros((n_buckets, _SLOTS), dtype=np.uint16)
        self.n_items = n_items

    @classmethod
    def sized(cls, capacity: int) -> "CuckooShard":
        nb = 1
        while nb * _SLOTS < capacity * 1.1:
            nb <<= 1
        return cls(max(nb, 8))

    def _fp_idx(self, keys: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        a, b = _h2(keys)
        fp = (a % np.uint64((1 << _FP_BITS) - 1) + np.uint64(1)).astype(np.uint16)  # never 0
        i1 = (b % np.uint64(self.nb)).astype(np.int64)
        i2 = self._alt(i1, fp)
        return fp, i1, i2

    def _alt(self, idx: np.ndarray, fp: np.ndarray) -> np.ndarray:
        mix = _splitmix64(fp.astype(np.uint64))
        return ((idx.astype(np.uint64) ^ mix) % np.uint64(self.nb)).astype(np.int64)

    def insert(self, keys: np.ndarray) -> int:
        """Insert each key; returns count inserted (raises on full)."""
        fp, i1, i2 = self._fp_idx(keys)
        for j in range(len(keys)):
            self._insert_one(int(fp[j]), int(i1[j]), int(i2[j]))
        self.n_items += len(keys)
        return len(keys)

    def _insert_one(self, fp: int, i1: int, i2: int) -> None:
        for idx in (i1, i2):
            row = self.table[idx]
            free = np.nonzero(row == 0)[0]
            if len(free):
                row[free[0]] = fp
                return
        # deterministic kick loop
        idx, cur = i1, fp
        state = (fp * 2654435761 + i1) & 0xFFFFFFFF
        for _ in range(500):
            state ^= (state << 13) & 0xFFFFFFFF
            state ^= state >> 17
            state ^= (state << 5) & 0xFFFFFFFF
            slot = state % _SLOTS
            cur, self.table[idx][slot] = int(self.table[idx][slot]), cur
            idx = int(self._alt(np.array([idx]), np.array([cur], dtype=np.uint16))[0])
            row = self.table[idx]
            free = np.nonzero(row == 0)[0]
            if len(free):
                row[free[0]] = cur
                return
        raise RuntimeError("cuckoo shard full")

    def contains(self, keys: np.ndarray) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        fp, i1, i2 = self._fp_idx(keys)
        hit1 = (self.table[i1] == fp[:, None]).any(axis=1)
        hit2 = (self.table[i2] == fp[:, None]).any(axis=1)
        return hit1 | hit2

    def delete(self, keys: np.ndarray) -> int:
        deleted = 0
        fp, i1, i2 = self._fp_idx(keys)
        for j in range(len(keys)):
            for idx in (int(i1[j]), int(i2[j])):
                row = self.table[idx]
                slots = np.nonzero(row == fp[j])[0]
                if len(slots):
                    row[slots[0]] = 0
                    deleted += 1
                    self.n_items -= 1
                    break
        return deleted

    def to_blob(self) -> bytes:
        return CUCKOO_MAGIC + struct.pack("<QQ", self.nb, self.n_items) + self.table.tobytes()

    @classmethod
    def from_blob(cls, blob: bytes) -> "CuckooShard":
        assert blob[:4] == CUCKOO_MAGIC
        nb, n = struct.unpack("<QQ", blob[4:20])
        table = np.frombuffer(blob[20:], dtype=np.uint16).reshape(nb, _SLOTS).copy()
        return cls(nb, table, n)


def load_shard(kind: str, blob: bytes):
    return BloomShard.from_blob(blob) if kind == "bloom" else CuckooShard.from_blob(blob)


def new_shard(kind: str, capacity: int, fpr: float = 0.01):
    return BloomShard.sized(capacity, fpr) if kind == "bloom" else CuckooShard.sized(capacity)


# -------------------------------------------------- distributed seen set


class SeenSet:
    """Sharded seen-set over a ``seen_shards`` DataFrame.

    probe / insert / delete are cogrouped applyInPandas jobs keyed by
    ``shard_id`` — each task touches exactly one blob, so memory per task
    = one shard, and the shuffle key (pmod of url_hash) is uniform by
    construction. Empty shards are materialized lazily.
    """

    def __init__(self, spark, n_shards: int, kind: str = "bloom",
                 capacity_per_shard: int = 1_000_000, fpr: float = 0.01):
        self.spark = spark
        self.n_shards = n_shards
        self.kind = kind
        self.capacity = capacity_per_shard
        self.fpr = fpr

    def empty_shards(self) -> DataFrame:
        # over a zero-partition RDD: createDataFrame([]) would spread the
        # empty list over one Python task per core on every action
        return self.spark.createDataFrame(
            self.spark.sparkContext.emptyRDD(), SEEN_SHARDS_SCHEMA
        )

    def shard_col(self, url_hash_col):
        return F.pmod(url_hash_col, F.lit(self.n_shards)).cast("int")

    # total blob bytes below this -> ship filters to executors instead of
    # shuffling the (frontier-sized) candidate set into a cogroup
    BROADCAST_PROBE_BYTES = 512 * 1024 * 1024

    def broadcast_blobs(self, shards: DataFrame):
        """Collect + broadcast the shard blobs once; pass the handle to
        ``probe(bc=...)`` to amortize the driver-side collect across many
        probes of the SAME settled shards (the wave loop probes identical
        shards every discover wave between settles). Caller owns the
        broadcast lifetime (unpersist when the shards change)."""
        blob_map = {
            r["shard_id"]: (r["kind"], bytes(r["blob"])) for r in shards.collect()
        }
        return self.spark.sparkContext.broadcast(blob_map)

    def probe(self, shards: DataFrame, candidates: DataFrame,
              mode: str = "auto", bc=None) -> DataFrame:
        """candidates(+url_hash) -> same rows + boolean ``seen``.

        Two physical strategies (same result):
          * broadcast: blobs -> every executor, mapInPandas over the
            candidates IN PLACE — zero shuffle of the big side. Right
            whenever the seen-set fits executor memory (<= ~512 MB).
          * cogroup: shuffle candidates by shard_id, join each slice
            with its blob — the 10^10-key path (12 GB of blobs never
            ships anywhere whole).

        ``bc``: pre-collected blob broadcast from :meth:`broadcast_blobs`
        — forces the broadcast strategy with no per-call collect.
        """
        if bc is not None:
            return self._probe_broadcast(shards, candidates, bc=bc)
        if mode == "auto":
            total = shards.select(F.sum(F.length("blob")).alias("b")).first()["b"] or 0
            mode = "broadcast" if total <= self.BROADCAST_PROBE_BYTES else "cogroup"
        if mode == "broadcast":
            return self._probe_broadcast(shards, candidates)
        return self._probe_cogroup(shards, candidates)

    def _probe_broadcast(self, shards: DataFrame, candidates: DataFrame,
                         bc=None) -> DataFrame:
        from pyspark.sql import types as T

        n_shards = self.n_shards
        if bc is None:
            bc = self.broadcast_blobs(shards)
        out_schema = T.StructType(
            list(candidates.schema.fields) + [T.StructField("seen", T.BooleanType())]
        )

        def kernel(batches):
            filters = {sid: load_shard(k, b) for sid, (k, b) in bc.value.items()}

            def check(arr: np.ndarray) -> np.ndarray:
                res = np.zeros(len(arr), dtype=bool)
                sids = arr % n_shards  # pmod: numpy % matches for int64
                for sid in np.unique(sids):
                    f = filters.get(int(sid))
                    if f is not None:
                        m = sids == sid
                        res[m] = f.contains(arr[m])
                return res

            for pdf in batches:
                out = pdf.copy()
                out["seen"] = check(pdf["url_hash"].to_numpy(dtype=np.int64))
                yield out

        return candidates.mapInPandas(kernel, out_schema)

    def _probe_cogroup(self, shards: DataFrame, candidates: DataFrame) -> DataFrame:
        from pyspark.sql import types as T

        cand = candidates.withColumn("shard_id", self.shard_col(F.col("url_hash")))
        # fresh StructType — .add() would mutate the DataFrame's cached schema
        out_schema = T.StructType(
            list(cand.schema.fields) + [T.StructField("seen", T.BooleanType())]
        )

        def fn(key, cdf: pd.DataFrame, sdf: pd.DataFrame) -> pd.DataFrame:
            if sdf.empty or cdf.empty:
                seen = np.zeros(len(cdf), dtype=bool)
            else:
                shard = load_shard(sdf["kind"].iloc[0], bytes(sdf["blob"].iloc[0]))
                seen = shard.contains(cdf["url_hash"].to_numpy(dtype=np.int64))
            out = cdf.copy()
            out["seen"] = seen
            return out

        return (
            cand.groupBy("shard_id")
            .cogroup(shards.groupBy("shard_id"))
            .applyInPandas(fn, out_schema)
            .drop("shard_id")
        )

    def _mutate(self, shards: DataFrame, keys: DataFrame, op: str) -> DataFrame:
        """Insert or delete ``keys(url_hash)``; returns updated shards DF.

        Only shards whose id appears in ``keys`` enter the cogroup —
        untouched shard rows are unioned through verbatim (their blobs
        are never deserialized, mutated, or re-serialized). At the
        10^10 design point a wave that inserts into a few hosts' worth
        of shards would otherwise churn ~12 GB of blob bytes through
        the python workers every wave for zero information."""
        kind, cap, fpr = self.kind, self.capacity, self.fpr
        k = keys.select("url_hash").withColumn("shard_id", self.shard_col(F.col("url_hash")))
        touched = k.select("shard_id").distinct()
        untouched = shards.join(F.broadcast(touched), "shard_id", "left_anti")
        shards = shards.join(F.broadcast(touched), "shard_id", "semi")

        def fn(key, kdf: pd.DataFrame, sdf: pd.DataFrame) -> pd.DataFrame:
            shard_id = int(key[0])
            if sdf.empty:
                shard = new_shard(kind, cap, fpr)
                skind = kind
            else:
                skind = sdf["kind"].iloc[0]
                shard = load_shard(skind, bytes(sdf["blob"].iloc[0]))
            arr = kdf["url_hash"].to_numpy(dtype=np.int64)
            if len(arr):
                if op == "insert":
                    shard.insert(arr)
                else:
                    shard.delete(arr)
            return pd.DataFrame(
                {
                    "shard_id": [shard_id],
                    "kind": [skind],
                    "blob": [shard.to_blob()],
                    "n_items": [int(shard.n_items)],
                }
            )

        updated = (
            k.groupBy("shard_id")
            .cogroup(shards.groupBy("shard_id"))
            .applyInPandas(fn, SEEN_SHARDS_SCHEMA)
        )
        return untouched.unionByName(updated)

    def insert(self, shards: DataFrame, keys: DataFrame) -> DataFrame:
        return self._mutate(shards, keys, "insert")

    def delete(self, shards: DataFrame, keys: DataFrame) -> DataFrame:
        assert self.kind == "cuckoo", "delete needs the cuckoo fallback"
        return self._mutate(shards, keys, "delete")
