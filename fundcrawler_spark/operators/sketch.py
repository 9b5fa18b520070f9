"""Count-min sketch over token streams — the fixed-size, mergeable
frequency summary a 100-TB corpus pipeline uses where an exact
token->count table would itself be TB-scale.

Scale shape: the sketch build is ONE aggregation shuffling at most
``depth x width`` (seed, bucket) keys (4 x 1024 here = 4096 rows,
regardless of corpus size), with map-side partial counts doing all the
heavy lifting — each executor folds its partitions' token occurrences
into its local 4096 counters before the exchange. The resulting sketch
table is trivially mergeable across days/snapshots by summing bucket
counts, which is what makes it the right shape for incremental corpus
telemetry (estimate drift, heavy-hitter watchlists) without ever
re-scanning history.

Determinism: every hash is integer Column math on the cross-engine
Horner rolling hash (textstats.horner_hash — NOT poly_hash, whose
linear weight ladder collides on short structured keys and would both
clump CMS counters and collapse HLL cardinalities), so the whole
sketch — and therefore every estimate — is bit-reproducible in SQL. The
classic CMS guarantee holds exactly: estimate(t) >= true(t) always
(each of t's counters counts at least t's occurrences), and
P[estimate - true > 2N/width] < (1/2)^depth per the standard argument
(Cormode & Muthukrishnan 2005).

No reference counterpart (the reference crawler keeps no frequency
state); this is part of the training-data operator family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .textstats import P31, horner_hash

# (a, b) per hash row — odd multipliers, arbitrary fixed offsets; a < 2^20
# keeps a * horner_hash(t) < 2^51, far inside int64.
CMS_SEEDS: tuple[tuple[int, int], ...] = (
    (40503, 1299721),
    (920419, 15485863),
    (479909, 32452843),
    (198491, 49979687),
)
CMS_WIDTH = 1024


def cms_bucket(h: Column, a: int, b: int, width: int = CMS_WIDTH) -> Column:
    """Row-j counter index for a pre-hashed token: ((a*h + b) % P31) % width.

    ``h`` is horner_hash output (non-negative, < P31) so plain integer
    arithmetic stays positive and identical across Spark and DuckDB.
    """
    return F.pmod(F.pmod(F.lit(a) * h + F.lit(b), F.lit(P31)), F.lit(width))


def cms_sketch(
    tokens: DataFrame, token_col: str = "token", width: int = CMS_WIDTH
) -> DataFrame:
    """Build the sketch from a token-occurrence DataFrame (one row per
    occurrence): returns (seed, bucket, c) with depth*width rows max.

    One wide-to-tiny aggregation: the explode multiplies rows by depth
    BEFORE the groupBy, but partial aggregation collapses each task to
    <= depth*width rows, so the exchange moves a fixed few KB per task
    at any input scale.
    """
    h = horner_hash(F.col(token_col))
    rows = F.array(*[
        F.struct(
            F.lit(j).alias("seed"),
            cms_bucket(h, a, b, width).alias("bucket"),
        )
        for j, (a, b) in enumerate(CMS_SEEDS)
    ])
    return (
        tokens.select(F.explode(rows).alias("r"))
        .select("r.seed", "r.bucket")
        .groupBy("seed", "bucket")
        .agg(F.count("*").alias("c"))
    )


def cms_estimate(
    sketch: DataFrame, items: DataFrame, token_col: str = "token",
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point-query the sketch for each distinct token in ``items``:
    min over the depth rows of the token's counter. The sketch side is
    <= depth*width rows — always broadcast."""
    h = horner_hash(F.col(token_col))
    probes = items.select(
        token_col,
        F.explode(F.array(*[
            F.struct(
                F.lit(j).alias("seed"),
                cms_bucket(h, a, b, width).alias("bucket"),
            )
            for j, (a, b) in enumerate(CMS_SEEDS)
        ])).alias("r"),
    ).select(token_col, "r.seed", "r.bucket")
    return (
        # LEFT join + coalesce-to-0 (ADVICE r6): a probed token with an
        # absent (seed, bucket) counter must contribute 0 to the min —
        # an inner join silently dropped never-seen tokens and
        # overestimated tokens with only some counters present
        probes.join(F.broadcast(sketch), ["seed", "bucket"], "left")
        .groupBy(token_col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0).cast("long"))).alias("cms_n"))
    )


# ---------------------------------------------------------------- HLL
# Flajolet-Martin / HyperLogLog register sketch — the transparent,
# SQL-replayable counterpart to Spark's built-in approx_count_distinct
# (whose xxhash64-based registers can't be reproduced by another
# engine). Same scale shape as the CMS above: per group the sketch is
# <= HLL_M rows, built by one map-side-combinable max-aggregation, and
# merges across snapshots by elementwise register MAX — distinct-count
# telemetry (distinct URLs per host, distinct users per event type)
# that composes incrementally without rescanning history.
#
# Hash layout: h = lehmer2(horner_hash(key)) in [0, 2^31); bucket = low
# 6 bits (HLL_M = 64 registers), v = h >> 6 in [0, 2^25); rho =
# position of v's lowest set bit + 1 (Flajolet-Martin style on the
# trailing side — identical estimate statistics to leading-zero HLL for
# a uniform hash, and exactly expressible as integer CASE math in both
# engines), v == 0 -> 26. All integer, so the register table is
# bit-reproducible anywhere.

HLL_P = 6
HLL_M = 1 << HLL_P           # 64 registers
HLL_MAX_RHO = 26             # v < 2^25, so trailing-bit rho <= 25; v==0 -> 26


def hll_rho(v: Column) -> Column:
    """rho(v) = index of lowest set bit + 1 (1-based), 26 for v == 0 —
    a 25-way integer CASE over (v & -v), no floats, no log2."""
    t = v.bitwiseAND(-v)
    expr = F.lit(HLL_MAX_RHO)
    for k in reversed(range(25)):
        expr = F.when(t == (1 << k), F.lit(k + 1)).otherwise(expr)
    return expr


def hll_rho_sql(v_expr: str) -> str:
    whens = " ".join(f"WHEN {1 << k} THEN {k + 1}" for k in range(25))
    return f"(CASE (({v_expr}) & (-({v_expr}))) {whens} ELSE {HLL_MAX_RHO} END)"


def hll_registers(
    df: DataFrame, key_col: str, group_cols: list[str] | None = None
) -> DataFrame:
    """Per-group register table (group..., bucket, max_rho): the
    mergeable distinct-count sketch of ``key_col`` (cast to string
    before hashing so integer and string keys sketch identically).
    Empty buckets are absent (their register is implicitly 0); merging
    two sketches = unionByName + groupBy(max)."""
    h = horner_hash(F.col(key_col).cast("string"))
    # two Lehmer rounds spread short-key hashes over the full 31-bit
    # range (same scramble + rationale as sampling.lehmer2)
    from .sampling import lehmer2

    h = lehmer2(h)
    bucket = F.pmod(h, F.lit(HLL_M))
    v = F.floor(h / F.lit(HLL_M)).cast("long")
    gcols = list(group_cols or [])
    return (
        df.select(*gcols, bucket.alias("bucket"), hll_rho(v).alias("rho"))
        .groupBy(*gcols, "bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_estimate(registers: dict[int, int], m: int = HLL_M) -> float:
    """Driver/test-side HLL estimate from a {bucket: max_rho} dict —
    the standard harmonic-mean estimator with small-range (linear
    counting) correction. Deterministic given the registers."""
    import math

    zeros = m - len(registers)
    s = zeros * 1.0 + sum(2.0 ** -r for r in registers.values())
    alpha = 0.709 if m >= 128 else {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))
    est = alpha * m * m / s
    if est <= 2.5 * m and zeros > 0:
        est = m * math.log(m / zeros)
    return est
