"""Frozen StructTypes — single source of truth (SURVEY.md §1).

The reference declares its 12-column result schema once as a StrEnum
(``process_manager.py:51-67``) and iterates it for the CSV header
(``save_result_2_file.py:17,25``). We mirror that: every table shape
used by the engine is declared here; no schema inference anywhere.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- result
# Reference: FundCrawlingResult.Header, process_manager.py:51-67.
# Keys kept in the reference's enum order; ASCII field names (the
# reference's Chinese header strings are preserved in CSV_HEADERS for the
# byte-compatible CSV sink).
RESULT_FIELDS = [
    "fund_code",
    "fund_simple_name",
    "fund_type",
    "fund_size",
    "fund_company",
    "fund_value",
    "fund_manager",
    "date_of_appointment",
    "stddev_3y",
    "sharpe_3y",
    "increase_3y",
    "increase_5y",
]

CSV_HEADERS = {
    "fund_code": "基金代码",
    "fund_simple_name": "基金简称",
    "fund_type": "基金类型",
    "fund_size": "资产规模(亿)",
    "fund_company": "基金管理人",
    "fund_value": "基金净值",
    "fund_manager": "基金经理(最近连续最长任职)",
    "date_of_appointment": "基金经理的上任时间",
    "stddev_3y": "近三年标准差",
    "sharpe_3y": "近三年夏普",
    "increase_3y": "近三年涨幅",
    "increase_5y": "近五年涨幅",
}

RESULT_SCHEMA = T.StructType(
    [T.StructField(f, T.StringType(), True) for f in RESULT_FIELDS]
)

# Typed variant used by the analysis job (casts mirror
# utils/result_analyse.py:49-66).
RESULT_TYPED_SCHEMA = T.StructType(
    [
        T.StructField("fund_code", T.StringType(), False),
        T.StructField("fund_simple_name", T.StringType(), True),
        T.StructField("fund_type", T.StringType(), True),
        T.StructField("fund_size", T.DecimalType(18, 4), True),
        T.StructField("fund_company", T.StringType(), True),
        T.StructField("fund_value", T.DecimalType(18, 4), True),
        T.StructField("fund_manager", T.StringType(), True),
        T.StructField("date_of_appointment", T.DateType(), True),
        T.StructField("stddev_3y", T.DoubleType(), True),
        T.StructField("sharpe_3y", T.DoubleType(), True),
        T.StructField("increase_3y", T.DoubleType(), True),
        T.StructField("increase_5y", T.DoubleType(), True),
    ]
)

# ---------------------------------------------------------------- seeds
# Reference: NeedCrawledOnceFund (process_manager.py:22-29).
SEEDS_SCHEMA = T.StructType(
    [
        T.StructField("fund_code", T.StringType(), False),
        T.StructField("fund_name", T.StringType(), True),
        T.StructField("seed_index", T.LongType(), False),
    ]
)

# ---------------------------------------------------------------- frontier
# The central table: reference's in-flight PageCrawlingTask set
# (async_crawling_data.py:143-156) generalized to a 10^10-row frontier.
FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_norm", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("page_type", T.StringType(), False),
        T.StructField("seed_index", T.LongType(), False),
        T.StructField("retry_count", T.IntegerType(), False),
        T.StructField("priority", T.LongType(), False),
        T.StructField("wave", T.IntegerType(), False),
    ]
)

# ---------------------------------------------------------------- fetched
# Reference: Response (http_request_downloader.py:33-45); payload for us
# is image bytes + caption (BASELINE.json input_hint).
FETCHED_SCHEMA = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("page_type", T.StringType(), False),
        T.StructField("seed_index", T.LongType(), False),
        T.StructField("retry_count", T.IntegerType(), False),
        T.StructField("state", T.StringType(), False),  # SUCCESS | FALSE
        T.StructField("status", T.IntegerType(), True),
        T.StructField("body", T.StringType(), True),
        T.StructField("image_bytes", T.BinaryType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("wave", T.IntegerType(), False),
        T.StructField("fetch_order", T.LongType(), False),
        # URLs discovered in the page (recursive frontier growth)
        T.StructField("links", T.ArrayType(T.StringType()), True),
        # admission rank (politeness.admit) passed through the kernel so
        # the crawl-order window needs no broadcast re-join per wave
        T.StructField("host_rank", T.IntegerType(), False),
    ]
)

# ---------------------------------------------------------------- images
# Authoritative payload shape from BASELINE.json input_hint.
IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)

# ---------------------------------------------------------------- seen set
SEEN_SHARDS_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), False),  # 'bloom' | 'cuckoo'
        T.StructField("blob", T.BinaryType(), False),
        T.StructField("n_items", T.LongType(), False),
    ]
)

# ---------------------------------------------------------------- hosts
HOSTS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("robots_txt", T.StringType(), True),
        T.StructField("init_budget", T.DoubleType(), False),
        T.StructField("max_budget", T.DoubleType(), False),
    ]
)

# ---------------------------------------------------------------- metrics
# Per-wave, per-host fetch/parse telemetry (rate_control.py analyse.csv
# generalized; also the lineage/metrics table the north rule requires).
FETCH_LOG_SCHEMA = T.StructType(
    [
        T.StructField("wave", T.IntegerType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("n_admitted", T.LongType(), False),
        T.StructField("n_success", T.LongType(), False),
        T.StructField("n_fail", T.LongType(), False),
        T.StructField("fail_rate_w10", T.DoubleType(), True),
        T.StructField("budget", T.DoubleType(), True),
        T.StructField("threshold", T.DoubleType(), True),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("wall_ms", T.DoubleType(), True),
    ]
)

# ------------------------------------------------- incomplete-seeds pool
# Barrier pages of seeds that have not yet passed the 4-page barrier —
# persisted alongside each durable checkpoint so resume is O(pool)
# instead of a full pages-table scan (wave_loop.finalize_increment).
INCOMPLETE_POOL_SCHEMA = T.StructType(
    [
        T.StructField("seed_index", T.LongType(), False),
        T.StructField("page_type", T.StringType(), False),
        T.StructField("body", T.StringType(), True),
    ]
)

# Seeds with a retry-exhausted page (can never pass the barrier) —
# cumulative, bounded by failed seeds; checkpointed with the pool.
EXHAUSTED_SEEDS_SCHEMA = T.StructType(
    [T.StructField("seed_index", T.LongType(), False)]
)

# ---------------------------------------------------------------- pages
PAGE_TYPES = ["OVERVIEW", "MANAGER", "METRICS", "INCREASE"]
# Ordinal = reference enum order (data_mining_type.py:8-19); defines the
# deterministic fan-out order within a fund.
PAGE_ORDINAL = {p: i for i, p in enumerate(PAGE_TYPES)}

PAGE_BODIES_SCHEMA = T.StructType(
    [
        T.StructField("fund_code", T.StringType(), False),
        T.StructField("page_type", T.StringType(), False),
        T.StructField("body", T.StringType(), True),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("latency_ms", T.IntegerType(), False),
    ]
)
