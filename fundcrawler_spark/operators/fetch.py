"""Fetch kernel — mapInPandas batch fetcher, one Python task per core.

The reference fetches on a thread pool inside a child process
(http_request_downloader.py:116-175); our equivalent is one Python
worker per core, each fetching its hash-partitioned slice of the
admitted rows. Partitioning by url_hash — not by host — is the skew
fix: the eastmoney case is ONE host owning the whole admitted set, and
the hash spreads its rows evenly over the cores while the AIMD budget
still caps total admission per host.

The transport is injected as a module-level callable name so the
closure stays picklable and tests/bench swap implementations without
touching the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import FETCHED_SCHEMA
from ..session import spread
from .politeness import with_host_values


def run_fetch(
    admitted: DataFrame,
    fail_rate: float = 0.0,
    max_fail_attempts: int = 3,
    wave: int | None = None,
    discover: bool = False,
    expected_rows: int | None = None,
    transport: str = "stub",
) -> DataFrame:
    """admitted frontier rows -> FETCHED_SCHEMA rows.
    ``wave`` stamps the rows with the wave the fetch HAPPENS in (the
    frontier row's own wave column is its enqueue wave).
    ``expected_rows``: caller's upper bound on the admitted count (the
    wave loop knows the per-host budgets), passed to ``spread`` as its
    row bound. None = unknown = one partition per core.
    ``transport``: 'stub' (deterministic offline, the test/bench
    default) or 'http' (live urllib GETs, sources/http_transport) —
    resolved by module name inside the kernel so the closure stays
    picklable."""
    if transport == "stub":
        from ..sources.stub_transport import fetch_pandas_batch
    elif transport == "http":
        from ..sources.http_transport import fetch_pandas_batch
    else:
        raise ValueError(f"unknown transport {transport!r}")

    def kernel(batches):
        for pdf in batches:
            yield fetch_pandas_batch(pdf, fail_rate, max_fail_attempts, discover)

    # host_rank (admission rank from politeness.admit) rides through the
    # kernel when present so the crawl-order window downstream needs no
    # broadcast re-join of the admitted ranks (one fewer per-wave job)
    cols = ["url", "url_hash", "host", "page_type", "seed_index", "retry_count", "wave"]
    if "host_rank" in admitted.columns:
        cols.append("host_rank")
    fetched = spread(
        admitted.select(*cols), "url_hash", rows=expected_rows
    ).mapInPandas(kernel, FETCHED_SCHEMA)
    if "host_rank" not in admitted.columns:
        # stub_transport zero-fills host_rank when the input lacks ranks;
        # a zero-filled rank column would make with_fetch_order silently
        # nondeterministic, so drop it and let the order step fail loudly
        fetched = fetched.drop("host_rank")
    if wave is not None:
        fetched = fetched.withColumn("wave", F.lit(wave).cast("int"))
    return fetched


def with_fetch_order(fetched: DataFrame, host_counts: dict[str, int],
                     order_offset: int) -> DataFrame:
    """Assign the deterministic global crawl order: (host ASC, host_rank
    ASC) within the wave, continuing from ``order_offset``.

    ``host_counts`` is the exact per-host admitted count for THIS wave —
    the wave loop already collects it for the AIMD observation, so the
    driver derives each host's prefix-sum offset (hosts sorted ASC; they
    are ASCII hostnames, so Python's sort matches Spark's binary string
    order) and attaches ``fetch_order = offset[host] + host_rank``.
    ``host_rank`` is admit()'s dense 1-based
    row_number per host, so this is the SAME total order as a global
    row_number window over (host ASC, host_rank ASC) — with zero
    shuffles and no single-partition WindowExec (which would serialize
    every wave's admitted set through one reducer as hosts grow). The
    offsets attach through ``politeness.with_host_values``.

    Rank validity is enforced in-plan: a non-positive host_rank (e.g. a
    caller that fetched unranked rows) raises instead of silently
    producing a nondeterministic order.
    """
    if "host_rank" not in fetched.columns:
        raise ValueError(
            "with_fetch_order requires admission ranks: fetch the rows "
            "through politeness.admit (host_rank) before ordering"
        )
    offsets: dict[str, tuple[int]] = {}
    running = int(order_offset)
    for h in sorted(host_counts):
        offsets[h] = (running,)
        running += int(host_counts[h])
    rank = F.when(
        F.col("host_rank") < 1,
        F.raise_error(F.concat(
            F.lit("with_fetch_order: non-positive host_rank for url_hash="),
            F.col("url_hash").cast("string"),
        )).cast("int"),
    ).otherwise(F.col("host_rank"))
    return (
        with_host_values(fetched, offsets, "__order_base long")
        .withColumn("fetch_order", F.col("__order_base") + rank.cast("long"))
        .drop("__order_base", "host_rank")
    )
