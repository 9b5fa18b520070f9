"""Construction-time config guards: an unknown seen-set kind or an
invalid slice width fails loudly at CrawlConfig init."""

import pytest

from fundcrawler_spark.plans.wave_loop import CrawlConfig


def test_unknown_enum_values_rejected():
    with pytest.raises(ValueError, match="seen_kind"):
        CrawlConfig(seen_kind="hyperloglog")


def test_active_slice_waves_must_be_positive():
    with pytest.raises(ValueError, match="active_slice_waves"):
        CrawlConfig(active_slice_waves=0)


def test_fetch_order_requires_ranks(spark):
    """with_fetch_order must raise on unranked input instead of
    silently producing a nondeterministic order (r5 ADVICE low)."""
    from fundcrawler_spark.operators.fetch import with_fetch_order

    df = spark.createDataFrame([("u1", "h1")], "url_hash string, host string")
    with pytest.raises(ValueError, match="host_rank"):
        with_fetch_order(df, {"h1": 1}, 0)
