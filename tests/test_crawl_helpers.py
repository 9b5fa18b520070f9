"""The crawl's shared helpers: ``wave_loop.overlap`` (run independent
writes, time each span) and ``politeness.with_host_values`` (attach
per-host driver values: a literal map up to 256 hosts, a broadcast join
above)."""

import threading
import time

import pytest

from fundcrawler_spark.operators.politeness import with_host_values
from fundcrawler_spark.plans.wave_loop import overlap


def test_overlap_returns_one_span_per_job():
    spans = overlap(slow=lambda: time.sleep(0.05), quick=lambda: None)
    assert set(spans) == {"slow", "quick"}
    assert spans["slow"] >= 0.05
    assert spans["quick"] >= 0.0


def test_overlap_raises_only_after_every_job_returned():
    finished = threading.Event()

    def fail():
        raise ValueError("injected")

    def slow():
        time.sleep(0.3)
        finished.set()

    with pytest.raises(ValueError, match="injected"):
        overlap(fail=fail, slow=slow)
    assert finished.is_set()


def test_overlap_without_jobs():
    assert overlap() == {}


SCHEMA = "budget int, base long, rate double"


def _values(n_hosts):
    return {f"h{i:03d}": (i, 10_000_000_000 + i, i / 4) for i in range(n_hosts)}


def _collect(df):
    return sorted(map(tuple, df.collect()))


def test_with_host_values_either_side_of_256_hosts(spark):
    """The same rows through the literal map (256 hosts) and the
    broadcast join (257 hosts): same columns and types, each row carries
    its host's tuple, and a host missing from the dict gets NULL."""
    rows = [(f"h{i:03d}", r) for i in range(257) for r in range(2)] + [("absent", 0)]
    df = spark.createDataFrame(rows, "host string, r int")
    expect = {}
    for n_hosts in (256, 257):
        values = _values(n_hosts)
        expect[n_hosts] = sorted(
            (h, r, *values.get(h, (None, None, None))) for h, r in rows
        )
    literal = with_host_values(df, _values(256), SCHEMA)
    joined = with_host_values(df, _values(257), SCHEMA)
    assert "Join" not in literal._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" in joined._jdf.queryExecution().optimizedPlan().toString()
    assert literal.columns == joined.columns == ["host", "r", "budget", "base", "rate"]
    assert literal.dtypes == joined.dtypes
    assert dict(literal.dtypes)["base"] == "bigint"
    assert _collect(literal) == expect[256]
    assert _collect(joined) == expect[257]
    # on the 256 hosts both dicts share, the two plans agree row for row
    assert _collect(literal.filter("host < 'h256'")) == _collect(joined.filter("host < 'h256'"))


def test_with_host_values_empty_dict_gives_null_columns(spark):
    df = spark.createDataFrame([("h1", 1), ("h2", 2)], "host string, r int")
    out = with_host_values(df, {}, SCHEMA)
    assert out.dtypes == [("host", "string"), ("r", "int"), ("budget", "int"),
                          ("base", "bigint"), ("rate", "double")]
    assert _collect(out) == [("h1", 1, None, None, None), ("h2", 2, None, None, None)]
