"""Real-HTTP transport twin (sources/http_transport) against an
IN-PROCESS localhost HTTP server — the suite never touches the
network. Covers the reference downloader's fetch rules
(http_request_downloader.py:101-114): UA-rotated GET, 1 s timeout,
blank-200 anti-bot rule, exception => FALSE; plus the Spark wiring
(run_fetch(transport='http'))."""

import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pandas as pd
import pytest

from fundcrawler_spark.sources.http_transport import (
    UA_POOL,
    fetch_pandas_batch,
    pick_ua,
)

SEEN_UAS: dict[str, str] = {}


class Handler(BaseHTTPRequestHandler):
    def do_GET(self):  # noqa: N802 (http.server API)
        SEEN_UAS[self.path] = self.headers.get("User-Agent", "")
        if self.path.startswith("/ok"):
            body = b"<html>fund page</html>"
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        elif self.path.startswith("/blank"):
            # anti-bot blank 200
            self.send_response(200)
            self.send_header("Content-Length", "0")
            self.end_headers()
        elif self.path.startswith("/e503"):
            self.send_response(503)
            self.send_header("Content-Length", "0")
            self.end_headers()
        elif self.path.startswith("/slow"):
            time.sleep(1.0)
            self.send_response(200)
            self.send_header("Content-Length", "2")
            self.end_headers()
            self.wfile.write(b"ok")
        else:
            self.send_response(404)
            self.send_header("Content-Length", "0")
            self.end_headers()

    def log_message(self, *a):  # silence
        pass


@pytest.fixture(scope="module")
def server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _batch(base, paths):
    return pd.DataFrame({
        "url": [base + p for p in paths],
        "url_hash": list(range(100, 100 + len(paths))),
        "host": ["127.0.0.1"] * len(paths),
        "page_type": ["OVERVIEW"] * len(paths),
        "seed_index": list(range(len(paths))),
        "retry_count": [0] * len(paths),
        "wave": [0] * len(paths),
        "host_rank": list(range(1, len(paths) + 1)),
    })


def test_fetch_rules_success_blank_503_timeout_refused(server):
    pdf = _batch(server, ["/ok", "/blank", "/e503", "/slow"])
    # /slow exceeds the timeout; a refused port exercises the
    # connection-error arm
    pdf.loc[len(pdf)] = [
        "http://127.0.0.1:1/refused", 999, "127.0.0.1", "OVERVIEW", 4, 0, 0, 5,
    ]
    out = fetch_pandas_batch(pdf, timeout=0.3)
    by_url = {r["url"].rsplit("/", 1)[-1]: r for _, r in out.iterrows()}
    assert by_url["ok"]["state"] == "SUCCESS"
    assert by_url["ok"]["status"] == 200
    assert by_url["ok"]["body"] == "<html>fund page</html>"
    # blank-200 anti-bot rule: 200 + empty body is a FAILURE
    assert by_url["blank"]["state"] == "FALSE"
    assert by_url["blank"]["status"] == 200
    assert by_url["blank"]["body"] == ""
    assert by_url["e503"]["state"] == "FALSE"
    assert by_url["e503"]["status"] == 503
    assert by_url["slow"]["state"] == "FALSE"  # timeout
    assert by_url["slow"]["status"] == 0
    assert by_url["refused"]["state"] == "FALSE"
    assert by_url["refused"]["status"] == 0
    # FETCHED_SCHEMA passthrough columns intact
    assert list(out["host_rank"]) == [1, 2, 3, 4, 5]


def test_ua_rotation_deterministic(server):
    SEEN_UAS.clear()
    pdf = _batch(server, ["/ok?a", "/ok?b"])
    fetch_pandas_batch(pdf, timeout=1.0)
    assert SEEN_UAS["/ok?a"] == pick_ua(100, 0)
    assert SEEN_UAS["/ok?b"] == pick_ua(101, 0)
    assert SEEN_UAS["/ok?a"] in UA_POOL
    # a retry rotates to a (generally) different UA, deterministically
    assert pick_ua(100, 1) == UA_POOL[((100 + 1) * 2654435761) % 22]


def test_discovery_rule_matches_stub(server):
    from fundcrawler_spark.sources.stub_transport import discovered_url

    # an OVERVIEW page whose url classifies to a fund code discovers
    # the announcements url, exactly like the stub transport
    pdf = _batch(server, ["/jbgk_000123.html"])
    # the server 404s this path — make it succeed via /ok-style body
    pdf["url"] = [server + "/ok/jbgk_000123.html"]
    out = fetch_pandas_batch(pdf, discover=True, timeout=1.0)
    assert out.iloc[0]["state"] == "SUCCESS"
    assert list(out.iloc[0]["links"]) == [discovered_url("000123")]


def test_run_fetch_http_transport_through_spark(spark, server):
    """The Spark wiring: run_fetch(transport='http') executes the
    urllib kernel inside applyInPandas workers."""
    from fundcrawler_spark.operators.fetch import run_fetch

    pdf = _batch(server, [f"/ok?i={i}" for i in range(8)] + ["/blank"])
    df = spark.createDataFrame(pdf)
    rows = run_fetch(df, wave=0, expected_rows=9, transport="http").collect()
    states = sorted(r["state"] for r in rows)
    assert states == ["FALSE"] + ["SUCCESS"] * 8
    ok = [r for r in rows if r["state"] == "SUCCESS"]
    assert all(r["body"] == "<html>fund page</html>" for r in ok)


def test_unknown_transport_rejected(spark):
    from fundcrawler_spark.operators.fetch import run_fetch
    from fundcrawler_spark.plans.wave_loop import CrawlConfig

    with pytest.raises(ValueError, match="transport"):
        run_fetch(spark.range(1), transport="carrier-pigeon")
    with pytest.raises(ValueError, match="transport"):
        CrawlConfig(transport="carrier-pigeon")
