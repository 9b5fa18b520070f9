"""URL canonicalization + hashing — pure Column expressions.

The reference builds URLs from ``string.Template`` per page type
(``module/crawling_data/data_mining/impl/overview.py:16`` etc.) and never
normalizes because its seed list is already distinct. At 10^10-URL
frontier scale the seen-set is keyed by ``xxhash64(canonicalize(url))``,
so canonicalization must be deterministic and cheap — everything here is
JVM-side (whole-stage-codegen'd), zero Python.

Canonical form:
  * scheme lowercased, ``https`` folded to ``http`` (the reference mixes
    both for the same host — overview/manager/metrics use http, rise uses
    https; they are the same resource namespace)
  * host lowercased, leading ``www.`` stripped
  * default ports ``:80``/``:443`` stripped
  * path: duplicate slashes collapsed, trailing slash stripped (except root)
  * fragment stripped; query kept (sorted NOT attempted — the reference's
    query URLs have a single stable param order)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# URL template constants — reference impl/{overview,manager,sharpe,increase}.py
URL_TEMPLATES = {
    "OVERVIEW": "http://fundf10.eastmoney.com/jbgk_%s.html",
    "MANAGER": "http://fundf10.eastmoney.com/jjjl_%s.html",
    "METRICS": "http://fundf10.eastmoney.com/tsdata_%s.html",
    "INCREASE": "https://fundf10.eastmoney.com/FundArchivesDatas.aspx?type=jdzf&code=%s",
}


def build_url(page_type: Column, fund_code: Column) -> Column:
    """fund_code -> page URL, vectorized over both columns.

    Reference: ``Template('http://fundf10.eastmoney.com/jbgk_$fund_code
    .html').substitute(...)`` (impl/overview.py:16,23-24) and its three
    siblings.
    """
    expr = None
    for ptype, tmpl in URL_TEMPLATES.items():
        branch = F.format_string(tmpl, fund_code)
        expr = (
            F.when(page_type == ptype, branch)
            if expr is None
            else expr.when(page_type == ptype, branch)
        )
    return expr


def canonicalize_url(url: Column) -> Column:
    """Canonical URL form (see module docstring). Pure Column tree."""
    u = F.trim(url)
    # split off fragment
    u = F.regexp_replace(u, r"#.*$", "")
    # lowercase scheme+host portion: split scheme
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    scheme = F.when(scheme == "https", F.lit("http")).otherwise(scheme)
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    hostport = F.lower(F.regexp_extract(rest, r"^([^/?]*)", 1))
    path_q = F.regexp_replace(rest, r"^[^/?]*", "")
    host = F.regexp_replace(hostport, r"^www\.", "")
    host = F.regexp_replace(host, r":(80|443)$", "")
    # collapse duplicate slashes in the path part only (before '?')
    path = F.regexp_extract(path_q, r"^([^?]*)", 1)
    query = F.regexp_replace(path_q, r"^[^?]*", "")
    path = F.regexp_replace(path, r"/{2,}", "/")
    # strip trailing slash but keep bare root "/" ("(.)/$" needs a char before)
    path = F.regexp_replace(path, r"(.)/$", "$1")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    return F.concat(scheme, F.lit("://"), host, path, query)


def url_host(url_norm: Column) -> Column:
    """Extract host from a canonicalized URL."""
    return F.regexp_extract(url_norm, r"^[a-z][a-z0-9+.-]*://([^/?]*)", 1)


def url_hash(url_norm: Column) -> Column:
    """64-bit key of the canonical URL — Spark's built-in xxhash64
    (JVM-side, codegen'd). This is the frontier/seen-set key."""
    return F.xxhash64(url_norm)


def host_salt(host: Column, n_buckets: int, row_key: Column | None = None) -> Column:
    """Per-URL salt in ``[0, n_buckets)`` hashed from the host and
    ``row_key`` (normally the canonical URL), or from the host alone.
    The package no longer uses it — the frontier carries no salt column
    and skew is handled by url_hash fetch partitioning plus the map-side
    partial WindowGroupLimit of ``operators.topk.grouped_topk``. It stays
    because the frozen ``bench.py`` and ``perfbench/wl_frontier.py``
    import it to build their synthetic frontiers."""
    if row_key is None:
        return F.pmod(F.xxhash64(host), F.lit(n_buckets)).cast("int")
    return F.pmod(F.xxhash64(host, row_key), F.lit(n_buckets)).cast("int")
