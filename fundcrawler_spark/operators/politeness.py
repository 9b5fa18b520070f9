"""Politeness: robots.txt matching + per-host budgeted admission.

Robots: RFC 9309 prefix rules with '*' wildcards and '$' anchors,
longest-match-wins, most-specific user-agent group. Rule compilation is
driver-side (hosts table is tiny — broadcastable); the per-URL check is
a vectorized pandas_udf over a broadcast dict of compiled matchers —
Arrow batches, zero per-row Python in the Spark plan.

Admission: the wave scheduler's core query. Given the candidate
frontier and the per-host integer budgets from the AIMD table, rank
candidates within each host by the deterministic total order

    retry_count DESC, priority ASC, seed_index ASC, page_ordinal ASC

(retry-first mirrors http_request_downloader.py:162-166; the rest is
our documented deterministic replacement for its LIFO race, SURVEY.md
§4.4) and keep ``rank <= budget``. The rank is a single exact window
(``grouped_topk``): the planner's map-side partial WindowGroupLimit
bounds what one dominant host (eastmoney) can send to a reducer.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .topk import grouped_topk


# ------------------------------------------------------------ robots


def _rule_regex(pattern: str) -> re.Pattern:
    out = []
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    for ch in pattern:
        out.append(".*" if ch == "*" else re.escape(ch))
    return re.compile("^" + "".join(out) + ("$" if anchored else ""))


class RobotsMatcher:
    """Parsed robots.txt for one host."""

    def __init__(self, robots_txt: str | None, agent: str = "fundcrawler"):
        groups: list[tuple[list[str], list[tuple[bool, str]]]] = []
        cur_agents: list[str] = []
        cur_rules: list[tuple[bool, str]] = []
        in_group = False
        self.crawl_delay: float | None = None
        for line in (robots_txt or "").splitlines():
            line = line.split("#", 1)[0].strip()
            if not line or ":" not in line:
                continue
            key, val = (x.strip() for x in line.split(":", 1))
            key = key.lower()
            if key == "user-agent":
                if in_group:
                    groups.append((cur_agents, cur_rules))
                    cur_agents, cur_rules = [], []
                    in_group = False
                cur_agents.append(val.lower())
            elif key in ("allow", "disallow"):
                in_group = True
                if val:
                    cur_rules.append((key == "allow", val))
                elif key == "disallow":
                    pass  # empty Disallow = allow all (no rule)
            elif key == "crawl-delay":
                try:
                    self.crawl_delay = float(val)
                except ValueError:
                    pass
        if cur_agents or cur_rules:
            groups.append((cur_agents, cur_rules))

        # pick most specific matching group: exact agent > prefix > '*'
        best, best_score = [], -1
        agent = agent.lower()
        for agents, rules in groups:
            for a in agents:
                score = -1
                if a == "*":
                    score = 0
                elif agent.startswith(a) or a.startswith(agent):
                    score = len(a)
                if score > best_score:
                    best, best_score = rules, score
        self.rules = [(allow, len(pat), _rule_regex(pat)) for allow, pat in best]

    def budget_cap(self, wave_seconds: float) -> int | None:
        """Crawl-delay translated to our wave model: at most
        wave_seconds/delay requests per wave (floor 1)."""
        if not self.crawl_delay or self.crawl_delay <= 0:
            return None
        return max(1, int(wave_seconds / self.crawl_delay))

    def allowed(self, path: str) -> bool:
        verdict, best_len = True, -1
        for allow, plen, rx in self.rules:
            # RFC 9309 §2.2.2: longest match wins; on equivalent-length
            # matches the least-restrictive (Allow) rule wins regardless
            # of rule order
            if (plen > best_len or (plen == best_len and allow)) and rx.match(path):
                verdict, best_len = allow, plen
        return verdict

    def allowed_many(self, paths: pd.Series) -> np.ndarray:
        """Vectorized ``allowed`` over a path Series: one
        ``Series.str.match`` (C-level regex sweep) per RULE, not one
        Python match per URL — the per-rule longest-match/equal-length-
        Allow update is elementwise identical to the scalar loop."""
        n = len(paths)
        verdict = np.ones(n, dtype=bool)
        if not self.rules or n == 0:
            return verdict
        s = paths.fillna("")
        s = s.mask(s == "", "/")
        best_len = np.full(n, -1, dtype=np.int64)
        for allow, plen, rx in self.rules:
            m = s.str.match(rx).to_numpy(dtype=bool)
            upd = m & ((plen > best_len) | ((best_len == plen) & allow))
            verdict[upd] = allow
            best_len[upd] = plen
        return verdict


def robots_filter(
    frontier: DataFrame, robots_by_host: dict[str, str | None], agent: str = "fundcrawler"
) -> DataFrame:
    """Keep only robots-allowed rows. ``robots_by_host`` comes from the
    small hosts table; matchers are compiled once per executor batch.
    Each Arrow batch is grouped by host and checked with the host's
    vectorized ``allowed_many`` — no per-row Python (r3 verdict 4).
    The wave loop applies this once at INSERTION (seeds, resume,
    discoveries), not per wave — robots config is static per run."""
    matchers = {h: RobotsMatcher(txt, agent) for h, txt in robots_by_host.items()}

    @F.pandas_udf(T.BooleanType())
    def allowed(host: pd.Series, url_norm: pd.Series) -> pd.Series:
        paths = url_norm.str.replace(r"^[a-z][a-z0-9+.-]*://[^/]*", "", regex=True)
        res = np.ones(len(paths), dtype=bool)
        hs = host.to_numpy()
        for h in pd.unique(hs):
            m = matchers.get(h)
            if m is None or not m.rules:
                continue
            mask = hs == h
            res[mask] = m.allowed_many(paths[mask].reset_index(drop=True))
        return pd.Series(res, dtype=bool)

    return frontier.filter(allowed(F.col("host"), F.col("url_norm")))


# ---------------------------------------------------------- admission

def admission_order():
    # Columns must be built lazily (needs an active SparkContext)
    return [
        F.col("retry_count").desc(),
        F.col("priority").asc(),
        F.col("seed_index").asc(),
        F.col("page_ordinal").asc(),
    ]


def with_page_ordinal(df: DataFrame) -> DataFrame:
    from ..schemas import PAGE_TYPES

    expr = F.lit(len(PAGE_TYPES))
    m = None
    for i, p in enumerate(PAGE_TYPES):
        m = F.when(F.col("page_type") == p, i) if m is None else m.when(F.col("page_type") == p, i)
    return df.withColumn("page_ordinal", m.otherwise(expr).cast("int"))


def with_host_values(df: DataFrame, values: dict[str, tuple],
                     schema: str) -> DataFrame:
    """Attach driver-side per-host values to ``df`` by its ``host``
    column: ``values`` maps a host to one tuple laid out as ``schema``
    (a DDL field list such as ``"budget int"``); a host absent from it
    gets NULL in every field. Up to 256 hosts the values attach as a
    literal map lookup, so a plan built once per wave carries no
    createDataFrame + broadcast-exchange job; above that a broadcast
    left join keeps the literal plan small. Both paths return
    ``df.columns`` followed by the schema's fields."""
    fields = T.StructType.fromDDL(schema).fields
    if len(values) > 256:
        vdf = df.sparkSession.createDataFrame(
            [(h, *v) for h, v in values.items()], f"host string, {schema}"
        )
        return df.join(F.broadcast(vdf), "host", "left").select(
            *df.columns, *[f.name for f in fields]
        )
    if not values:
        return df.select(
            "*", *[F.lit(None).cast(f.dataType).alias(f.name) for f in fields]
        )
    lookup = F.create_map(*[
        part
        for h, v in values.items()
        for part in (F.lit(h), F.struct(*[
            F.lit(x).cast(f.dataType).alias(f.name) for x, f in zip(v, fields)
        ]))
    ])[F.col("host")]
    return df.select("*", *[lookup.getField(f.name).alias(f.name) for f in fields])


def top_slice_keys(frontier: DataFrame, slice_k: int,
                   approx_rows: int | None = None) -> DataFrame:
    """url_hash keys of each host's top ``slice_k`` frontier rows under
    the admission total order — the ACTIVE-SLICE selector for the wave
    loop's split frontier. Only the slim scheduling columns enter the
    rank shuffle; the slice is bounded (hosts x slice_k), so the caller
    can broadcast the keys back onto the wide rows. ``approx_rows`` is
    accepted and ignored."""
    slim = with_page_ordinal(
        frontier.select("host", "retry_count", "priority", "seed_index",
                        "page_type", "url_hash")
    ).drop("page_type")
    ranked = grouped_topk(
        slim,
        ["host"],
        admission_order(),
        max(slice_k, 1),
        rank_col="slice_rank",
    )
    return ranked.select("url_hash")


def admit(frontier: DataFrame, budgets: dict[str, int], max_budget: int,
          approx_rows: int | None = None) -> DataFrame:
    """Rank candidates per host, keep rank <= that host's budget.

    Physical shape: the ranking shuffles ONLY the slim scheduling
    columns (host, retry, priority, seed, ordinal, url_hash) — the wide
    frontier rows (urls are ~100s of bytes each) never enter the sort
    exchanges; the budget-bounded winner set is broadcast-joined back
    onto the frontier at the end. Ranking is one exact window: Spark
    inserts a map-side partial WindowGroupLimit before the exchange, so
    every task forwards <= max_budget rows per host and the per-host
    reducer input is bounded at max_budget x map-tasks slim rows. Hosts
    with budget 0 are pruned before any shuffle. The budgets attach
    through ``with_host_values``. ``approx_rows`` is accepted and
    ignored.
    """
    b_items = {h: (int(b),) for h, b in budgets.items() if int(b) > 0}
    slim = with_page_ordinal(
        frontier.select("host", "retry_count", "priority", "seed_index",
                        "page_type", "url_hash")
    ).drop("page_type")
    # absent host = NULL = budget 0: dropped before the rank shuffle
    slim = with_host_values(slim, b_items, "budget int").filter(
        F.col("budget").isNotNull()
    )
    ranked = grouped_topk(
        slim,
        ["host"],
        admission_order(),
        max(max_budget, 1),
        rank_col="host_rank",
    )
    winners = ranked.filter(F.col("host_rank") <= F.col("budget")).select(
        "url_hash", "host_rank"
    )
    return frontier.join(F.broadcast(winners), "url_hash")
