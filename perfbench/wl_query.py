"""``query_suite``: the twelve headline query leaves of ``bench.py``,
each written to Spark's noop sink, on tables built by
``scripts/make_scaled_sf.py`` — the row-count ratios, key spaces,
document vocabulary, planted near-duplicates and language weights it
measured on the sf0.1 test data, at ``SF_FACTOR`` x sf0.1.

The query operators (dedup, similarity, analysis top-K, text stats) run
only here. The untimed warm-up is one cold pass over all twelve leaves
that collects each leaf's rows for the oracle check; its time is
reported as ``query.cold_pass_s``, separately from the warm passes,
because the first run of a leaf pays codegen and Python-worker start-up
that later runs do not.
"""

from __future__ import annotations

import time

from harness import Bench, Checks, Tracer
from spec import QUERY_LEAVES
from stats import median

# scale relative to sf0.1 (0.2: lineitem ~120,000 rows, 1,000 documents)
SF_FACTOR = 0.2


def neardup_reference(documents_path: str, threshold: float = 0.85):
    """The ``neardup_jaccard`` oracle evaluated in Python: every pair
    ``id_a < id_b`` whose 3-character shingle sets have Jaccard
    similarity >= ``threshold``. DuckDB runs that SQL as an all-pairs
    self-join (over a minute at 1,000 documents); here pairs are pruned
    by set size first, which is exact because
    ``J(a, b) <= min(|a|, |b|) / max(|a|, |b|)``."""
    import pandas as pd
    import pyarrow.parquet as pq

    docs = pq.read_table(documents_path, columns=["doc_id", "text"]).to_pydict()
    grams = [frozenset(t[i:i + 3] for i in range(max(len(t) - 2, 1))) for t in docs["text"]]
    by_size = sorted(range(len(grams)), key=lambda i: len(grams[i]))
    rows = []
    for pos, i in enumerate(by_size):
        gi = grams[i]
        for j in by_size[pos + 1:]:
            if len(gi) < threshold * len(grams[j]):
                break
            inter = len(gi & grams[j])
            jac = inter / (len(gi) + len(grams[j]) - inter)
            if jac >= threshold:
                a, b = sorted((docs["doc_id"][i], docs["doc_id"][j]))
                rows.append((a, b, jac))
    return pd.DataFrame(rows, columns=["id_a", "id_b", "jaccard"]).astype(
        {"id_a": "int64", "id_b": "int64", "jaccard": "float64"})


class QuerySuite:
    name = "query_suite"

    def __init__(self, bench: Bench, seed: int, checks: Checks) -> None:
        self.bench = bench
        self.spark = bench.spark
        self.seed = seed
        self.checks = checks
        self.table_dir = bench.path("tables")
        self.cold: dict[str, float] = {}
        self.outputs: dict = {}
        self.group_jobs = False

    def generate(self) -> None:
        """The generator draws from a fixed seed, so these tables are the
        same for every ``--seed``; its per-table lines go to stderr."""
        import contextlib
        import sys

        from scripts.make_scaled_sf import main as make_scaled_sf

        with contextlib.redirect_stdout(sys.stderr):
            make_scaled_sf(self.table_dir, SF_FACTOR)

    def _leaves(self) -> dict:
        from fundcrawler_spark.entry_queries import QUERIES

        return {leaf: QUERIES[leaf] for leaf in QUERY_LEAVES}

    def _run_leaves(self, collect: bool = False) -> dict:
        sc = self.spark.sparkContext
        leaf_s: dict[str, float] = {}
        t_start = time.time()
        for leaf, (fn, _) in self._leaves().items():
            if self.group_jobs:
                sc.setJobGroup(f"query:{leaf}", leaf)
            t0 = time.time()
            df = fn(self.spark, self.table_dir)
            if collect:
                self.outputs[leaf] = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
            t1 = time.time()
            leaf_s[leaf] = t1 - t0
        if self.group_jobs:
            sc.setJobGroup("perfbench", "between steps")
        return {"leaf_s": leaf_s, "wall_s": sum(leaf_s.values()), "t0": t_start,
                "t1": time.time()}

    def warmup(self) -> None:
        self.outputs = {}
        self.cold = self._run_leaves(collect=True)["leaf_s"]

    def run_pass(self, tracer: Tracer | None = None) -> dict:
        return self._run_leaves()

    def finish_pass(self, rec: dict) -> None:
        pass

    def check(self, rec: dict) -> None:
        """Once per run: each leaf's cold-pass rows against its oracle on
        the same tables, by row count, column names and the
        order-insensitive value hash of ``scripts/check_parity.py``."""
        if not self.outputs:
            return
        import duckdb

        from fundcrawler_spark.entry_queries import resolve_oracle
        from scripts.check_parity import TABLES, value_hash

        outputs, self.outputs = self.outputs, {}
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.table_dir}/{t}.parquet'")
            for leaf, (_, oracle) in self._leaves().items():
                sdf = outputs[leaf]
                if leaf == "neardup_jaccard":
                    odf = neardup_reference(f"{self.table_dir}/documents.parquet")
                else:
                    odf = con.execute(resolve_oracle(oracle)).df()
                ok = (len(sdf) == len(odf)
                      and sorted(sdf.columns) == sorted(odf.columns)
                      and value_hash(sdf) == value_hash(odf))
                self.checks.check(f"query.{leaf}", ok,
                                  f"spark {len(sdf)} rows vs oracle {len(odf)} rows")
        finally:
            con.close()

    # ----------------------------------------------------------- metrics

    def end_to_end(self, passes: list[dict]) -> dict[str, tuple[float, str]]:
        return {"pass_s": (median([p["wall_s"] for p in passes]), "s")}

    def workload_metrics(self, rec: dict) -> dict[str, float]:
        out = {"query.suite_s": rec["wall_s"], "query.leaf_p50_s": median(rec["leaf_s"].values()),
               "query.cold_pass_s": sum(self.cold.values())}
        out.update({f"query.{leaf}_s": s for leaf, s in rec["leaf_s"].items()})
        return out

    def trace_install(self, tracer: Tracer) -> None:
        # the leaves are the calls into entry_queries; their jobs are
        # attributed by job group
        self.group_jobs = True

    def layer_metrics(self, rec: dict, tracer: Tracer) -> dict[str, float]:
        return {}

    def spark_metrics(self, rec: dict, jobs: dict) -> dict[str, float]:
        from eventlog import jobs_in_window, summarize

        mine = [j for j in jobs_in_window(jobs, rec["t0"], rec["t1"])
                if (j.group or "").startswith("query:")]
        return summarize(mine, rec["t0"], rec["t1"])
