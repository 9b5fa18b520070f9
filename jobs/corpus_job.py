"""spark-submit entry point for the crawl→corpus pipeline: turn a
finished crawl's pages table into a filtered, deduplicated training
corpus plus a composition report — the end-to-end bridge between the
engine's two halves.

    make dist
    spark-submit --py-files dist/fundcrawler_spark.zip \
        jobs/corpus_job.py --crawl-workdir /tmp/crawl --out /tmp/corpus

Stages (all DataFrame ops, zero per-row Python):
  1. pages scan        — IcebergLite read, SUCCESS + non-empty body only
  2. text extraction   — functions/html.extract_html_text (codegen'd
                         regexp chain) inside the scan projection
  3. per-doc signals   — token count, quality score, language guess,
                         Gopher repetition fractions (textstats)
  4. quality gate      — min tokens, Gopher top-2-gram <= 0.20 and
                         dup-5-gram <= 0.15 thresholds (Rae et al. 2021)
  5. exact dedup       — md5 digest groupBy, keeper = min doc_id
  6. outputs           — corpus parquet (kept docs), composition
                         parquet (per source x lang x page_type token
                         shares), one JSON stats line on stdout

100-TB shape: stages 1-4 are a single scan projection + filter (no
shuffle); stage 5 is one hash groupBy on the digest; the composition
is a bounded-cardinality aggregate with a broadcast 1-row total. The
only wide ops are the dedup groupBy and the semi-join bringing keeper
rows back — both keyed, both AQE-skew-safe.
"""

from __future__ import annotations

import argparse
import json
import os


from fundcrawler_spark.operators.corpus import build_corpus  # noqa: E402 (re-export for spark-submit + tests)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--crawl-workdir", required=True,
                    help="workdir of a finished jobs/crawl_job.py run")
    ap.add_argument("--out", required=True)
    ap.add_argument("--min-tokens", type=int, default=3)
    ap.add_argument("--max-top2gram", type=float, default=0.20)
    ap.add_argument("--max-dup5gram", type=float, default=0.15)
    ap.add_argument(
        "--since-snapshot", type=int, default=None,
        help="incremental refresh: only pages appended after this "
             "pages-table snapshot id (from a previous run's "
             "pages_snapshot output) are processed",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from fundcrawler_spark.session import STATIC_CONF
    from fundcrawler_spark.sources.iceberg_lite import IcebergLiteTable

    spark = (
        SparkSession.builder.appName("fundcrawler-corpus")
        .config(map=STATIC_CONF)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    tbl = IcebergLiteTable(os.path.join(args.crawl_workdir, "tables", "pages"))
    if args.since_snapshot is not None:
        pages = tbl.read_incremental(spark, since=args.since_snapshot)
        if pages is None:
            print(json.dumps({"docs": 0, "note": "no new pages",
                              "pages_snapshot": tbl.current_snapshot()}))
            spark.stop()
            return
    else:
        pages = tbl.read(spark)
    if pages is None:
        raise SystemExit(f"no pages table under {args.crawl_workdir}")

    corpus, composition, stats = build_corpus(
        spark, pages, args.min_tokens, args.max_top2gram, args.max_dup5gram
    )
    stats["pages_snapshot"] = tbl.current_snapshot()
    corpus.write.mode("overwrite").parquet(os.path.join(args.out, "corpus"))
    composition.write.mode("overwrite").parquet(
        os.path.join(args.out, "composition")
    )
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
