"""Round-6 late additions: PMI collocations."""

import os
import tempfile

from fundcrawler_spark.entry_queries import QUERIES


def test_pmi_collocations_hand_case(spark):
    """Fixed-point PMI == hand-computed n_xy*Nu^2*10000 // (n_x*n_y*Nb);
    a bigram that always co-occurs scores above independent pairs."""
    docs = [
        (1, "hong kong hong kong"),
        (2, "the cat the dog the cow"),
        (3, "hong kong the cat"),
    ]
    with tempfile.TemporaryDirectory() as d:
        df = spark.createDataFrame(docs, "doc_id long, text string")
        df.write.parquet(os.path.join(d, "documents.parquet"))
        fn, _ = QUERIES["pmi_collocations"]
        got = {r["bigram"]: r for r in fn(spark, d).collect()}

    # hand counts: unigrams over all 12 tokens
    toks = " ".join(t for _, t in docs).split()
    nu = len(toks)
    ucnt = {t: toks.count(t) for t in set(toks)}
    bigrams = []
    for _, t in docs:
        ws = t.split()
        bigrams += [f"{ws[i]} {ws[i+1]}" for i in range(len(ws) - 1)]
    nb = len(bigrams)
    for bg, row in got.items():
        x, y = bg.split(" ")
        n_xy = bigrams.count(bg)
        want = (n_xy * nu * nu * 10_000) // (ucnt[x] * ucnt[y] * nb)
        assert (row["n_xy"], row["n_x"], row["n_y"], row["pmi_scaled"]) == (
            n_xy, ucnt[x], ucnt[y], want), bg
    # "hong kong" (always adjacent) must outrank "the cat" (sometimes)
    assert got["hong kong"]["pmi_scaled"] > got["the cat"]["pmi_scaled"]


def test_zorder_compact_prunes_both_columns(spark):
    """Z-order compaction makes per-file min/max tight on BOTH
    columns: a 2D box predicate prunes (much) more than after bin-pack
    compaction of the same rows, results stay identical, and the
    generated key expression matches the pure-Python twin in Spark."""
    from pyspark.sql import functions as F

    from fundcrawler_spark.operators.packing import zorder_key_py, zorder_key_sql
    from fundcrawler_spark.sources.iceberg_lite import IcebergLiteTable

    # spark-side key == python twin on a value sweep
    sql = zorder_key_sql("u", "v", 0, 99, 0, 99, bits=8, div_op="div")
    sweep = spark.createDataFrame(
        [(i % 100, (i * 37) % 100) for i in range(0, 400, 7)], "u long, v long"
    )
    for r in sweep.withColumn("z", F.expr(sql)).collect():
        assert r["z"] == zorder_key_py(r["u"], r["v"], 0, 99, 0, 99, bits=8)

    rows = [(i, i % 100, (i * 37) % 100) for i in range(4096)]
    df = spark.createDataFrame(rows, "id long, u long, v long")
    pred = [("u", ">=", 40), ("u", "<=", 49), ("v", ">=", 40), ("v", "<=", 49)]

    with tempfile.TemporaryDirectory() as d:
        t = IcebergLiteTable(d + "/t")
        t.append(df.repartition(8))  # scattered layout

        t.compact(spark, target_rows=256)  # bin-pack: 16 files
        kept_bin, total_bin = t.plan_scan(pred)

        t.compact(spark, target_rows=256, zorder_by=("u", "v"))
        kept_z, total_z = t.plan_scan(pred)
        got = sorted(r["id"] for r in t.scan(spark, pred).collect())

    want = sorted(
        i for i, u, v in rows if 40 <= u <= 49 and 40 <= v <= 49
    )
    assert got == want                       # pruning never loses rows
    assert total_bin == total_z == 16
    assert len(kept_bin) == 16               # bin-pack: every file spans all
    assert len(kept_z) < len(kept_bin) // 2  # z-order actually prunes


def test_incremental_phash_equals_cross_split_subset(spark):
    """Probing batch chunks against the corpus index finds exactly the
    symmetric pair set's cross-split pairs (no self-pairs, corpus
    pairs untouched), with identical hamming values."""
    from fundcrawler_spark import fixtures as fx
    from fundcrawler_spark.functions import imaging
    from fundcrawler_spark.operators.dedup import (
        incremental_phash_neardups,
        phash_near_dups,
    )
    from fundcrawler_spark.operators.multimodal import enrich_images

    rows = fx.image_rows(32)
    planted = []
    for i in range(0, 32, 8):
        arr = imaging.decode_image(bytes(rows[i][1]), rows[i][4])
        planted.append(
            (f"dup_{rows[i][0]}", bytearray(imaging.encode_image(arr, "dctq")),
             rows[i][5])
        )
    all_df = enrich_images(spark.createDataFrame(
        [(r[0], r[1], r[5]) for r in rows] + planted,
        "image_id string, bytes binary, caption string",
    )).cache()
    corpus = all_df.filter(~all_df.image_id.startswith("dup_"))
    batch = all_df.filter(all_df.image_id.startswith("dup_"))

    inc = {
        (r["new_id"], r["corpus_id"]): r["hamming"]
        for r in incremental_phash_neardups(corpus, batch, 10).collect()
    }
    sym = {}
    for r in phash_near_dups(all_df, 10).collect():
        a, b = r["id_a"], r["id_b"]
        if a.startswith("dup_") != b.startswith("dup_"):
            new, old = (a, b) if a.startswith("dup_") else (b, a)
            sym[(new, old)] = r["hamming"]
    assert inc == sym
    assert len(inc) >= 4  # every planted re-encode finds its original
