"""Dedup + similarity operator tests: LSH pipeline equals exact pairs,
simhash blocking finds planted near-dups, phash image near-dup pairs,
LSH top-k internal consistency."""

import numpy as np
from pyspark.sql import functions as F

from fundcrawler_spark import fixtures as fx
from fundcrawler_spark.functions import imaging
from fundcrawler_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    phash_near_dups,
    simhash_pairs,
)
from fundcrawler_spark.operators.similarity import brute_force_topk, lsh_topk

SF = "/root/testdata/sf0.001"


def test_lsh_equals_exact_pairs(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, threshold=0.85).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs, threshold=0.85).collect()
    }
    assert lsh == exact
    assert len(exact) > 0, "sf0.001 documents should contain planted near-dups"


def test_exact_dedup_identity(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = exact_dedup(docs)
    assert out.count() == docs.select("text").distinct().count()
    assert out.agg(F.sum("n_copies")).first()[0] == docs.count()


def test_simhash_pairs_find_planted_dups(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # planted near-dups (jaccard >= 0.85) should mostly be simhash-close
    planted = {tuple(sorted((r["id_a"], r["id_b"])))
               for r in jaccard_pairs(docs, threshold=0.9).collect()}
    found = {tuple(sorted((r["id_a"], r["id_b"])))
             for r in simhash_pairs(docs, max_hamming=6).collect()}
    if planted:
        hit = len(planted & found) / len(planted)
        assert hit >= 0.5, (hit, len(planted), len(found))


def test_phash_near_dups(spark):
    rows = fx.image_rows(24)
    # plant a near-duplicate: re-encode row 0's image lossily under a new id
    arr = imaging.decode_image(bytes(rows[0][1]), rows[0][4])
    lossy = imaging.decode_image(imaging.encode_image(arr, "dctq"), "dctq")
    dup = ("img_dup_0", None, None, None, None, None, imaging.phash64(lossy))
    df = spark.createDataFrame(
        [(r[0], r[6]) for r in rows] + [(dup[0], dup[6])],
        "image_id string, phash long",
    ).dropDuplicates(["image_id"])
    pairs = {(r["id_a"], r["id_b"]) for r in phash_near_dups(df, max_hamming=6).collect()}
    assert any(rows[0][0] in p and "img_dup_0" in p for p in pairs), pairs


def _char_jac(a: str, b: str, k: int) -> float:
    sa = {a[i:i + k] for i in range(max(len(a) - k + 1, 1))}
    sb = {b[i:i + k] for i in range(max(len(b) - k + 1, 1))}
    return len(sa & sb) / len(sa | sb)


def _word2_sim(a: str, b: str) -> float:
    sa = {tuple(a.split()[i:i + 2]) for i in range(len(a.split()) - 1)}
    sb = {tuple(b.split()[i:i + 2]) for i in range(len(b.split()) - 1)}
    return len(sa & sb) / len(sa | sb)


def test_adversarial_inword_edits_lsh_equals_exact(spark):
    """The word-shingle candidate family is blind to dense IN-WORD
    edits: such pairs keep char-3-gram jaccard >= threshold while
    word-2-shingle similarity collapses to ~0.3-0.5 (every edited word
    kills both shingles containing it). The char-5-gram family must
    carry recall here — the fixture asserts the gap really exists
    (char-jac >= 0.85, word-sim <= 0.6) and then requires the LSH
    output to equal the exact pair set."""
    rng = np.random.default_rng(42)
    letters = "abcdefghijklmnopqrstuvwxyz"

    def word():
        return "".join(rng.choice(list(letters), size=rng.integers(10, 13)))

    base = [" ".join(word() for _ in range(60)) for _ in range(40)]
    docs, planted = [], []
    for i, t in enumerate(base):
        docs.append((i, t))
    for j in range(8):  # every 5th base doc gets an in-word-edited twin
        src = base[j * 5]
        words = src.split()
        for wi in range(0, len(words), 4):  # edit one char in every 4th word
            w = list(words[wi])
            pos = int(rng.integers(1, len(w) - 1))
            w[pos] = letters[(letters.index(w[pos]) + 1) % 26]
            words[wi] = "".join(w)
        twin = " ".join(words)
        assert _char_jac(src, twin, 3) >= 0.85, _char_jac(src, twin, 3)
        assert _word2_sim(src, twin) <= 0.6, _word2_sim(src, twin)
        docs.append((1000 + j, twin))
        planted.append((j * 5, 1000 + j))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    exact = {(r["id_a"], r["id_b"]) for r in jaccard_pairs(df, 0.85).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(df, 0.85).collect()}
    assert set(planted) <= exact  # the fixture planted threshold-grade pairs
    assert lsh == exact, (sorted(exact - lsh), sorted(lsh - exact))


def test_cjk_unsegmented_neardup_lsh_equals_exact(spark):
    """On unsegmented CJK text whitespace tokenization collapses the
    word family to one whole-text shingle, so single-char edits used to
    drop recall to ~0 (ADVICE r2). The char k-gram family needs no
    whitespace: planted single/double-char-edited twins must all be
    found, and the pair set must equal the exact oracle."""
    rng = np.random.default_rng(7)

    def han(n):
        return "".join(chr(0x4E00 + int(c)) for c in rng.integers(0, 2000, n))

    base = [han(120) for _ in range(30)]
    docs = [(i, t) for i, t in enumerate(base)]
    planted = []
    for j in range(8):
        src = list(base[j * 3])
        for pos in (17, 71)[: 1 + j % 2]:  # 1-2 char edits
            src[pos] = chr(0x4E00 + (ord(src[pos]) - 0x4E00 + 7) % 2000)
        twin = "".join(src)
        assert " " not in twin and _char_jac(base[j * 3], twin, 3) >= 0.85
        docs.append((2000 + j, twin))
        planted.append((j * 3, 2000 + j))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    exact = {(r["id_a"], r["id_b"]) for r in jaccard_pairs(df, 0.85).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(df, 0.85).collect()}
    assert set(planted) <= exact
    assert lsh == exact, (sorted(exact - lsh), sorted(lsh - exact))


def test_multi_table_lsh_recall_on_perturbed_dups(spark):
    """Near-but-NOT-identical planted dups (cosine ~0.97-0.99) must all
    be found: this is the case a single AND-composed LSH bucket misses
    ~half the time — the OR-composed multi-table candidates + exact
    verify must have recall 1.0 on them."""
    from fundcrawler_spark.operators.similarity import cosine_near_dup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rows = emb.collect()
    rng = np.random.default_rng(7)
    base = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows]
    planted = []
    for vid, vec in base[::5]:  # every 5th vector gets a perturbed twin
        v = np.array(vec)
        w = v + rng.normal(0, 0.02, size=len(v))  # cosine ~0.97-0.99
        sim = float(np.dot(v, w) / (np.linalg.norm(v) * np.linalg.norm(w)))
        assert sim >= 0.95, sim
        planted.append((vid + 10000, [float(x) for x in w]))
    df = spark.createDataFrame(base + planted, "vec_id long, embedding array<double>")
    found = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_pairs(df, threshold=0.95).collect()
    }
    expect = {(vid, vid + 10000) for vid, _ in base[::5]}
    assert expect <= found, f"missed {sorted(expect - found)[:5]} of {len(expect)}"
    # precision: every reported pair really is above threshold
    V = dict(base + planted)
    for a, b in found:
        va, vb = np.array(V[a]), np.array(V[b])
        assert np.dot(va, vb) / (np.linalg.norm(va) * np.linalg.norm(vb)) >= 0.95


def test_lsh_topk_consistency(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = lsh_topk(emb, emb.filter(F.col("vec_id") < 5), k=3).collect()
    # ranks are 1..k without gaps per query, neighbors never the query
    by_q = {}
    for r in out:
        assert r["neighbor_id"] != r["query_id"]
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_brute_force_topk_matches_numpy(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rows = emb.collect()
    V = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    got = brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=3).collect()
    q = V[0] / np.linalg.norm(V[0])
    sims = sorted(
        ((float(np.dot(q, v / np.linalg.norm(v))), i) for i, v in V.items() if i != 0),
        key=lambda t: (-t[0], t[1]),
    )
    expect = [i for _, i in sims[:3]]
    assert [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"])] == expect


def test_neardup_groups_equal_union_find(spark):
    """Connected components via min-label propagation must equal a
    driver-side union-find over the exact pair set."""
    from fundcrawler_spark.operators.dedup import neardup_groups

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = [(r["id_a"], r["id_b"])
             for r in jaccard_pairs(docs, threshold=0.85).collect()]
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {i: find(i) for i in ids}
    got = {r["doc_id"]: r["group_id"] for r in neardup_groups(docs).collect()}
    assert got == expect
    assert any(v != k for k, v in got.items())  # planted dups group up


def test_ivf_topk_recall_vs_brute_force(spark):
    from fundcrawler_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {}
    for r in brute_force_topk(emb, q, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx = {}
    out = ivf_topk(emb, q, k=5).collect()  # defaults: 16c, probe 4, assign 3
    for r in out:
        assert r["neighbor_id"] != r["query_id"]
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(exact[qi] & approx.get(qi, set())) for qi in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.9, (hits, total, approx)
    # ranks contiguous per query
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ivf_recall_curve_monotone_in_n_probe(spark):
    """Recall@5 vs brute force must rise monotonically with n_probe (the
    IVF cost/recall contract) and clear documented floors at 16
    centroids / corpus_assign=1 on the deliberately IVF-adversarial
    testdata embeddings (unit-norm noise: true neighbors sit at cosine
    ~0.4-0.5, near cell boundaries). Everything is deterministic
    (splitmix-seeded k-means on an id-ordered sample), so exact floors
    are stable."""
    from fundcrawler_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {}
    for r in brute_force_topk(emb, q, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    total = sum(len(v) for v in exact.values())
    recalls = []
    for n_probe in (1, 2, 4, 8):
        approx = {}
        for r in ivf_topk(emb, q, k=5, n_centroids=16, n_probe=n_probe,
                          corpus_assign=1).collect():
            approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        recalls.append(
            sum(len(exact[qi] & approx.get(qi, set())) for qi in exact) / total
        )
    assert all(b >= a for a, b in zip(recalls, recalls[1:])), recalls
    assert recalls[2] >= 0.6 and recalls[3] >= 0.85, recalls


def test_lsh_topk_recall_on_perturbed_queries(spark):
    """Query-side recall at the threshold regime: each query is a
    perturbed corpus vector (cosine ~0.97-0.99 to its source, far above
    the organic max ~0.52), so the source is its true rank-1 neighbor.
    The OR-composed multi-table LSH must surface every source at rank 1
    — the single-AND-bucket design this replaced coin-flipped here."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rows = emb.collect()
    rng = np.random.default_rng(13)
    base = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows]
    queries = []
    for vid, vec in base[::7]:
        v = np.array(vec)
        w = v + rng.normal(0, 0.02, size=len(v))
        assert float(np.dot(v, w) / (np.linalg.norm(v) * np.linalg.norm(w))) >= 0.95
        queries.append((vid + 50000, [float(x) for x in w]))
    corpus = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    qdf = spark.createDataFrame(queries, "vec_id long, embedding array<double>")
    got = {(r["query_id"], r["rank"]): r["neighbor_id"]
           for r in lsh_topk(corpus, qdf, k=3).collect()}
    for vid, _ in base[::7]:
        assert got.get((vid + 50000, 1)) == vid, (vid, got.get((vid + 50000, 1)))


def test_crossmodal_caption_neardup_edges_merge_groups(spark):
    """Caption NEAR-dup edges (MinHash-LSH + exact jaccard verify) in
    cross-modal dedup: a planted whitespace paraphrase (jaccard 0.914)
    must merge its pixel-source component with its caption-source
    component when caption_threshold is on, and must NOT without it —
    i.e. the edge set genuinely changed, and only for planted pairs
    (closest organic caption pair sits at 0.882 < 0.9)."""
    from fundcrawler_spark.entry_queries import q_crossmodal_dedup_groups, _crossmodal_rows
    from fundcrawler_spark import fixtures as fx
    from fundcrawler_spark.functions import imaging
    from fundcrawler_spark.operators.dedup import crossmodal_dup_groups
    from fundcrawler_spark.operators.multimodal import enrich_images

    rows = fx.image_rows(64)
    engine_rows = []
    for i, b, ph, cap in _crossmodal_rows():
        if b is None:
            src = rows[int(i.split("_")[2]) * 4 + int(i.split("_")[3])]
            arr = imaging.decode_image(bytes(src[1]), src[4])
            b = bytearray(imaging.encode_image(arr, "dctq"))
        engine_rows.append((i, b, cap))
    df = spark.createDataFrame(
        engine_rows, "image_id string, bytes binary, caption string"
    )
    enriched = enrich_images(df).localCheckpoint()

    with_near = {
        r["image_id"]: r["group_id"]
        for r in crossmodal_dup_groups(enriched, 10, caption_threshold=0.9).collect()
    }
    without = {
        r["image_id"]: r["group_id"]
        for r in crossmodal_dup_groups(enriched, 10).collect()
    }
    for k in range(2):
        pix_src = rows[8 * k + 2][0]   # para_k shares pixels with this
        cap_src = rows[8 * k + 6][0]   # ...and a caption paraphrase of this
        assert with_near[f"para_{k}"] == with_near[pix_src] == with_near[cap_src]
        assert without[f"para_{k}"] == without[pix_src]
        assert without[f"para_{k}"] != without[cap_src]


def test_frozen_ann_candidates_reproduce(spark):
    """The frozen ANN candidate sets (frozen_ann.py) must equal what the
    engine's OWN Spark kernels generate at sf0.01 — a silent change to
    the plane stream, codebook sample, or bucket math fails here before
    it can desync the DuckDB oracles (scripts/freeze_ann.py)."""
    from pyspark.sql import functions as F

    from fundcrawler_spark.frozen_ann import (
        FROZEN_IVF_CANDIDATES,
        FROZEN_LSH_CANDIDATES,
    )
    from fundcrawler_spark.operators.similarity import (
        _assign_cells,
        _ivf_centroids,
        _lsh_buckets,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)

    # LSH: same bucket join as lsh_topk's candidate stage
    c = _lsh_buckets(emb, "vec_id", "neighbor_id", "embedding", 8, 12)
    qb = _lsh_buckets(q, "vec_id", "query_id", "embedding", 8, 12)
    ce = c.select("neighbor_id", F.posexplode("buckets").alias("tbl", "bucket"))
    qe = qb.select("query_id", F.posexplode("buckets").alias("tbl", "bucket"))
    lsh_pairs = sorted(
        (r["query_id"], r["neighbor_id"])
        for r in ce.join(qe, ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id").distinct().collect()
    )
    assert lsh_pairs == sorted(FROZEN_LSH_CANDIDATES)

    # IVF: same cell join as ivf_topk's candidate stage
    C = _ivf_centroids(emb, "embedding", 16, 512, 5, "vec_id")
    cc = _assign_cells(emb, "vec_id", "neighbor_id", "embedding", C, 3)
    qc = _assign_cells(q, "vec_id", "query_id", "embedding", C, 4)
    cce = cc.select("neighbor_id", F.explode("cells").alias("cell"))
    qce = qc.select("query_id", F.explode("cells").alias("cell"))
    ivf_pairs = sorted(
        (r["query_id"], r["neighbor_id"])
        for r in cce.join(qce, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id").distinct().collect()
    )
    assert ivf_pairs == sorted(FROZEN_IVF_CANDIDATES)


def test_ann_queries_match_frozen_oracle_sf001(spark):
    """Driver-mirror parity for the two ANN entries at sf0.01 (the
    driver's correctness SF): Spark query vs the frozen-candidate
    DuckDB oracle, order-insensitive value compare."""
    import duckdb
    import pandas as pd

    from fundcrawler_spark.entry_queries import QUERIES, resolve_oracle

    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                "'/root/testdata/sf0.01/embeddings.parquet'")

    def norm(df: pd.DataFrame) -> list[tuple]:
        df = df[sorted(df.columns)]
        return sorted(
            tuple("NULL" if pd.isna(v) else repr(v) for v in row)
            for row in df.itertuples(index=False, name=None)
        )

    for name in ("embedding_ann_lsh", "embedding_ann_ivf"):
        fn, sql = QUERIES[name]
        sdf = fn(spark, "/root/testdata/sf0.01").toPandas()
        odf = con.execute(resolve_oracle(sql)).df()
        assert sorted(sdf.columns) == sorted(odf.columns), name
        assert len(sdf) == len(odf), name
        assert norm(sdf) == norm(odf), name


def test_brute_force_topk_matches_pairwise_cosine_scored(spark):
    # r7: brute_force_topk streams the corpus once and scores against
    # collected queries in-kernel; ranks must equal the old shape
    # (crossJoin + per-pair cosine_scored) bit for bit
    import numpy as np
    from pyspark.sql import functions as F

    from fundcrawler_spark.operators.similarity import (
        as_double,
        brute_force_topk,
        cosine_scored,
    )
    from fundcrawler_spark.operators.topk import grouped_topk

    rng = np.random.default_rng(13)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 7)

    got = sorted(
        map(tuple, brute_force_topk(emb, queries, k=4).collect())
    )

    q = queries.select(
        F.col("vec_id").alias("query_id"), as_double(F.col("embedding")).alias("qv")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), as_double(F.col("embedding")).alias("cv")
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = cosine_scored(
        pairs, "qv", "cv", keep=[("neighbor_id", "bigint"), ("query_id", "bigint")]
    )
    want = sorted(
        map(
            tuple,
            grouped_topk(
                scored, ["query_id"], [F.col("sim").desc()], 4,
                tiebreak=["neighbor_id"],
            ).select("query_id", "neighbor_id", "rank").collect(),
        )
    )
    assert got == want
