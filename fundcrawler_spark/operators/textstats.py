"""Text-analysis operators over a documents table — pure Column
expressions (JVM-side, codegen'd), designed so a DuckDB oracle can
reproduce them exactly (no engine-specific hash functions).

Ops: token counting, quality scoring, n-gram language ID heuristic,
polynomial rolling-hash document fingerprint, character shingles.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import spread

P31 = 2147483647  # 2^31-1, keeps all polynomial math far below 2^63


def token_count(text: Column) -> Column:
    """Whitespace tokenization count; empty/blank -> 0."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(text), r"\s+"))
    )


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish count: words + digits + punctuation as separate
    tokens (a cheap BPE proxy: split on boundaries between character
    classes)."""
    pieces = F.split(F.trim(text), r"\s+|(?<=[a-zA-Z])(?=\d)|(?<=\d)(?=[a-zA-Z])|(?=[^\w\s])")
    return F.size(F.filter(pieces, lambda x: F.length(x) > 0))


def quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio features (the classic
    pretraining quality heuristics)."""
    n_chars = F.length(text)
    # literal char/substring removal via translate/replace — same
    # results as the regexp_replace forms (the patterns are literal:
    # no metacharacters, and both engines replace non-overlapping
    # occurrences left-to-right) without the per-row java.util.regex
    # machinery (guide §4.1: prefer cheaper built-ins)
    n_spaces = n_chars - F.length(F.translate(text, " ", ""))
    n_punct = n_chars - F.length(F.translate(text, ".,;:!?", ""))
    n_tokens = token_count(text)
    lower = F.lower(text)
    n_stop = sum(
        (
            F.length(lower)
            - F.length(F.replace(lower, F.lit(f" {w} "), F.lit("")))
        ) / (len(w) + 2)
        for w in ("the", "and", "of", "to", "in")
    )
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "punct_ratio": (n_punct.cast("double") / F.greatest(n_chars, F.lit(1))),
        "space_ratio": (n_spaces.cast("double") / F.greatest(n_chars, F.lit(1))),
        "stopword_hits": n_stop.cast("long"),
    }


def quality_score(text: Column) -> Column:
    """Composite [0,1]-ish score: rewards mid-length docs with normal
    punctuation and stopword density."""
    f = quality_features(text)
    len_score = F.least(f["n_chars"] / F.lit(500.0), F.lit(1.0))
    punct_ok = F.when(f["punct_ratio"] < 0.1, 1.0).otherwise(0.5)
    stop_score = F.least(f["stopword_hits"].cast("double") / F.lit(5.0), F.lit(1.0))
    return (len_score * 0.4 + punct_ok * 0.3 + stop_score * 0.3).alias("quality")


# Language-ID heuristic: stopword-marker hit counts per language.
LANG_MARKERS = {
    "en": [" the ", " and ", " is "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " la ", " est "],
    "es": [" el ", " de la ", " es "],
}


def lang_scores(text: Column) -> dict[str, Column]:
    lower = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    out = {}
    for lang, markers in LANG_MARKERS.items():
        score = None
        for m in markers:
            # occurrence count via length difference (literal marker —
            # F.replace is exact and skips the regex engine)
            c = (F.length(lower) - F.length(F.replace(lower, F.lit(m), F.lit("")))) / len(m)
            score = c if score is None else score + c
        out[lang] = score.cast("long")
    return out


def lang_guess(text: Column) -> Column:
    """argmax language by marker hits; ties + zero -> 'und'. Expressed
    as a greatest() cascade so the oracle can mirror it."""
    s = lang_scores(text)
    best = F.greatest(*s.values())
    expr = F.when(best <= 0, F.lit("und"))
    for lang in LANG_MARKERS:  # dict order = tie-break priority
        expr = expr.when(s[lang] == best, F.lit(lang))
    return expr


def char_shingles(text: Column, n: int = 3) -> Column:
    """Distinct character n-grams — array_sort'd so both engines agree
    on representation."""
    return F.array_sort(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(text) - (n - 1), F.lit(1))),
                lambda i: F.substring(text, i, n),
            )
        )
    )


def poly_hash(s: Column) -> Column:
    """Deterministic cross-engine string hash: sum of
    codepoint(char_i) * (i * 31) mod P31 — pure integer Column math,
    reproducible in DuckDB SQL (no xxhash/md5-to-int needed)."""
    return F.pmod(
        F.aggregate(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(s), F.lit(1))),
                lambda i: F.ascii(F.substring(s, i, 1)).cast("long") * (i.cast("long") * 31),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
        F.lit(P31),
    )


def horner_hash(s: Column, base: int = 131) -> Column:
    """Order-sensitive rolling string hash: Horner base-131 over
    codepoints, mod P31 at each step — same cross-engine contract as
    poly_hash but collision-resistant on short structured keys.
    poly_hash's weight ladder (codepoint_i * i * 31) is LINEAR in the
    codepoints, so digit strings collide in droves (poly('21') ==
    poly('40'); 1500 numeric ids collapse to 161 hash values) — fine
    for exact-oracled bucketing, fatal for anything that needs hash
    UNIFORMITY (HLL registers, CMS counters). Horner chaining is
    injective up to birthday collisions (~n^2/2^31). Intermediate
    values stay < 2^31 * 131 + 127 < 2^39 — exact int64 everywhere."""
    return F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(s), F.lit(1))),
            lambda i: F.ascii(F.substring(s, i, 1)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, c: F.pmod(acc * base + c, F.lit(P31)),
    )


def doc_fingerprint(text: Column) -> Column:
    """64-bit-safe rolling fingerprint of the whole document: polynomial
    hash over shingle hashes (order-sensitive base-33 rolling mix)."""
    sh = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(text) - 2, F.lit(1))),
        lambda i: F.substring(text, i, 3),
    )
    hashes = F.transform(sh, lambda g: poly_hash(g))
    return F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, h: F.pmod(acc * 33 + h, F.lit(P31)),
    )


def _gram3_hashes(t: str | None) -> np.ndarray:
    """``poly_hash`` of every 3-char gram of ``t`` as int64, the numpy
    form of ``F.transform(char_shingles(t, 3), poly_hash)``."""
    cp = np.frombuffer((t or "").encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    if len(cp) >= 3:
        # gram i = chars [i, i+3); poly weights 31*pos (1-based)
        return (31 * cp[:-2] + 62 * cp[1:-1] + 93 * cp[2:]) % P31
    # substring(t, 1, 3) of a short string is t itself; empty ->
    # ascii('') = 0 in Spark -> hash 0
    w = (np.arange(len(cp), dtype=np.int64) + 1) * 31
    return np.array([(cp * w).sum() % P31 if len(cp) else 0], dtype=np.int64)


def doc_fingerprint_kernel(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Arrow/numpy variant of ``doc_fingerprint`` — bit-identical output
    (same polynomial char hash and base-33 rolling mix mod 2^31-1), but
    vectorized instead of the interpreted JVM HOF chain (~1-5us per
    element there: 500 grams x 3 chars x 2 HOF levels per doc).

    The rolling reduce linearizes: fp = sum_i h_i * 33^(n-1-i) mod p,
    so per doc it is one weighted dot product; products stay < 2^62
    (both factors < 2^31) and the partial sum < n * p fits int64."""
    import pandas as pd

    P = P31

    def kernel(batches):
        pow33 = np.array([1], dtype=np.int64)

        def powers(n: int) -> np.ndarray:
            nonlocal pow33
            while len(pow33) < n:
                nxt = (pow33[-1] * 33) % P
                pow33 = np.append(pow33, nxt)
            return pow33[:n]

        for pdf in batches:
            fps = []
            for t in pdf[text_col]:
                h = _gram3_hashes(t)
                pw = powers(len(h))[::-1]
                fps.append(int(((h * pw) % P).sum() % P))
            yield pd.DataFrame({id_col: pdf[id_col], "fp": fps})

    return spread(
        docs.select(F.col(id_col), F.col(text_col)), F.col(id_col)
    ).mapInPandas(kernel, f"{id_col} long, fp long")


def minhash_signature(text: Column, n_hashes: int = 16) -> Column:
    """MinHash signature over 3-gram shingles using the (a*h+b) mod P31
    family with a_i = 2i+1, b_i = 7i+3 — all integer Column math, fully
    oracle-reproducible."""
    sh = char_shingles(text, 3)
    hashes = F.transform(sh, lambda g: poly_hash(g))
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda i: F.array_min(
            F.transform(
                hashes,
                lambda h: F.pmod(h * (i.cast("long") * 2 + 1) + (i.cast("long") * 7 + 3), F.lit(P31)),
            )
        ),
    )


def minhash_signature_kernel(docs: DataFrame, n_hashes: int = 16,
                             id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """Arrow/numpy variant of ``minhash_signature`` — bit-identical
    (same 3-gram poly hash and (2i+1)h+(7i+3) mod p probe family; min
    over duplicate grams equals min over the distinct set, so the
    distinct step drops out). One vectorized expression per doc instead
    of n_hashes x n_grams interpreted HOF probes."""
    import pandas as pd

    P = P31
    A = np.arange(n_hashes, dtype=np.int64) * 2 + 1
    B = np.arange(n_hashes, dtype=np.int64) * 7 + 3

    def kernel(batches):
        for pdf in batches:
            sigs = []
            for t in pdf[text_col]:
                h = _gram3_hashes(t)
                sig = ((h[None, :] * A[:, None] + B[:, None]) % P).min(axis=1)
                sigs.append(sig.tolist())
            yield pd.DataFrame({id_col: pdf[id_col], "sig": sigs})

    return spread(
        docs.select(F.col(id_col), F.col(text_col)), F.col(id_col)
    ).mapInPandas(kernel, f"{id_col} long, sig array<long>")


def word_array(text: Column) -> Column:
    """Whitespace tokens as an array, empties dropped — the shared
    tokenization for the word-n-gram ops (mirrors DuckDB
    ``list_filter(string_split(text, ' '), x -> x <> '')``)."""
    return F.filter(F.split(text, " "), lambda w: w != "")


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Word n-grams joined with single spaces; docs with fewer than
    ``n`` words yield an empty array (never a descending
    ``F.sequence`` — Spark generates DESC sequences when start > stop,
    which would silently fabricate grams)."""
    ws = word_array(text)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(ws) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(ws, i, n)),
    )
    return F.when(F.size(ws) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def simhash32(text: Column, n_bits: int = 32) -> Column:
    """32-bit SimHash over whitespace tokens hashed with poly_hash:
    bit j set iff sum over tokens of sign((token_hash >> j) & 1) > 0.
    Shift amounts must be Python ints in Spark, so the bit loop unrolls
    at plan-build time (n_bits literal terms, all JVM-side)."""
    toks = F.filter(F.split(F.lower(text), r"\s+"), lambda x: F.length(x) > 0)
    hashes = F.transform(toks, lambda t: poly_hash(t))

    def _term(j: int):
        # closure factory: Spark introspects lambda arity, so defaults
        # like `lambda acc, h, j=j` are rejected as 3-arg lambdas
        return lambda acc, h: acc + F.when(
            F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    total = F.lit(0).cast("long")
    for j in range(n_bits):
        bit_sum = F.aggregate(hashes, F.lit(0).cast("long"), _term(j))
        total = total + F.when(bit_sum > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return total


def repetition_signals(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):
    per document, the fraction of characters covered by the single most
    frequent word 2-gram (``top_2gram_char_frac``, Gopher drops docs
    over 0.20) and by word 5-grams occurring more than once
    (``dup_5gram_char_frac``, Gopher threshold 0.15). These are the
    CHARACTER-weighted repetition filters — complementary to
    ``boilerplate_ratio``'s count-based distinct ratio.

    Exactness across engines: every aggregate is an int64 count/sum/max
    (order-free), char coverage is ``occurrences × length(gram)``
    (overlaps counted per occurrence — documented Gopher-approximation,
    identical in both engines), and the only float ops are two final
    int/int divisions. The top-gram fraction needs NO argmax tie-break:
    ``max(cnt * length(gram))`` is a scalar max, deterministic by
    construction.

    100-TB shape: two explode → groupBy((doc, gram)) aggregations, both
    map-side combinable and keyed by doc_id (no cross-doc key exists,
    so gram hotness cannot skew a partition beyond one doc's size),
    then two per-doc re-aggregations and broadcast-or-shuffle left
    joins back on doc_id. No all-pairs shape, no window.
    """
    text = F.col(text_col)
    base = docs.select(
        id_col,
        F.length(text).cast("long").alias("n_chars"),
        F.size(word_array(text)).cast("long").alias("n_words"),
    )

    def gram_chars(n: int):
        g = docs.select(
            id_col, F.explode(word_ngrams(text, n=n)).alias("ng")
        )
        return g.groupBy(id_col, "ng").agg(F.count("*").alias("cnt"))

    top2 = (
        gram_chars(2)
        .groupBy(id_col)
        .agg(
            F.max(F.col("cnt") * F.length("ng").cast("long")).alias(
                "top2_chars"
            )
        )
    )
    dup5 = (
        gram_chars(5)
        .filter(F.col("cnt") >= 2)
        .groupBy(id_col)
        .agg(
            F.sum(F.col("cnt") * F.length("ng").cast("long")).alias(
                "dup5_chars"
            )
        )
    )
    denom = F.greatest(F.col("n_chars"), F.lit(1).cast("long"))
    return (
        base.join(top2, id_col, "left")
        .join(dup5, id_col, "left")
        .select(
            id_col,
            "n_chars",
            "n_words",
            F.coalesce("top2_chars", F.lit(0).cast("long")).alias(
                "top2_chars"
            ),
            F.coalesce("dup5_chars", F.lit(0).cast("long")).alias(
                "dup5_chars"
            ),
            (
                F.coalesce("top2_chars", F.lit(0).cast("long")).cast(
                    "double"
                )
                / denom
            ).alias("top_2gram_char_frac"),
            (
                F.coalesce("dup5_chars", F.lit(0).cast("long")).cast(
                    "double"
                )
                / denom
            ).alias("dup_5gram_char_frac"),
        )
    )


def char_bigrams_all(text: Column) -> Column:
    """ALL character bigrams of the document in position order,
    duplicates kept — the event stream a corpus language model counts
    (unlike ``char_ngrams``, which is the distinct shingle SET for
    dedup). Docs shorter than 2 chars yield an empty array (guarded:
    Spark fabricates DESCENDING sequences when start > stop)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.length(text) - 1),
        lambda i: F.substring(text, i, 2),
    )
    return F.when(F.length(text) >= 2, grams).otherwise(
        F.array().cast("array<string>")
    )


def lm_quality_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 10_000,
) -> DataFrame:
    """CCNet-style language-model quality score, self-trained on the
    corpus: a character-bigram LM is counted over ALL documents, then
    each document is scored by the mean fixed-point probability of its
    own bigrams. Low score = improbable character sequences = the junk
    a perplexity filter drops (CCNet, Wenzek et al. 2020 — there the
    LM is external; here it is the corpus itself, which is the
    degenerate-but-deterministic variant this sandbox can verify).

    Exactness across engines: probabilities are FIXED-POINT —
    ``q(bg) = (count(bg) * scale) div count(prefix-char)`` — so every
    per-doc aggregate is an int64 sum (order-free), and the only float
    op is one final division of two exact integers (bit-identical in
    any IEEE engine). No log(), whose last-ULP behaviour differs
    between runtimes.

    100-TB shape: the bigram count table is bounded by alphabet²
    (≤ ~1e6 rows even for wide unicode) — both count aggregations are
    map-side combinable, and the per-doc re-join broadcasts the tiny
    q table, so the whole op costs one explode + two small shuffles.
    Overflow bound: ``count(bg) * scale`` stays inside int64 until a
    single bigram exceeds ~9e14 occurrences (≈ a petabyte of that one
    bigram) — raise ``scale`` only with that bound in mind.
    """
    b = docs.select(
        id_col, F.explode(char_bigrams_all(F.col(text_col))).alias("bg")
    )
    c = b.groupBy("bg").agg(F.count("*").alias("cnt"))
    p = c.groupBy(F.substring("bg", 1, 1).alias("c1")).agg(
        F.sum("cnt").alias("pcnt")
    )
    q = c.join(
        F.broadcast(p), F.substring(F.col("bg"), 1, 1) == F.col("c1")
    ).select("bg", F.expr(f"(cnt * {int(scale)}) div pcnt").alias("q"))
    return (
        b.join(F.broadcast(q), "bg")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("q").alias("sum_q"),
            (F.sum("q").cast("double") / F.count("*")).alias("lm_score"),
        )
    )


def split_lines(text: Column) -> Column:
    """Newline split (mirrors DuckDB ``string_split(text, chr(10))``)."""
    return F.split(text, "\n")


def c4_line_gates(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """C4-style line-level quality gates (Raffel et al. 2020 §2.2):
    a line is KEPT iff it ends in terminal punctuation ([.!?]), has at
    least 5 words, and does not mention 'javascript'; the DOCUMENT is
    kept iff it retains >= 3 lines and contains neither 'lorem ipsum'
    nor a curly brace anywhere. Returns per-doc (n_lines,
    n_kept_lines, total_chars, kept_chars, kept_char_frac, doc_kept).

    Exactness across engines: every aggregate is an int64 count/sum;
    the single float op is one final int/int division (bit-equal on
    identical operands in any IEEE engine). Each engine runs its OWN
    regex/split machinery on identical inlined inputs (same contract
    as pii_redact / html_text_extract).

    100-TB shape: explode -> map-side-combinable groupBy(doc_id) — no
    cross-doc hot key is possible (the key IS the doc), no window, no
    UDF; the doc-level poison predicates are computed before the
    explode and ride along as an int column folded with max().
    """
    t = F.col(text_col)
    poisoned = (
        F.lower(t).contains("lorem ipsum") | t.contains("{")
    ).cast("int")
    lines = docs.select(
        F.col(id_col),
        poisoned.alias("poisoned"),
        F.explode(split_lines(t)).alias("line"),
    )
    kept = (
        F.col("line").rlike(r"[.!?]$")
        & (F.size(word_array(F.col("line"))) >= 5)
        & ~F.lower(F.col("line")).contains("javascript")
    ).cast("long")
    agg = (
        lines.select(
            id_col,
            "poisoned",
            kept.alias("kept"),
            F.length("line").cast("long").alias("n_chars"),
        )
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("kept").alias("n_kept_lines"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.col("kept") * F.col("n_chars")).alias("kept_chars"),
            F.max("poisoned").alias("poisoned"),
        )
    )
    return agg.select(
        id_col,
        "n_lines",
        "n_kept_lines",
        "total_chars",
        "kept_chars",
        (
            F.col("kept_chars").cast("double")
            / F.greatest(F.col("total_chars"), F.lit(1).cast("long"))
        ).alias("kept_char_frac"),
        ((F.col("n_kept_lines") >= 3) & (F.col("poisoned") == 0)).alias(
            "doc_kept"
        ),
    )


def dup_line_signals(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style WITHIN-DOCUMENT duplicate-line signals (Rae et al.
    2021 §A1.1): per doc, the fraction of lines that are repeats of an
    earlier identical line (occurrences in excess of the first —
    ``sum(cnt-1) / n_lines``) and the char-weighted analog
    ``sum((cnt-1)*len) / total_chars``. Complements the word-n-gram
    repetition_signals (those are within-line; these catch boilerplate
    repeated as whole lines, e.g. nav menus).

    Exactness: all-int aggregates, two final int/int divisions.

    100-TB shape: groupBy((doc_id, line)) then groupBy(doc_id) — both
    keyed by doc_id so no cross-doc hot key; map-side combinable; no
    window, no UDF.
    """
    lines = docs.select(
        F.col(id_col), F.explode(split_lines(F.col(text_col))).alias("line")
    )
    g = lines.groupBy(id_col, "line").agg(F.count("*").alias("cnt"))
    excess = F.when(F.col("cnt") > 1, F.col("cnt") - 1).otherwise(F.lit(0))
    agg = g.select(
        id_col,
        F.col("cnt"),
        F.length("line").cast("long").alias("len"),
        excess.alias("excess"),
    ).groupBy(id_col).agg(
        F.sum("cnt").alias("n_lines"),
        F.sum(F.col("cnt") * F.col("len")).alias("total_chars"),
        F.sum("excess").alias("dup_lines"),
        F.sum(F.col("excess") * F.col("len")).alias("dup_chars"),
    )
    return agg.select(
        id_col,
        "n_lines",
        "dup_lines",
        (F.col("dup_lines").cast("double") / F.col("n_lines")).alias(
            "dup_line_frac"
        ),
        (
            F.col("dup_chars").cast("double")
            / F.greatest(F.col("total_chars"), F.lit(1).cast("long"))
        ).alias("dup_line_char_frac"),
    )
