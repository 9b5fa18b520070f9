"""Seeded inputs: the same seed gives the same inputs, another seed
other inputs; the near-dup reference is exact."""

import contextlib
import io
import itertools

import numpy as np
import pyarrow.parquet as pq

from run import ROOT
from wl_crawl import seed_rows
from wl_frontier import N_HOSTS, host_of_bucket
from wl_query import neardup_reference


def test_fund_codes_are_distinct_six_digit_and_seeded():
    rows = seed_rows(3, 500, 1)
    codes = [c for c, _, _ in rows]
    assert len(set(codes)) == 500 and all(len(c) == 6 and c.isdigit() for c in codes)
    assert [i for _, _, i in rows] == list(range(500))
    assert rows == seed_rows(3, 500, 1) and rows != seed_rows(4, 500, 1)


def test_host_sizes_follow_zipf_with_host_zero_dominant():
    hosts = host_of_bucket(9)
    counts = np.bincount(hosts, minlength=N_HOSTS)
    assert counts.argmax() == 0 and counts[0] > 2 * np.sort(counts)[-2]
    assert counts[0] > 0.15 * counts.sum()
    assert (host_of_bucket(9) == hosts).all() and not (host_of_bucket(10) == hosts).all()


def test_neardup_reference_matches_all_pairs(tmp_path):
    import sys

    sys.path.insert(0, ROOT)
    from scripts.make_scaled_sf import main as make_scaled_sf

    with contextlib.redirect_stdout(io.StringIO()):
        make_scaled_sf(str(tmp_path), 0.06)
    path = str(tmp_path / "documents.parquet")
    got = neardup_reference(path)
    docs = pq.read_table(path).to_pydict()
    grams = {d: {t[i:i + 3] for i in range(max(len(t) - 2, 1))}
             for d, t in zip(docs["doc_id"], docs["text"])}
    want = set()
    for a, b in itertools.combinations(sorted(grams), 2):
        inter = len(grams[a] & grams[b])
        jac = inter / (len(grams[a]) + len(grams[b]) - inter)
        if jac >= 0.85:
            want.add((a, b, jac))
    assert len(want) > 0
    assert set(got.itertuples(index=False, name=None)) == want
