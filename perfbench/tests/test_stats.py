"""The benchmark's statistics: tail rule, interval union, disk walk."""

import os

import pytest

from stats import clip_intervals, dir_bytes, tail_percentile, union_length


def test_tail_keeps_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = tail_percentile(values)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(v > value for v in values) == 10


def test_tail_of_twenty_is_the_median_rank():
    values = [float(i) for i in range(20, 0, -1)]  # unsorted input
    value, pct, n = tail_percentile(values)
    assert (value, pct, n) == (10.0, 50.0, 20)


def test_tail_with_too_few_samples_falls_back_to_median():
    values = [3.0, 1.0, 2.0]
    assert tail_percentile(values) == (2.0, 50.0, 3)
    with pytest.raises(ValueError):
        tail_percentile([])


def test_union_length_merges_overlaps_and_nesting():
    spans = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (5.2, 5.5), (7.0, 7.0)]
    assert union_length(spans) == pytest.approx(4.0)
    assert union_length([]) == 0.0
    assert union_length([(2.0, 4.0), (0.0, 1.0), (4.0, 5.0)]) == pytest.approx(4.0)


def test_clip_intervals():
    spans = [(0.0, 2.0), (3.0, 9.0), (10.0, 11.0)]
    assert clip_intervals(spans, 1.0, 5.0) == [(1.0, 2.0), (3.0, 5.0)]


def test_dir_bytes_counts_regular_files_only(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "x.bin").write_bytes(b"x" * 100)
    (tmp_path / "y.bin").write_bytes(b"y" * 23)
    os.symlink(tmp_path / "y.bin", tmp_path / "link.bin")
    assert dir_bytes(str(tmp_path)) == 123
    assert dir_bytes(str(tmp_path / "missing")) == 0
