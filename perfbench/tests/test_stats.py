import math

import pytest

from common import geomean, interval_union, percentile, tail_samples


def test_percentile_interpolates_like_numpy_default():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 90) == pytest.approx(3.7)
    assert percentile([7.0], 90) == 7.0


def test_percentile_rejects_empty_sample():
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_samples_counts_strictly_beyond():
    xs = list(range(1, 101))
    assert tail_samples(xs, 90) == 10


def test_geomean():
    assert geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert geomean([2.0, 2.0, 2.0]) == pytest.approx(2.0)
    assert geomean([1.0, 2.0, 4.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        geomean([])


def test_interval_union_merges_overlaps_and_keeps_gaps():
    assert interval_union([]) == 0.0
    assert interval_union([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    # one interval nested in another counts once
    assert interval_union([(0, 10), (2, 3)]) == pytest.approx(10.0)
    assert math.isclose(interval_union([(5, 6), (1, 2)]), 2.0)


def test_tree_rss_counts_a_process_tree_once(monkeypatch):
    import common

    tree = {1: [2, 3], 3: [4]}
    statm = {1: [900, 100], 2: [50, 20], 3: [900, 100], 4: [70, 30]}
    monkeypatch.setattr(common, "_children", lambda: tree)
    monkeypatch.setattr(common, "_statm", lambda p: statm.get(p))
    page = common.os.sysconf("SC_PAGE_SIZE")
    # 3 shares 1's address space (vforked, not yet exec'd): not counted
    assert common.tree_rss_bytes(1) == (100 + 20 + 30) * page


def test_dir_usage_counts_only_matching_files(tmp_path):
    from common import dir_usage

    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "x.parquet").write_bytes(b"12345")
    (tmp_path / "a" / "_SUCCESS").write_bytes(b"")
    (tmp_path / "a" / ".x.parquet.crc").write_bytes(b"123")
    (tmp_path / "y.parquet").write_bytes(b"12")
    assert dir_usage(str(tmp_path), ".parquet") == (7, 2, 1)
    assert dir_usage(str(tmp_path)) == (10, 4, 1)
