"""Morton scan pre-filter: the interval computation and the emit-or-skip
rule (Spark-free), then exactness against brute force on both sides of
the rule for kNN (driver loop), range count and range report."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import pkd_tree_spark.index as I
from pkd_tree_spark import fixtures as FX
from pkd_tree_spark.knn import knn
from pkd_tree_spark.ranges import range_count_boxes, range_report_boxes

from test_knn import _kth_oracle
from test_range import _box_oracle


def _check_intervals(leaves: np.ndarray, cap: int) -> None:
    starts, ends = I.morton_intervals(leaves, cap)
    assert 1 <= starts.size <= cap
    assert (starts <= ends).all()
    assert (ends[:-1] < starts[1:]).all(), "intervals must be sorted and disjoint"
    pos = np.searchsorted(starts, leaves, side="right") - 1
    assert (pos >= 0).all() and (leaves <= ends[pos]).all(), "a leaf fell outside every interval"


@pytest.mark.parametrize("cap", [1, 2, 32])
def test_morton_intervals_capped_sorted_covering(cap):
    rng = np.random.default_rng(7)
    for n_leaves in (1, 3, 31, 33, 500, 10_000):
        leaves = np.unique(rng.integers(0, 1 << 20, size=n_leaves))
        _check_intervals(leaves, cap)
    # adjacent runs merge before any capping
    starts, ends = I.morton_intervals(np.array([5, 3, 4, 9, 10]), cap)
    if cap >= 2:
        assert starts.tolist() == [3, 9] and ends.tolist() == [5, 10]


def test_morton_intervals_cap_one_is_bounding_interval():
    leaves = np.arange(0, 20_000, 2)
    starts, ends = I.morton_intervals(leaves, 1)
    assert starts.tolist() == [0] and ends.tolist() == [19_998]


def _uniform_meta(d: int = 2, L: int = 5, per_cell: int = 10) -> dict:
    cells = np.arange(1 << (d * L), dtype=np.int64)
    return {"cells": cells, "cum": np.concatenate([[0], np.cumsum(np.full(cells.size, per_cell))])}


def test_scan_intervals_gate():
    meta = _uniform_meta()
    # leaves strided across the whole Morton range: after capping, the
    # intervals cover nearly every row, so no predicate
    assert I.scan_intervals(meta, np.arange(0, 1024, 7)) is None
    # a clustered corner set (the first 64 Morton cells = one corner
    # quadrant-of-a-quadrant, with holes) excludes most rows
    corner = np.array([c for c in range(64) if c % 3 != 1], dtype=np.int64)
    iv = I.scan_intervals(meta, corner)
    assert iv is not None
    starts, ends = iv
    assert starts.size <= I.SCAN_PRED_MAX_INTERVALS
    covered = sum(int(e - s + 1) for s, e in zip(starts, ends)) * 10
    assert covered <= (1 - I.SCAN_PRED_MIN_EXCLUDED) * int(meta["cum"][-1])
    # no memoized meta (too large to collect): never a predicate
    assert I.scan_intervals(None, corner) is None


def test_scan_intervals_counts_rows_not_leaves():
    """The rule weighs the rows under the intervals (skewed occupancy), not
    the leaf count: a few leaves holding most rows get no predicate."""
    cells = np.array([0, 1, 2, 100, 200, 300], dtype=np.int64)
    cnt = np.array([1000, 1000, 1000, 1, 1, 1])
    meta = {"cells": cells, "cum": np.concatenate([[0], np.cumsum(cnt)])}
    assert I.scan_intervals(meta, np.array([0, 1])) is None
    assert I.scan_intervals(meta, np.array([100, 200, 300])) is not None


@pytest.fixture
def decisions(monkeypatch):
    """Every scan_intervals decision made by the read paths: True where a
    predicate was emitted, False where the scan reads everything."""
    seen: list[bool] = []
    orig = I.scan_intervals

    def _rec(meta, leaves):
        iv = orig(meta, leaves)
        seen.append(iv is not None)
        return iv

    monkeypatch.setattr(I, "scan_intervals", _rec)
    return seen


def _corner_boxes(nq: int) -> pd.DataFrame:
    """Boxes inside [8k, 92k]^2 of the [0, 1e6]^2 domain: their resolved
    leaves hold far less than half of a uniform index."""
    qid = np.arange(nq, dtype=np.int64)
    c0 = 20_000 + (qid * 7919) % 60_000
    c1 = 20_000 + (qid * 104_729) % 60_000
    hw = 3_000 + (qid * 31) % 9_000
    return pd.DataFrame({"qid": qid, "lo0": c0 - hw, "hi0": c0 + hw, "lo1": c1 - hw, "hi1": c1 + hw})


def _assert_side(decisions: list[bool], emitted: bool) -> None:
    assert decisions, "no scan decision was made"
    assert all(decisions) if emitted else not any(decisions)


@pytest.mark.parametrize("side", ["corner", "spanning"])
def test_range_count_exact_both_sides(index_uniform, points_uniform, decisions, side):
    boxes = _corner_boxes(24) if side == "corner" else FX.box_fixtures(24, 2)
    got = range_count_boxes(index_uniform, boxes).toPandas().set_index("qid")["cnt"].sort_index()
    assert got.to_dict() == _box_oracle(points_uniform, boxes).sort_index().to_dict()
    _assert_side(decisions, side == "corner")


@pytest.mark.parametrize("side", ["corner", "spanning"])
def test_range_report_exact_both_sides(index_uniform, points_uniform, decisions, side):
    boxes = _corner_boxes(8) if side == "corner" else FX.box_fixtures(24, 2)
    got = range_report_boxes(index_uniform, boxes).toPandas()
    cols = ["key", "x0", "x1"]
    for r in boxes.itertuples():
        m = (
            (points_uniform.x0 >= r.lo0) & (points_uniform.x0 <= r.hi0)
            & (points_uniform.x1 >= r.lo1) & (points_uniform.x1 <= r.hi1)
        )
        want = points_uniform[m][cols].sort_values(cols).reset_index(drop=True)
        g = got[got.qid == r.qid][cols].sort_values(cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(g, want)
    _assert_side(decisions, side == "corner")


@pytest.mark.parametrize("side", ["corner", "spanning"])
def test_knn_driver_loop_exact_both_sides(index_uniform, points_uniform, decisions, side):
    if side == "corner":
        qid = np.arange(16, dtype=np.int64)
        queries = pd.DataFrame({"qid": qid, "q0": (qid * 7919) % 40_000, "q1": (qid * 104_729) % 40_000})
    else:
        queries = FX.knn_fixtures(256, 2)
    k = 10
    res = knn(index_uniform, queries, k=k).toPandas()
    got = res[res.rn == k].set_index("qid")["dist2"].to_dict()
    assert got == _kth_oracle(points_uniform, queries, k)
    if side == "corner":
        _assert_side(decisions, True)
    else:
        # round 1's shells span the domain; the straggler rounds that
        # follow pend only a few queries and may rightly filter
        _assert_side(decisions[:1], False)
