"""Range count/report vs brute-force pandas oracle (the CGAL-differential
role of tests/checkCorrectParallel.cpp:327-366)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pkd_tree_spark import fixtures as FX
from pkd_tree_spark.ranges import (
    range_count_balls,
    range_count_boxes,
    range_count_polygons,
    range_report_boxes,
)

NQ = 24


def _box_oracle(pts: pd.DataFrame, boxes: pd.DataFrame) -> pd.Series:
    out = {}
    for r in boxes.itertuples():
        m = (
            (pts.x0 >= r.lo0) & (pts.x0 <= r.hi0) & (pts.x1 >= r.lo1) & (pts.x1 <= r.hi1)
        )
        out[r.qid] = int(m.sum())
    return pd.Series(out)


def _ball_oracle(pts: pd.DataFrame, balls: pd.DataFrame) -> dict:
    return {
        r.qid: int((((pts.x0 - r.c0) ** 2 + (pts.x1 - r.c1) ** 2) <= r.r2).sum())
        for r in balls.itertuples()
    }


def _diamond_oracle(pts: pd.DataFrame, polys: pd.DataFrame) -> dict:
    return {r.qid: int(((pts.x0 - r.c0).abs() + (pts.x1 - r.c1).abs() <= r.r).sum()) for r in polys.itertuples()}


@pytest.mark.parametrize("which", ["uniform", "varden"])
def test_range_count_box(request, which):
    idx = request.getfixturevalue(f"index_{which}")
    pts = request.getfixturevalue(f"points_{which}")
    boxes = FX.box_fixtures(NQ, 2)
    got = range_count_boxes(idx, boxes).toPandas().set_index("qid")["cnt"].sort_index()
    want = _box_oracle(pts, boxes).sort_index()
    assert got.to_dict() == want.to_dict()


def test_range_count_ball(index_uniform, points_uniform):
    balls = FX.ball_fixtures(NQ, 2)
    got = range_count_balls(index_uniform, balls).toPandas().set_index("qid")["cnt"].sort_index()
    assert got.to_dict() == _ball_oracle(points_uniform, balls)


def test_range_report_multiset(index_uniform, points_uniform):
    """Sorted result multiset per box, as checkCorrectParallel.cpp:337-366."""
    boxes = FX.box_fixtures(8, 2)
    got = range_report_boxes(index_uniform, boxes).toPandas()
    for r in boxes.itertuples():
        m = (
            (points_uniform.x0 >= r.lo0)
            & (points_uniform.x0 <= r.hi0)
            & (points_uniform.x1 >= r.lo1)
            & (points_uniform.x1 <= r.hi1)
        )
        want = points_uniform[m][["key", "x0", "x1"]].sort_values(["key", "x0", "x1"]).reset_index(drop=True)
        g = got[got.qid == r.qid][["key", "x0", "x1"]].sort_values(["key", "x0", "x1"]).reset_index(drop=True)
        pd.testing.assert_frame_equal(g, want)


def test_polygon_count_vs_l1(index_uniform, points_uniform):
    """Diamond polygons == L1 balls: generic convex machinery vs direct L1."""
    polys = FX.diamond_fixtures(NQ)
    got = (
        range_count_polygons(index_uniform, polys[["qid", "vx", "vy"]])
        .toPandas()
        .set_index("qid")["cnt"]
        .sort_index()
    )
    assert got.to_dict() == _diamond_oracle(points_uniform, polys)


def test_empty_and_total_boxes(index_uniform, points_uniform):
    boxes = pd.DataFrame(
        {
            "qid": [0, 1],
            "lo0": [2_000_000, 0],
            "lo1": [2_000_000, 0],
            "hi0": [3_000_000, 1_000_000],
            "hi1": [3_000_000, 1_000_000],
        }
    )
    got = range_count_boxes(index_uniform, boxes).toPandas().set_index("qid")["cnt"]
    assert got[0] == 0
    assert got[1] == len(points_uniform)


def _counts(df) -> dict:
    return df.toPandas().set_index("qid")["cnt"].sort_index().to_dict()


def _report_rows(df) -> pd.DataFrame:
    cols = ["qid", "key", "span_idx", "x0", "x1"]
    return df.toPandas()[cols].sort_values(cols).reset_index(drop=True)


def _report_oracle(pts: pd.DataFrame, boxes: pd.DataFrame) -> pd.DataFrame:
    parts = []
    for r in boxes.itertuples():
        m = (pts.x0 >= r.lo0) & (pts.x0 <= r.hi0) & (pts.x1 >= r.lo1) & (pts.x1 <= r.hi1)
        parts.append(pts[m].assign(qid=r.qid))
    cols = ["qid", "key", "span_idx", "x0", "x1"]
    return pd.concat(parts)[cols].astype({"qid": "int64"}).sort_values(cols).reset_index(drop=True)


def _range_calls(idx):
    """Box count, ball count, polygon count and box report on one index."""
    boxes, balls = FX.box_fixtures(NQ, 2), FX.ball_fixtures(NQ, 2)
    polys = FX.diamond_fixtures(NQ)
    return (
        _counts(range_count_boxes(idx, boxes)),
        _counts(range_count_balls(idx, balls)),
        _counts(range_count_polygons(idx, polys[["qid", "vx", "vy"]])),
        _report_rows(range_report_boxes(idx, boxes.head(12))),
    )


def _oracle_calls(pts):
    boxes, balls = FX.box_fixtures(NQ, 2), FX.ball_fixtures(NQ, 2)
    return (
        _box_oracle(pts, boxes).sort_index().to_dict(),
        _ball_oracle(pts, balls),
        _diamond_oracle(pts, FX.diamond_fixtures(NQ)),
        _report_oracle(pts, boxes.head(12)),
    )


def _assert_same(got, want):
    for g, w in zip(got[:3], want[:3]):
        assert g == w
    pd.testing.assert_frame_equal(got[3], want[3], check_dtype=False)


@pytest.fixture
def executor_passes(monkeypatch):
    """Records every mapInPandas cover pass the range calls make."""
    from pkd_tree_spark import ranges as R

    seen: list[str] = []
    real = R._executor_pass

    def _rec(index, kind, *args, **kwargs):
        seen.append(kind)
        return real(index, kind, *args, **kwargs)

    monkeypatch.setattr(R, "_executor_pass", _rec)
    return seen


def test_distributed_covers_match_driver_side(index_uniform):
    """The mapInPandas cover pass (used for large query batches) must
    produce exactly the driver-side covers, for every region kind."""
    from pkd_tree_spark.index import cover_regions
    from pkd_tree_spark.ranges import _executor_pass, _regions

    spark, cfg = index_uniform.points.sparkSession, index_uniform.cfg
    cols = ["qid", "level", "cell"]
    schema = "qid long, level int, cell long, interior boolean"
    queries = {
        "box": FX.box_fixtures(50, 2),
        "ball": FX.ball_fixtures(50, 2),
        "polygon": FX.diamond_fixtures(50)[["qid", "vx", "vy"]],
    }
    for kind, q in queries.items():
        want = cover_regions(_regions(kind, q, 2), cfg, 256).sort_values(cols).reset_index(drop=True)
        got = (
            _executor_pass(index_uniform, kind, spark.createDataFrame(q), 256, lambda c, _m: c, schema)
            .toPandas()
            .sort_values(cols)
            .reset_index(drop=True)
        )
        assert len(want)
        pd.testing.assert_frame_equal(got.astype(want.dtypes.to_dict()), want)


def test_large_batch_count_uses_dataframe_covers(index_uniform, points_uniform, executor_passes):
    """Above DISTRIBUTED_COVER_THRESHOLD the covers are computed and
    resolved in the executors — never collected — and counts still match
    the small-batch (driver-side covers) plan on the same queries."""
    from pkd_tree_spark import ranges as R

    nq = R.DISTRIBUTED_COVER_THRESHOLD + 200
    boxes = FX.box_fixtures(nq, 2)
    big = range_count_boxes(index_uniform, boxes).toPandas().set_index("qid")["cnt"]
    assert executor_passes == ["box"]
    # force the driver-side path on a subset and compare
    sub = boxes.head(64)
    small = range_count_boxes(index_uniform, sub).toPandas().set_index("qid")["cnt"]
    assert executor_passes == ["box"]
    assert (big.loc[small.index] == small).all()
    assert small.to_dict() == _box_oracle(points_uniform, sub).to_dict()


def test_executor_path_matches_driver_and_brute_force(index_uniform, points_uniform, monkeypatch, executor_passes):
    """Batches above DISTRIBUTED_COVER_THRESHOLD compute covers, interior
    sums and resolved leaves in one mapInPandas pass against the broadcast
    skeleton; every kind must equal the driver path and brute force."""
    from pkd_tree_spark import ranges as R

    driver = _range_calls(index_uniform)
    assert executor_passes == []
    monkeypatch.setattr(R, "DISTRIBUTED_COVER_THRESHOLD", 8)
    executors = _range_calls(index_uniform)
    assert executor_passes == ["box", "ball", "polygon", "box"]
    _assert_same(executors, driver)
    _assert_same(executors, _oracle_calls(points_uniform))


def test_oversized_driver_resolution_takes_executor_path(index_uniform, points_uniform, monkeypatch, executor_passes):
    """A driver-sized batch whose resolution would pass RESOLVED_BCAST_ROWS
    is resolved in the executors (and then shuffle-joined), still exact."""
    from pkd_tree_spark import ranges as R

    monkeypatch.setattr(R, "RESOLVED_BCAST_ROWS", 10)
    _assert_same(_range_calls(index_uniform), _oracle_calls(points_uniform))
    assert executor_passes == ["box", "ball", "polygon", "box"]


def test_range_leaves_no_broadcast(spark, index_varden, points_varden, monkeypatch):
    """The skeleton broadcast of the executor pass is destroyed before the
    range call returns, and consuming the returned frame makes none."""
    from pyspark import SparkContext

    from pkd_tree_spark import ranges as R

    made = []
    real = SparkContext.broadcast

    def recording(self, value):
        b = real(self, value)
        made.append(b)
        return b

    monkeypatch.setattr(SparkContext, "broadcast", recording)
    monkeypatch.setattr(R, "DISTRIBUTED_COVER_THRESHOLD", 0)
    boxes = FX.box_fixtures(NQ, 2)
    res = range_count_boxes(index_varden, boxes)
    rep = range_report_boxes(index_varden, boxes.head(8))
    assert made  # the skeleton ships as a broadcast
    assert not any(b._jbroadcast.isValid() for b in made)
    assert _counts(res) == _box_oracle(points_varden, boxes).sort_index().to_dict()
    pd.testing.assert_frame_equal(_report_rows(rep), _report_oracle(points_varden, boxes.head(8)), check_dtype=False)
    assert not any(b._jbroadcast.isValid() for b in made)
