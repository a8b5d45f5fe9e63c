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
            _executor_pass(index_uniform, kind, spark.createDataFrame(q), 256, lambda _q, c, _m: c, schema)
            .toPandas()
            .sort_values(cols)
            .reset_index(drop=True)
        )
        assert len(want)
        pd.testing.assert_frame_equal(got.astype(want.dtypes.to_dict()), want)


def test_large_batch_count_uses_dataframe_covers(index_uniform, points_uniform, executor_passes):
    """Above DISTRIBUTED_COVER_THRESHOLD the covers are computed and
    resolved in the executors — never collected — in exactly one pass, and
    the counts, finished on the driver, match brute force for every qid and
    the small-batch (driver-side covers) plan on the same queries."""
    from pkd_tree_spark import ranges as R

    nq = R.DISTRIBUTED_COVER_THRESHOLD + 200
    boxes = FX.box_fixtures(nq, 2)
    big = range_count_boxes(index_uniform, boxes).toPandas().set_index("qid")["cnt"]
    assert executor_passes == ["box"]
    assert big.sort_index().to_dict() == _box_oracle(points_uniform, boxes).sort_index().to_dict()
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
    """A driver-sized batch whose resolved rows would pass
    RESOLVED_BCAST_BYTES is resolved in the executors (and then
    shuffle-joined), still exact."""
    from pkd_tree_spark import ranges as R

    monkeypatch.setattr(R, "RESOLVED_BCAST_BYTES", 1000)  # 11-20 rows at these widths
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


_OPERATORS = {
    "range_count_boxes": ("box", "qid long, cnt long"),
    "range_count_balls": ("ball", "qid long, cnt long"),
    "range_count_polygons": ("polygon", "qid long, cnt long"),
    "range_report_boxes": ("box", "qid long, doc_id string, span_idx int, key long, x0 long, x1 long"),
    "range_report_balls": ("ball", "qid long, doc_id string, span_idx int, key long, x0 long, x1 long"),
    "range_report_polygons": ("polygon", "qid long, doc_id string, span_idx int, key long, x0 long, x1 long"),
}


def _queries(kind: str, nq: int) -> pd.DataFrame:
    if kind == "box":
        return FX.box_fixtures(nq, 2)
    if kind == "ball":
        return FX.ball_fixtures(nq, 2)
    return FX.diamond_fixtures(nq)[["qid", "vx", "vy"]]


@pytest.mark.parametrize("name", sorted(_OPERATORS))
def test_empty_batch_returns_typed_empty_frame(spark, index_uniform, name):
    """An empty query batch gives an empty frame with the operator's
    documented schema (spark.createDataFrame cannot infer one from it)."""
    from pkd_tree_spark import ranges as R

    kind, schema = _OPERATORS[name]
    got = getattr(R, name)(index_uniform, _queries(kind, 4).iloc[0:0])
    assert got.schema.simpleString() == spark.createDataFrame([], schema).schema.simpleString()
    assert got.count() == 0


@pytest.mark.parametrize("name", sorted(_OPERATORS))
def test_repeated_qids_raise(index_uniform, name):
    """A repeated qid would multiply covers and join rows (box qid 1 once
    counted 554 instead of 194 when boxes 0-1 were passed twice): every
    operator rejects it and names the repeated qids."""
    from pkd_tree_spark import ranges as R

    kind, _ = _OPERATORS[name]
    q = _queries(kind, 8).head(2)
    with pytest.raises(ValueError, match=r"repeats qids: \[0, 1\]"):
        getattr(R, name)(index_uniform, pd.concat([q, q], ignore_index=True))


def _jobs(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_range_jobs_per_call(spark, index_uniform, points_uniform):
    """Job-count guard on a warm index: a small range count is one Spark
    query (the boundary counts, collected) plus the read of the local
    result frame — 4 jobs; a report is one query — 2 jobs. The interior
    sums, the union, the second aggregate and the query-frame join that
    used to run in Spark (6 and 3 jobs) must not come back."""
    boxes = FX.box_fixtures(64, 2)
    range_count_boxes(index_uniform, boxes).toPandas()  # warm: skeleton memo
    n_count, got = _jobs(spark, "range-count-guard", lambda: range_count_boxes(index_uniform, boxes).toPandas())
    n_report, _ = _jobs(spark, "range-report-guard", lambda: range_report_boxes(index_uniform, boxes).toPandas())
    assert got.set_index("qid")["cnt"].to_dict() == _box_oracle(points_uniform, boxes).to_dict()
    assert n_count == 4
    assert n_report == 2


@pytest.mark.parametrize("threshold", [4000, 0], ids=["driver", "executors"])
def test_count_returns_every_qid(index_uniform, points_uniform, monkeypatch, threshold):
    """Every qid gets a row: a batch with no boundary rows (the whole
    domain, every cell interior; a box off the data) and a batch with no
    interior cells (1x1 boxes), on both resolution paths."""
    from pkd_tree_spark import ranges as R

    monkeypatch.setattr(R, "DISTRIBUTED_COVER_THRESHOLD", threshold)
    m = (1 << index_uniform.cfg.coord_bits) - 1
    whole = pd.DataFrame({"qid": [7, 3], "lo0": [0, 2_000_000], "lo1": [0, 2_000_000],
                          "hi0": [m, 3_000_000], "hi1": [m, 3_000_000]})
    assert R._plan(index_uniform, "box", whole, None, count=True)[1] is None
    assert _counts(range_count_boxes(index_uniform, whole)) == {3: 0, 7: len(points_uniform)}
    p = points_uniform.head(3)
    dots = pd.DataFrame({"qid": [10, 11, 12, 13], "lo0": [*p.x0, 5], "lo1": [*p.x1, 5],
                         "hi0": [*p.x0, 5], "hi1": [*p.x1, 5]})
    assert R._plan(index_uniform, "box", dots, None, count=True)[0].empty
    got = _counts(range_count_boxes(index_uniform, dots))
    assert got == _box_oracle(points_uniform, dots).sort_index().to_dict()
    assert min(got[10], got[11], got[12]) > 0 and got[13] == 0
