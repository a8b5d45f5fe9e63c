"""Range count/report vs brute-force pandas oracle (the CGAL-differential
role of tests/checkCorrectParallel.cpp:327-366)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from pkd_tree_spark import fixtures as FX
from pkd_tree_spark.config import EngineConfig
from pkd_tree_spark.index import SpatialIndex
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


def _check_box(idx, pts):
    boxes = FX.box_fixtures(NQ, 2)
    got = range_count_boxes(idx, boxes).toPandas().set_index("qid")["cnt"].sort_index()
    want = _box_oracle(pts, boxes).sort_index()
    assert got.to_dict() == want.to_dict()


def _check_ball(idx, pts):
    balls = FX.ball_fixtures(NQ, 2)
    got = range_count_balls(idx, balls).toPandas().set_index("qid")["cnt"].sort_index()
    assert got.to_dict() == _ball_oracle(pts, balls)


def _check_polygon(idx, pts):
    polys = FX.diamond_fixtures(NQ)
    got = range_count_polygons(idx, polys[["qid", "vx", "vy"]]).toPandas().set_index("qid")["cnt"].sort_index()
    assert got.to_dict() == _diamond_oracle(pts, polys)


@pytest.mark.parametrize("which", ["uniform", "varden"])
def test_range_count_box(request, which, finishes):
    _check_box(request.getfixturevalue(f"index_{which}"), request.getfixturevalue(f"points_{which}"))
    assert [k for k, _ in finishes] == ["box"]


@pytest.mark.parametrize("which", ["uniform", "varden"])
def test_range_count_box_joined(request, which, joined):
    _check_box(request.getfixturevalue(f"index_{which}"), request.getfixturevalue(f"points_{which}"))
    assert joined == []


def test_range_count_ball(index_uniform, points_uniform, finishes):
    _check_ball(index_uniform, points_uniform)
    assert [k for k, _ in finishes] == ["ball"]


def test_range_count_ball_joined(index_uniform, points_uniform, joined):
    _check_ball(index_uniform, points_uniform)
    assert joined == []


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


def test_polygon_count_vs_l1(index_uniform, points_uniform, finishes):
    """Diamond polygons == L1 balls: generic convex machinery vs direct L1."""
    _check_polygon(index_uniform, points_uniform)
    assert [k for k, _ in finishes] == ["polygon"]


def test_polygon_count_vs_l1_joined(index_uniform, points_uniform, joined):
    _check_polygon(index_uniform, points_uniform)
    assert joined == []


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
    """Job-count guard on a warm index: a small range count is one scan
    (the boundary rows, collected and finished on the driver) plus the
    read of the local result frame — 2 jobs; a report is one query — 2
    jobs. The boundary join (a broadcast job and the qid aggregate's
    stages: 4 jobs in all), and the interior sums, the union, the second
    aggregate and the query-frame join that ran in Spark before it (6 and
    3 jobs) must not come back. The index holds no driver-side rows
    (SpatialIndex.local_rows), which a range count never collects:
    test_local_rows pins the count that reads them."""
    from tests.conftest import memo_free

    ix = memo_free(index_uniform)
    boxes = FX.box_fixtures(64, 2)
    range_count_boxes(ix, boxes).toPandas()  # warm: skeleton memo
    n_count, got = _jobs(spark, "range-count-guard", lambda: range_count_boxes(ix, boxes).toPandas())
    n_report, _ = _jobs(spark, "range-report-guard", lambda: range_report_boxes(ix, boxes).toPandas())
    assert got.set_index("qid")["cnt"].to_dict() == _box_oracle(points_uniform, boxes).to_dict()
    assert n_count == 2
    assert n_report == 2
    assert ix._rows is None


def _check_every_qid(index_uniform, points_uniform, monkeypatch, threshold):
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


@pytest.mark.parametrize("threshold", [4000, 0], ids=["driver", "executors"])
def test_count_returns_every_qid(index_uniform, points_uniform, monkeypatch, threshold, finishes):
    """Every qid gets a row: a batch with no boundary rows (the whole
    domain, every cell interior; a box off the data) and a batch with no
    interior cells (1x1 boxes), on both resolution paths."""
    _check_every_qid(index_uniform, points_uniform, monkeypatch, threshold)
    # only the 1x1 boxes have boundary rows, and only the driver resolves them
    assert [k for k, _ in finishes] == (["box"] if threshold else [])


def test_count_returns_every_qid_joined(index_uniform, points_uniform, monkeypatch, joined):
    _check_every_qid(index_uniform, points_uniform, monkeypatch, 4000)
    assert joined == []


# ---------------------------------------------------------------------------
# the driver-finished count: its point test, its row order, its key width
# ---------------------------------------------------------------------------

def _near(p: np.ndarray) -> np.ndarray:
    """Every point of ``p`` (m, d) and its neighbours one unit away in each
    axis: the boundary points and the first ones on either side."""
    d = p.shape[1]
    steps = np.concatenate([np.zeros((1, d), np.int64), np.eye(d, dtype=np.int64), -np.eye(d, dtype=np.int64)])
    return (p[:, None, :] + steps[None]).reshape(-1, d)


def _parity_case(kind: str, d: int) -> tuple[pd.DataFrame, np.ndarray]:
    """(queries, points) for one region kind: seeded random regions plus a
    degenerate one, and seeded random points plus each region's vertices
    and boundary points with their unit neighbours."""
    rng = np.random.default_rng([14, d, len(kind)])
    lo = rng.integers(1_000, 500_000, (5, d))
    if kind == "box":
        hi = lo + rng.integers(0, 300_000, (5, d))
        lo, hi = np.vstack([lo, [[777] * d]]), np.vstack([hi, [[777] * d]])  # + a 1x1 box
        q = pd.DataFrame({"qid": np.arange(6) * 3, **{f"lo{j}": lo[:, j] for j in range(d)},
                          **{f"hi{j}": hi[:, j] for j in range(d)}})
        corners = np.array([[(lo if (c >> j) & 1 else hi)[:, j] for j in range(d)] for c in range(1 << d)])
        mids = (lo + hi) // 2
        faces = np.vstack([np.where(np.arange(d) == j, b[:, [j]], mids) for j in range(d) for b in (lo, hi)])
        edge = np.vstack([corners.transpose(0, 2, 1).reshape(-1, d), faces])
    elif kind == "ball":
        r = np.array([5, 13, 25, 65, 1000, 0])  # lattice points on every sphere, + r2 = 0
        c = np.vstack([lo, [[777] * d]])
        q = pd.DataFrame({"qid": np.arange(6) * 3, **{f"c{j}": c[:, j] for j in range(d)}, "r2": r * r})
        edge = []
        for c_, rr in zip(c, r.tolist()):
            for a in range(-rr, rr + 1):
                b = math.isqrt(rr * rr - a * a)
                if a * a + b * b == rr * rr:
                    for v in ([a, b], [a, -b]):
                        edge.append(c_ + np.array(v + [0] * (d - 2)))
                        edge.append(c_ + np.array([0] * (d - 2) + v))
        edge = np.array(edge)
    else:
        tri = [(0, 0), (60, 0), (0, 90)]
        quad = [(10, 10), (70, 16), (64, 76), (4, 70)]
        padded = [(0, 0), (40, 0), (40, 0), (40, 40), (0, 40)]  # a repeated vertex
        five = [(20, 0), (50, 10), (60, 40), (30, 60), (0, 30)]
        polys = [[(x + 3_000 * i, y + 5_000 * i) for x, y in p] for i, p in enumerate([tri, quad, padded, five])]
        q = pd.DataFrame({"qid": np.arange(len(polys)) * 3, "vx": [[x for x, _ in p] for p in polys],
                          "vy": [[y for _, y in p] for p in polys]})
        pts = []
        for p in polys:
            for (ax, ay), (bx, by) in zip(p, p[1:] + p[:1]):
                g = max(1, int(np.gcd(bx - ax, by - ay)))
                t = np.arange(g + 1)
                pts.append(np.stack([ax + t * (bx - ax) // g, ay + t * (by - ay) // g], axis=1))
        edge = np.vstack(pts)
    return q, np.vstack([rng.integers(0, 900_000, (300, d)), _near(edge)]).astype(np.int64)


@pytest.mark.parametrize("kind,d", [("box", 2), ("box", 3), ("ball", 2), ("ball", 3), ("polygon", 2)])
def test_inside_np_matches_exact_pred(spark, kind, d):
    """The driver-side point test equals _exact_pred row for row, on
    every (point, region) pair of _parity_case."""
    from pkd_tree_spark import ranges as R

    q, x = _parity_case(kind, d)
    qsel = np.repeat(np.arange(len(q)), len(x))
    xs = np.tile(x, (len(q), 1))
    want = R._inside_np(kind, q, qsel, xs)
    pairs = q.iloc[qsel].reset_index(drop=True).assign(
        row=np.arange(len(qsel)), **{f"x{j}": xs[:, j] for j in range(d)}
    )
    got = (
        spark.createDataFrame(pairs).select("row", R._exact_pred(kind, d).alias("inside"))
        .toPandas().sort_values("row")["inside"].to_numpy()
    )
    assert 0 < want.sum() < len(want)
    for i in range(len(q)):  # each region, the degenerate one too, has points on both sides
        assert want[qsel == i].any() and not want[qsel == i].all()
    np.testing.assert_array_equal(got, want)


@pytest.mark.parametrize("bound", ["default", "joined"])
def test_count_at_63_bit_morton_keys(spark, monkeypatch, finishes, bound):
    """dims * grid_bits = 63 with boxes touching the last leaf, whose end
    ((leaf + 1) << s) - 1 overflows int64: counts equal numpy on both sides."""
    from pkd_tree_spark import index as I

    cfg = EngineConfig(dims=3, coord_bits=21, index_level=4, knn_level=3, partitions=2)
    assert cfg.dims * cfg.grid_bits == 63
    top = 1 << 21
    rng = np.random.default_rng(63)
    x = np.vstack([rng.integers(0, top, (3000, 3)), rng.integers(top - (1 << 16), top, (1000, 3))])
    pts = pd.DataFrame({"doc_id": [f"d{i}" for i in range(len(x))], "span_idx": 0, "key": np.arange(len(x)),
                        **{f"x{j}": x[:, j] for j in range(3)}})
    ix = SpatialIndex.build(spark.createDataFrame(pts), cfg)
    lo = np.vstack([rng.integers(top - (1 << 18), top - 10, (8, 3)), rng.integers(0, top // 2, (4, 3))])
    hi = np.vstack([np.full((8, 3), top - 1), lo[8:] + (1 << 19)])
    boxes = pd.DataFrame({"qid": np.arange(12), **{f"lo{j}": lo[:, j] for j in range(3)},
                          **{f"hi{j}": hi[:, j] for j in range(3)}})
    if bound == "joined":
        monkeypatch.setattr(I, "DRIVER_FINISH_MAX_ROWS", 0)
    try:
        got = _counts(range_count_boxes(ix, boxes))
    finally:
        ix.release()
    inside = ((x[None] >= lo[:, None]) & (x[None] <= hi[:, None])).all(axis=2)
    assert got == dict(enumerate(inside.sum(axis=1).tolist()))
    assert [k for k, _ in finishes] == (["box"] if bound == "default" else [])


def test_count_on_rows_out_of_morton_order(tmp_path, spark, cfg, index_uniform, points_uniform, monkeypatch, finishes):
    """An insert appends its batch after the sorted table, so its lazy
    delete survivors stream out of Morton order, and a loaded
    PersistentIndex reads its bucket files in split order: counts on both
    equal brute force on both sides of the bound."""
    from pkd_tree_spark import index as I
    from pkd_tree_spark.updates import PersistentIndex, merge_delete, merge_insert

    batch = points_uniform.iloc[3::40].copy()
    batch["key"] = 97_000_000 + np.arange(len(batch))
    batch["doc_id"] = "ins_" + batch["key"].astype(str)
    # exact_rows deletes rows by (key, span_idx): only ids no other row shares
    gone = points_uniform[~points_uniform.duplicated(["key", "span_idx"], keep=False)].iloc[5::90]
    g = merge_insert(index_uniform, spark.createDataFrame(batch))
    dl = merge_delete(g, spark.createDataFrame(gone[["key", "span_idx", "x0", "x1"]]), exact_rows=True)
    assert not dl.points.is_cached  # a small delete leaves its survivors lazy
    live = pd.concat([points_uniform.drop(gone.index), batch])
    p = PersistentIndex(path=str(tmp_path / "idx"), cfg=cfg)
    p.write(dl)
    loaded = p.load(spark)
    boxes = FX.box_fixtures(NQ, 2)
    want = _box_oracle(live, boxes).sort_index().to_dict()
    try:
        assert _counts(range_count_boxes(dl, boxes)) == want
        assert _counts(range_count_boxes(loaded, boxes)) == want
        assert finishes == [("box", False), ("box", False)]
        monkeypatch.setattr(I, "DRIVER_FINISH_MAX_ROWS", 0)
        assert _counts(range_count_boxes(dl, boxes)) == want
        assert _counts(range_count_boxes(loaded, boxes)) == want
        assert len(finishes) == 2
    finally:
        for ix in (g, dl, loaded):
            ix.release()
