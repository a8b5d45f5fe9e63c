"""kNN vs brute-force numpy oracle (checkCorrectParallel.cpp:316-326 analog:
kth-distance equality — exact here, since all arithmetic is int64)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pkd_tree_spark import fixtures as FX
from pkd_tree_spark import index as I
from pkd_tree_spark.config import EngineConfig
from pkd_tree_spark.documents import load_points
from pkd_tree_spark.index import SpatialIndex
from pkd_tree_spark.knn import auto_knn_level, knn
from pkd_tree_spark.ranges import range_count_boxes

from tests.conftest import SF_DIR, candidate_joins


def _kth_oracle(pts: pd.DataFrame, queries: pd.DataFrame, k: int) -> dict[int, int]:
    px = pts[["x0", "x1"]].to_numpy()
    out = {}
    for r in queries.itertuples():
        d2 = ((px - np.array([r.q0, r.q1])) ** 2).sum(axis=1)
        out[r.qid] = int(np.partition(d2, k - 1)[k - 1])
    return out


@pytest.mark.parametrize("which,k", [("uniform", 1), ("uniform", 10), ("varden", 10), ("varden", 100)])
def test_knn_kth_distance(request, which, k):
    idx = request.getfixturevalue(f"index_{which}")
    pts = request.getfixturevalue(f"points_{which}")
    queries = FX.knn_fixtures(16, 2)
    res = knn(idx, queries, k=k, level=auto_knn_level(len(pts), 2)).toPandas()
    got = res[res.rn == k].set_index("qid")["dist2"].to_dict()
    want = _kth_oracle(pts, queries, k)
    assert got == want


def test_knn_ood(index_varden, points_varden):
    """OOD variant (tests/test.cpp:494-509): query points far from the
    clusters — forces multi-round ring expansion through sparse cells."""
    queries = pd.DataFrame({"qid": [0, 1, 2], "q0": [0, 999_999, 500_001], "q1": [0, 999_999, 1]})
    res = knn(index_varden, queries, k=5).toPandas()
    got = res[res.rn == 5].set_index("qid")["dist2"].to_dict()
    want = _kth_oracle(points_varden, queries.rename(columns={"q0": "q0", "q1": "q1"}), 5)
    assert got == want


def test_knn_k_exceeds_candidates_in_home_cell(index_uniform, points_uniform):
    """k larger than any single cell's population — termination must come
    from the ring bound, not luck."""
    queries = FX.knn_fixtures(4, 2)
    k = 200
    res = knn(index_uniform, queries, k=k, level=6).toPandas()
    got = res[res.rn == k].set_index("qid")["dist2"].to_dict()
    assert got == _kth_oracle(points_uniform, queries, k)


def test_uncached_index_answers_like_persisted(spark, cfg):
    """An index whose points are not cached answers kNN and range count
    exactly as the cached one: the coordinate cast must never meet a
    non-geo span, wherever the optimizer places the scans' filters. The
    uncached side runs first, on a subset no session fixture caches, so
    its scans read the documents."""
    pts = load_points(spark, SF_DIR, dims=2, dist="uniform").where(F.col("key") % 3 != 0)
    queries, boxes = FX.knn_fixtures(32, 2), FX.box_fixtures(64, 2)

    def answers(ix):
        counts = range_count_boxes(ix, boxes).toPandas().sort_values("qid", ignore_index=True)
        return _sorted(knn(ix, queries, k=10)), counts

    lazy = SpatialIndex.build(pts, cfg, persist=False)
    assert not lazy.points.storageLevel.useMemory
    got = answers(lazy)
    cached = SpatialIndex.build(pts, cfg)
    try:
        want = answers(cached)
    finally:
        cached.release()
    for g, w in zip(got, want):
        pd.testing.assert_frame_equal(g, w)


def test_knn_duplicate_points_multiset(index_uniform, points_uniform):
    """Duplicate lineitem rows produce duplicate points; they must count as
    distinct neighbors (dummy-leaf multiplicity semantics)."""
    dup_counts = points_uniform.groupby(["x0", "x1"]).size()
    assert (dup_counts > 1).any(), "fixture should contain duplicates"
    x0, x1 = dup_counts[dup_counts > 1].index[0]
    queries = pd.DataFrame({"qid": [0], "q0": [int(x0)], "q1": [int(x1)]})
    res = knn(index_uniform, queries, k=2).toPandas().sort_values("rn")
    assert res.iloc[0]["dist2"] == 0 and res.iloc[1]["dist2"] == 0


def test_knn_offgrid_shell_still_terminates(spark):
    """Regression (r4): a coarse-level boundary query whose round-2+ shell
    falls ENTIRELY off-grid must still finish via the covered-mesh rule.
    r3 broke the round loop when no shell cells survived, silently losing
    still-pending queries (and leaking the persisted empty cells frame)."""
    from pkd_tree_spark.config import EngineConfig
    from pkd_tree_spark.index import SpatialIndex

    cfg = EngineConfig(dims=2, index_level=3, knn_level=1, partitions=4)
    pts = pd.DataFrame(
        {
            "doc_id": [f"d{i}" for i in range(5)],
            "span_idx": [0] * 5,
            "key": list(range(5)),
            "x0": [0, 1, 2, 3, 4],
            "x1": [0, 1, 2, 3, 4],
        }
    )
    idx = SpatialIndex.build(spark.createDataFrame(pts), cfg)
    # far-corner query at level 1: round 1 scans the whole 2x2 grid but the
    # kth distance exceeds the block gap, so round 2's shell is fully off-grid
    q = pd.DataFrame({"qid": [0], "q0": [999_999], "q1": [999_999]})
    res = knn(idx, q, k=3, level=1, adaptive=False).toPandas()
    assert len(res) == 3
    assert res.sort_values("rn")["key"].tolist() == [4, 3, 2]


# ---------------------------------------------------------------------------
# distributed fixed-level rounds, duplicate collapse, empty index
# ---------------------------------------------------------------------------

_RESCOLS = ["qid", "rn", "key", "span_idx", "dist2"]


def _sorted(res) -> pd.DataFrame:
    return res.toPandas().sort_values(["qid", "rn"]).reset_index(drop=True)[_RESCOLS]


def _rows_stats(res, st) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Every result column, doc_id included, in (qid, rn) order, and the
    per-query stats in qid order."""
    rows = res.toPandas().sort_values(["qid", "rn"]).reset_index(drop=True)
    return rows, st.toPandas().sort_values("qid").reset_index(drop=True)


def _run_sides(monkeypatch, knn_scans, run):
    """``run()`` -> (rows, stats) first on the scan side of
    index.DRIVER_FINISH_MAX_ROWS (the shipped bound), then on its join side
    (the bound at 0). The first must finish a round from a scan and the
    second none; both must return identical rows and stats. Returns the
    scan side's."""
    scan = run()
    n = len(knn_scans)
    assert n, "no driver round was finished from a scan"
    monkeypatch.setattr(I, "DRIVER_FINISH_MAX_ROWS", 0)
    join = run()
    assert len(knn_scans) == n, "a round past the bound was finished from a scan"
    for a, b in zip(scan, join):
        pd.testing.assert_frame_equal(a, b)
    return scan


@pytest.mark.parametrize("grain", ["coarse", "fine"])
def test_knn_distributed_fixed_level_matches_driver(request, cfg, monkeypatch, grain):
    """A fixed level through the distributed rounds only (the handoff size
    patched to 0) must match the driver rounds exactly. Coarse shells
    (level <= index_level) resolve to lvl == -1 leaf rows only, which take
    the no-generate leaf equi-join; fine shells (level > index_level)
    survive as their own cells behind the skeleton's occupancy checks."""
    import pkd_tree_spark.knn as K

    idx = request.getfixturevalue("index_uniform" if grain == "coarse" else "index_varden")
    lvl = 4 if grain == "coarse" else cfg.index_level + 2
    queries = FX.knn_fixtures(16, 2)
    want = _sorted(knn(idx, queries, k=10, level=lvl, adaptive=False))
    monkeypatch.setattr(K, "DRIVER_CELLS_MAX_QUERIES", 0)
    with candidate_joins() as plans:
        got = _sorted(knn(idx, queries, k=10, level=lvl, adaptive=False))
    pd.testing.assert_frame_equal(got, want)
    assert plans, "the spy should capture at least one round"
    if grain == "coarse":
        for p in plans:
            assert set(p["lvl_counts"]) <= {-1}, p["lvl_counts"]
    else:
        assert any(lv > cfg.index_level for p in plans for lv in p["lvl_counts"]), plans


def _lattice(spark):
    """sf0.001 uniform points folded onto a 10 x 10 lattice of positions."""
    pts = load_points(spark, SF_DIR, dims=2, dist="uniform")
    return pts.select(
        "doc_id", "span_idx", "key",
        *[(F.col(f"x{j}") % 10 * 99_991).alias(f"x{j}") for j in range(2)],
    )


def test_knn_pruned_duplicate_collapse(spark, cfg, knn_scans):
    """Dummy-leaf duplicate collapse (build_tree.hpp:183-186): on a
    duplicate-heavy lattice the pruned candidate table must engage, shrink
    the scan, and stay multiset-exact vs the raw path — including after a
    cap upgrade (second call with larger k rebuilds the pruned table)."""
    lattice = _lattice(spark)
    idx = SpatialIndex.build(lattice, cfg)
    raw = SpatialIndex.build(lattice, cfg)
    object.__setattr__(raw, "_pruned", "refused")
    queries = FX.knn_fixtures(16, 2)
    res = knn(idx, queries, k=10)
    got = _sorted(res)
    assert isinstance(idx._pruned, tuple), "pruned table should engage on the lattice"
    _assert_doc_ids(res, idx)  # the pruned table carries doc_id to the driver rounds
    n_full, n_pruned = idx.points.count(), idx._pruned[0].count()
    assert n_pruned < n_full
    # the collapse must be the JVM window form with the map-side partial
    # top-cap (r5's Arrow pass pd.concat'ed whole partitions and
    # anti-scaled); Partial = at most cap rows per position cross the
    # exchange, since duplicate groups are partition-local after build
    plan = idx._pruned[0]._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan
    pd.testing.assert_frame_equal(got, _sorted(knn(raw, queries, k=10)))
    # cap upgrade: k=20 > PRUNE_CAP_MIN forces a rebuild with cap=20
    got20 = _sorted(knn(idx, queries, k=20))
    assert idx._pruned[1] >= 20
    pd.testing.assert_frame_equal(got20, _sorted(knn(raw, queries, k=20)))
    assert knn_scans  # the driver rounds finished from scans of the pruned table


def test_knn_pruned_duplicate_collapse_joined(spark, cfg, monkeypatch, knn_scans):
    """The pruned table on both sides of the bound: identical rows, doc_id
    included, and identical stats."""
    idx = SpatialIndex.build(_lattice(spark), cfg)
    queries = FX.knn_fixtures(16, 2)
    try:
        _run_sides(monkeypatch, knn_scans, lambda: _rows_stats(*knn(idx, queries, k=10, return_stats=True)))
        assert isinstance(idx._pruned, tuple)
    finally:
        idx.release()


@pytest.mark.parametrize("outcome", ["occupancy", "estimate", "spread", "build"])
def test_knn_pruned_gate_outcomes(spark, cfg, outcome):
    """Each side of the duplicate-collapse gates, with the Spark jobs its
    decision costs on a memoized skeleton:
      occupancy  ~1 point per occupied cell, below PRUNE_MIN_DUP_FACTOR
                 from the skeleton alone: 0 jobs;
      estimate   ~6 points per cell, nearly all at distinct positions:
                 the approx_count_distinct probe refuses, 2 jobs;
      spread     every position exactly twice: dup factor 2 passes the
                 estimate, and the spread probe finds nothing to collapse
                 under cap 16 (more than PRUNE_KEEP_RATIO stays): 2+ jobs;
      build      the lattice: the pruned table is built.
    kNN over the decision equals the raw path."""
    from pyspark.sql import functions as F
    from pkd_tree_spark.config import EngineConfig
    from pkd_tree_spark.documents import load_points
    from pkd_tree_spark.index import SpatialIndex
    from tests.conftest import SF_DIR, job_sites

    pts = load_points(spark, SF_DIR, dims=2, dist="uniform")
    c = cfg
    if outcome == "occupancy":
        pts = pts.where(F.col("key") % 2 == 0)
        c = EngineConfig(dims=2, index_level=9, knn_level=8, partitions=8)
    elif outcome == "spread":
        once = pts.dropDuplicates(["x0", "x1"])
        pts = once.unionByName(once.withColumn("key", F.col("key") + 1_000_000_000))
    elif outcome == "build":
        pts = pts.select("doc_id", "span_idx", "key", *[(F.col(f"x{j}") % 10 * 99_991).alias(f"x{j}") for j in range(2)])
    idx = SpatialIndex.build(pts, c)
    idx.meta_np()
    _, jobs = job_sites(spark, f"prune-gate-{outcome}", lambda: idx.pruned_points(10))
    assert isinstance(idx._pruned, tuple) if outcome == "build" else idx._pruned == "refused"
    if outcome in ("occupancy", "estimate"):
        assert len(jobs) == {"occupancy": 0, "estimate": 2}[outcome], jobs
    elif outcome == "spread":
        assert len(jobs) > 2, jobs
    raw = SpatialIndex(points=idx.points, meta=idx.meta, cfg=c, _pruned="refused")
    queries = FX.knn_fixtures(16, 2)
    pd.testing.assert_frame_equal(_sorted(knn(idx, queries, k=10)), _sorted(knn(raw, queries, k=10)))


def test_knn_empty_index_fine_level(spark, cfg):
    """ADVICE r4 (knn.py:323): a query at level > index_level against an
    EMPTY index must produce zero rows, not IndexError inside mapInPandas."""
    from pyspark.sql import functions as F
    from pkd_tree_spark.documents import load_points
    from pkd_tree_spark.index import SpatialIndex

    pts = load_points(spark, "/root/testdata/sf0.001", dims=2, dist="uniform")
    empty = SpatialIndex.build(pts.where(F.lit(False)), cfg)
    res = knn(empty, FX.knn_fixtures(4, 2), k=3, level=cfg.index_level + 2, adaptive=False)
    assert res.count() == 0


def test_knn_driver_loop_window_reduction_matches_raw(index_varden, monkeypatch, knn_joined):
    """r7 driver ring loop: rounds past index.DRIVER_FINISH_MAX_ROWS (here
    every round: the bound at 0) whose estimated candidate volume exceeds
    DRIVER_COLLECT_MAX_ROWS reduce per-query top-k in Spark before the
    collect. Forcing the reduction (cap=0 after the exact-count downgrade
    is also disabled) must give byte-identical results to the raw path."""
    import pkd_tree_spark.knn as K

    queries = FX.knn_fixtures(16, 2)
    want = _sorted(knn(index_varden, queries, k=10))
    monkeypatch.setattr(K, "DRIVER_COLLECT_MAX_ROWS", 0)
    got = _sorted(knn(index_varden, queries, k=10))
    pd.testing.assert_frame_equal(got, want)
    assert knn_joined == []


@pytest.mark.parametrize("which", ["uniform", "varden"])
def test_knn_handoff_size_invariance(request, which, monkeypatch):
    """The ring loop hands its pending set from the distributed rounds to
    the driver rounds once it is at most DRIVER_CELLS_MAX_QUERIES: never
    (0), mid-batch (8) or before round 1 (the default, for 32 queries).
    Rows and per-query (rounds, cand_rows) must not depend on where."""
    import pkd_tree_spark.knn as K

    idx = request.getfixturevalue(f"index_{which}")
    queries = FX.knn_fixtures(32, 2)
    entered: list[int] = []
    real = K._knn_driver

    def spy(index, st, carried, k, rnd0, *args):
        entered.append(rnd0)
        return real(index, st, carried, k, rnd0, *args)

    monkeypatch.setattr(K, "_knn_driver", spy)
    runs = {}
    for size in (0, 8, K.DRIVER_CELLS_MAX_QUERIES):
        entered.clear()
        monkeypatch.setattr(K, "DRIVER_CELLS_MAX_QUERIES", size)
        res, st = knn(idx, queries, k=10, return_stats=True)
        runs[size] = (_sorted(res), st.toPandas().sort_values("qid").reset_index(drop=True), list(entered))
    (a, sa, ea), (b, sb, eb), (c, sc, ec) = runs.values()
    assert ea == [] and ec == [1]
    assert len(eb) == 1 and eb[0] > 1, eb  # handed off mid-batch
    assert len(a) == 32 * 10
    for got, st in ((b, sb), (c, sc)):
        pd.testing.assert_frame_equal(got, a)
        pd.testing.assert_frame_equal(st, sa)


def test_knn_leaves_no_broadcast(spark, index_varden, monkeypatch):
    """Every broadcast the distributed rounds make is destroyed before kNN
    returns, and consuming the returned frame makes none."""
    from pyspark import SparkContext

    import pkd_tree_spark.knn as K

    made = []
    real = SparkContext.broadcast

    def recording(self, value):
        b = real(self, value)
        made.append(b)
        return b

    monkeypatch.setattr(SparkContext, "broadcast", recording)
    monkeypatch.setattr(K, "DRIVER_CELLS_MAX_QUERIES", 0)
    res, st = knn(index_varden, FX.knn_fixtures(16, 2), k=10, return_stats=True)
    assert made  # the skeleton ships as a broadcast
    assert not any(b._jbroadcast.isValid() for b in made)
    assert len(res.toPandas()) == 16 * 10 and len(st.toPandas()) == 16
    assert not any(b._jbroadcast.isValid() for b in made)


def _driver_round_jobs(spark, index, tag: str):
    """(ring rounds, Spark jobs of the kNN call, jobs of reading its
    result) for a warm 32-query pandas batch, counted under job groups
    named after ``tag``."""
    queries = FX.knn_fixtures(32, 2)
    knn(index, queries, k=10)  # warm: skeleton memo, pruned-table decision
    sc = spark.sparkContext

    def jobs_of(group: str, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    (res, st), n_knn = jobs_of(f"knn-job-guard-{tag}", lambda: knn(index, queries, k=10, return_stats=True))
    out, n_read = jobs_of(f"knn-read-guard-{tag}", res.toPandas)
    assert len(out) == 32 * 10 and out["doc_id"].notna().all()
    return int(st.toPandas()["rounds"].max()), n_knn, n_read


def test_knn_driver_loop_jobs_per_round(spark, index_uniform, knn_scans):
    """Job-count guard: on a warm index a pandas batch in the driver rounds
    runs ONE Spark job per ring round within index.DRIVER_FINISH_MAX_ROWS:
    the pre-filtered scan of the candidate table, collected through Arrow
    (the shells meet their rows in numpy). The rows, doc_id included, are
    finished on the driver, so reading the result costs exactly one job
    (its local relation's scan)."""
    rounds, n_knn, n_read = _driver_round_jobs(spark, index_uniform, "scan")
    assert rounds == 2
    assert len(knn_scans) == 2 * rounds  # the warm-up call's rounds too
    assert n_knn == rounds
    assert n_read == 1


def test_knn_driver_loop_jobs_per_round_joined(spark, index_uniform, knn_joined):
    """Past the bound (at 0 here) a driver round runs two Spark jobs at
    this shape (one coarse leaf join per round), both under the round's
    candidate collect. The first is the BroadcastExchange of the local
    cell relation: createDataFrame plans the pandas cells as a
    LocalTableScan, whose rows the broadcast collects in a job of its own
    (min(rows, defaultParallelism) tasks). The second scans the points,
    probes the broadcast and runs the Arrow collect. Reading the result
    still costs one job."""
    rounds, n_knn, n_read = _driver_round_jobs(spark, index_uniform, "joined")
    assert rounds == 2
    assert n_knn == 2 * rounds
    assert n_read == 1
    assert knn_joined == []


def test_knn_cells_join_over_gate_equivalence(spark, cfg, index_varden):
    """r7: cell relations over CELLS_BCAST_ROWS take a shuffled join
    instead of a driver-built broadcast (the broadcast relation build is
    serial and was the 38.4M varden round-1 bottleneck). Forcing the
    shuffled path at a tiny size must give byte-identical rows AND stats
    to the broadcast path."""
    import unittest.mock as mock

    import pkd_tree_spark.knn as K

    queries = FX.knn_fixtures(32, 2)
    with mock.patch.object(K, "DRIVER_CELLS_MAX_QUERIES", -1):
        res_a, st_a = knn(index_varden, queries, k=10, return_stats=True)
        a, sa = _sorted(res_a), st_a.toPandas().sort_values("qid").reset_index(drop=True)
        with mock.patch.object(K, "CELLS_BCAST_ROWS", 0):
            res_b, st_b = knn(index_varden, queries, k=10, return_stats=True)
            b, sb = _sorted(res_b), st_b.toPandas().sort_values("qid").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    pd.testing.assert_frame_equal(sa, sb)


def test_knn_driver_count_then_collect_matches_raw(index_varden, monkeypatch, knn_joined):
    """The middle rung of _knn_driver's collect ladder, which rounds past
    index.DRIVER_FINISH_MAX_ROWS take (here every round: the bound at 0):
    the metadata estimate is over DRIVER_COLLECT_MAX_ROWS (forced through
    _cand_estimate) while the exact count is under it, so each round runs
    one exact per-qid count and then collects its candidates raw. Rows and
    stats must equal the raw path's, at one more collect per round and
    with no window top-k (the third rung)."""
    from unittest import mock

    import pkd_tree_spark.knn as K

    queries = FX.knn_fixtures(32, 2)
    knn(index_varden, queries, k=10)  # warm: skeleton memo, pruned-table decision
    cls = type(index_varden.points)
    real = cls.toPandas

    def run():
        windows: list[bool] = []

        def recording(self):
            windows.append("Window" in self._jdf.queryExecution().optimizedPlan().toString())
            return real(self)

        with mock.patch.object(cls, "toPandas", recording):
            res, st = knn(index_varden, queries, k=10, return_stats=True)
        return _sorted(res), st.toPandas().sort_values("qid").reset_index(drop=True), windows

    raw, raw_st, raw_collects = run()
    monkeypatch.setattr(K, "_cand_estimate", lambda *a: K.DRIVER_COLLECT_MAX_ROWS + 1)
    got, got_st, collects = run()
    rounds = int(raw_st["rounds"].max())
    assert raw_collects == [False] * rounds
    assert collects == [False] * (2 * rounds)
    pd.testing.assert_frame_equal(got, raw)
    pd.testing.assert_frame_equal(got_st, raw_st)
    assert knn_joined == []


# ---------------------------------------------------------------------------
# high dimension: mesh rounds, then the exhaustive round; BROADCAST_BYTES
# ---------------------------------------------------------------------------

_D = 7


@pytest.fixture(scope="module")
def index_7d(spark):
    """2000 uniform random 7-d points and 8 queries. At the fixed level 3
    a query's rings r = 1, 2 run offset meshes (3^7, 5^7 cells) and r = 4
    would need 9^7 > 2^MESH_CAP_LOG2, so a query still pending then takes
    the exhaustive round."""
    from pkd_tree_spark.config import EngineConfig

    rng = np.random.default_rng(16)
    x, q = rng.integers(0, 1 << 20, size=(2000, _D)), rng.integers(0, 1 << 20, size=(8, _D))
    pts = pd.DataFrame({
        "doc_id": [f"d{i}" for i in range(len(x))], "span_idx": 0, "key": np.arange(len(x)),
        **{f"x{j}": x[:, j] for j in range(_D)},
    })
    queries = pd.DataFrame({"qid": np.arange(len(q)), **{f"q{j}": q[:, j] for j in range(_D)}})
    cfg = EngineConfig(dims=_D, index_level=2, knn_level=3, partitions=4)
    idx = SpatialIndex.build(spark.createDataFrame(pts), cfg)
    yield idx, pts, queries
    idx.release()


def _brute_nd(pts: pd.DataFrame, queries: pd.DataFrame, k: int, d: int = _D) -> pd.DataFrame:
    """numpy brute force in (dist2, key, span_idx) order, as _sorted lays out."""
    x = pts[[f"x{j}" for j in range(d)]].to_numpy(np.int64)
    rows = []
    for qid, *q in queries[["qid", *[f"q{j}" for j in range(d)]]].itertuples(index=False):
        d2 = ((x - np.array(q)) ** 2).sum(axis=1)
        top = np.lexsort((pts["span_idx"], pts["key"], d2))[:k]
        rows += [(qid, rn, pts["key"].iat[i], pts["span_idx"].iat[i], d2[i]) for rn, i in enumerate(top, 1)]
    return pd.DataFrame(rows, columns=_RESCOLS).astype("int64")


def _knn_7d(idx, queries, monkeypatch):
    """kNN at level 3 with the round's exhaustive query counts and the
    executed plan of each exhaustive part."""
    import pkd_tree_spark.knn as K

    exh: list[tuple[int, str]] = []
    real = K._exhaustive_part

    def spy(pts_narrow, exq, n_exq, *args):
        part = real(pts_narrow, exq, n_exq, *args)
        exh.append((n_exq, part._jdf.queryExecution().executedPlan().toString()))
        return part

    with monkeypatch.context() as m:
        m.setattr(K, "_exhaustive_part", spy)
        res, st = knn(idx, queries, k=5, level=3, adaptive=False, return_stats=True)
    return _sorted(res), st.toPandas().sort_values("qid").reset_index(drop=True), exh


@pytest.mark.parametrize("loop", ["driver", "distributed"])
def test_knn_7d_exhaustive_round_matches_brute_force(index_7d, monkeypatch, loop):
    """Mesh rounds then the exhaustive round, in the driver rounds and in
    the distributed rounds (DRIVER_CELLS_MAX_QUERIES at 0), against numpy
    brute force."""
    import pkd_tree_spark.knn as K

    idx, pts, queries = index_7d
    if loop == "distributed":
        monkeypatch.setattr(K, "DRIVER_CELLS_MAX_QUERIES", 0)
    got, st, exh = _knn_7d(idx, queries, monkeypatch)
    pd.testing.assert_frame_equal(got, _brute_nd(pts, queries, 5))
    assert exh and st["rounds"].max() == 3, (exh, st)


@pytest.mark.parametrize("loop", ["driver", "distributed"])
def test_knn_over_broadcast_budget_matches(index_7d, monkeypatch, loop):
    """Both sides of BROADCAST_BYTES. Within it the exhaustive query side
    is broadcast (a BroadcastNestedLoopJoin); at 0 it takes the
    shuffle_replicate_nl hint, a CartesianProduct, and never a
    BroadcastNestedLoopJoin (VERDICT r6 #5). In the distributed rounds the
    mesh rounds' query side then joins unhinted as well. Rows and stats
    must not change."""
    import pkd_tree_spark.knn as K

    idx, _, queries = index_7d
    if loop == "distributed":
        monkeypatch.setattr(K, "DRIVER_CELLS_MAX_QUERIES", 0)
    want, want_st, exh_in = _knn_7d(idx, queries, monkeypatch)
    monkeypatch.setattr(K, "BROADCAST_BYTES", 0)
    got, got_st, exh_over = _knn_7d(idx, queries, monkeypatch)
    pd.testing.assert_frame_equal(got, want)
    pd.testing.assert_frame_equal(got_st, want_st)
    assert exh_in and all("BroadcastNestedLoopJoin" in p for _, p in exh_in)
    assert exh_over and all("CartesianProduct" in p and "BroadcastNestedLoopJoin" not in p for _, p in exh_over)


# ---------------------------------------------------------------------------
# doc_id on every path; the exact block termination bound
# ---------------------------------------------------------------------------


def _assert_doc_ids(res, idx) -> None:
    """Every result row's doc_id is that point's doc_id in index.points."""
    out = res.toPandas()
    ids = idx.points.select("key", "doc_id").distinct().toPandas()
    assert not ids["key"].duplicated().any()  # key -> doc_id is functional
    assert len(out) and out["doc_id"].notna().all()
    want = out["key"].map(ids.set_index("key")["doc_id"])
    assert (out["doc_id"] == want).all()


@pytest.mark.parametrize("max_driver", ["default", 0], ids=["driver_only", "distributed_only"])
def test_knn_doc_id_matches_points(index_varden, monkeypatch, knn_scans, max_driver):
    """doc_id of rows finished in driver rounds (the scanned rows of those
    entering a top-k) and in distributed rounds (re-attached by key)."""
    import pkd_tree_spark.knn as K

    if max_driver == 0:
        monkeypatch.setattr(K, "DRIVER_CELLS_MAX_QUERIES", 0)
    _assert_doc_ids(knn(index_varden, FX.knn_fixtures(16, 2), k=10), index_varden)
    assert bool(knn_scans) == (max_driver == "default")


def test_knn_doc_id_matches_points_joined(index_varden, monkeypatch, knn_scans):
    """Driver rounds on both sides of the bound: the join side collects
    doc_id with its candidates, and both give identical rows and stats."""
    queries = FX.knn_fixtures(16, 2)

    def run():
        res, st = knn(index_varden, queries, k=10, return_stats=True)
        _assert_doc_ids(res, index_varden)
        return _rows_stats(res, st)

    _run_sides(monkeypatch, knn_scans, run)


def _handoff_run(cfg, index, monkeypatch):
    """k=20 kNN where every query is still pending when the distributed
    rounds hand off: a fine fixed level leaves every query short of k after
    round 1, and the handoff size rises once round 1 has passed its check,
    so round 2 starts on the driver with carried entries. Returns the
    result, its stats and the queries."""
    import pkd_tree_spark.knn as K

    queries = FX.knn_fixtures(16, 2)
    real_join, real_driver = K._candidate_join, K._knn_driver
    handoffs: list = []

    def spy(index, st, carried, k, rnd0, *args):
        handoffs.append((len(st), len(carried), rnd0))
        return real_driver(index, st, carried, k, rnd0, *args)

    with monkeypatch.context() as m:

        def join_then_hand_off(*args, **kwargs):
            m.setattr(K, "DRIVER_CELLS_MAX_QUERIES", 1 << 20)
            return real_join(*args, **kwargs)

        m.setattr(K, "DRIVER_CELLS_MAX_QUERIES", 0)
        m.setattr(K, "_candidate_join", join_then_hand_off)
        m.setattr(K, "_knn_driver", spy)
        res, st = knn(index, queries, k=20, level=cfg.index_level + 2, adaptive=False, return_stats=True)
    [(n_st, n_carried, rnd0)] = handoffs
    assert (n_st, rnd0) == (16, 2) and n_carried > 0, handoffs
    return res, st, queries


def test_knn_doc_id_carried_across_handoff(cfg, index_uniform, points_uniform, monkeypatch, knn_scans):
    """Every query is still pending when the distributed rounds hand off,
    so no distributed round finishes a row and every row is finished on
    the driver; the top-k entries carried across the handoff leave the
    distributed rounds without a doc_id and must still get theirs."""
    res, _, queries = _handoff_run(cfg, index_uniform, monkeypatch)
    assert knn_scans  # the driver rounds after the handoff finished from scans
    _assert_doc_ids(res, index_uniform)
    got = res.toPandas()
    assert len(got) == 16 * 20
    assert got[got.rn == 20].set_index("qid")["dist2"].to_dict() == _kth_oracle(points_uniform, queries, 20)


def test_knn_doc_id_carried_across_handoff_joined(cfg, index_uniform, monkeypatch, knn_scans):
    """The driver rounds after the handoff on both sides of the bound:
    carried entries get their doc_id on either, and rows and stats are
    identical."""

    def run():
        res, st, _ = _handoff_run(cfg, index_uniform, monkeypatch)
        _assert_doc_ids(res, index_uniform)
        return _rows_stats(res, st)

    _run_sides(monkeypatch, knn_scans, run)


# level-2 cells of the default 2^20 coordinate grid are W wide; a query at
# the centre of home cell (1, 1) has scanned the block [0, 3W - 1]^2 after
# round 1, whose boundary lies GAP = 1.5W away (q - lo = 1.5W, hi - q + 1 =
# 1.5W), while the worst-placement bound r*W is only W
_W = 1 << 18
_GAP = 3 * _W // 2
_Q = _W + _W // 2


def _tiny_index(spark, xy: list[tuple[int, int]]):
    from pkd_tree_spark.config import EngineConfig
    from pkd_tree_spark.index import SpatialIndex

    pts = pd.DataFrame({
        "doc_id": [f"d{i}" for i in range(len(xy))], "span_idx": [0] * len(xy),
        "key": list(range(len(xy))), "x0": [p[0] for p in xy], "x1": [p[1] for p in xy],
    })
    cfg = EngineConfig(dims=2, index_level=3, knn_level=2, partitions=4)
    return SpatialIndex.build(spark.createDataFrame(pts), cfg), pts


def _brute(pts: pd.DataFrame, q: tuple[int, int], k: int) -> list[tuple[int, int, int]]:
    d2 = (pts["x0"] - q[0]) ** 2 + (pts["x1"] - q[1]) ** 2
    rows = sorted(zip(d2.tolist(), pts["key"].tolist(), pts["span_idx"].tolist()))[:k]
    return [(key, sp, dd) for dd, key, sp in rows]


def _tie_case(spark):
    """After round 1 the k-th distance equals the block gap exactly, and
    two UNSCANNED points (just past the block, one per dimension) tie with
    it at smaller keys."""
    xy = [
        (3 * _W, _Q), (_Q, 3 * _W),  # keys 0, 1: outside the block, at GAP
        (3 * _W + 5, 3 * _W + 5), (900_000, 10),  # keys 2, 3: far
        (0, _Q), (0, _Q),  # keys 4, 5: duplicates inside the block, at GAP
        (_Q + 7, _Q - 3),  # key 6: inside, near
    ]
    return _tiny_index(spark, xy), 3


def _centre_case(spark):
    """A query at the centre of its home cell whose k-th neighbour lies
    between r*w and the block gap."""
    dd = 6 * _W // 5  # W < dd < GAP
    xy = [(_Q - dd, _Q), (_Q, _Q - dd), (_Q + dd, _Q), (_Q, _Q + dd), (1_000_000, 1_000_000)]
    return _tiny_index(spark, xy), 4


def _centre_query(idx, k: int):
    res, st = knn(idx, pd.DataFrame({"qid": [0], "q0": [_Q], "q1": [_Q]}), k=k, level=2,
                  adaptive=False, return_stats=True)
    return _rows_stats(res, st)


@pytest.mark.parametrize("loop", ["driver", "distributed"])
def test_knn_block_bound_tie_with_smaller_key(spark, monkeypatch, knn_scans, loop):
    """The tie case: the bound is strict (kth < gap^2), so the query must
    take round 2 and return the unscanned points in (dist2, key, span_idx)
    order."""
    import pkd_tree_spark.knn as K

    (idx, pts), k = _tie_case(spark)
    if loop == "distributed":
        monkeypatch.setattr(K, "DRIVER_CELLS_MAX_QUERIES", 0)
    got, st = _centre_query(idx, k)
    assert list(zip(got["key"], got["span_idx"], got["dist2"])) == _brute(pts, (_Q, _Q), k)
    assert got["key"].tolist() == [6, 0, 1] and got["dist2"].tolist()[1:] == [_GAP**2] * 2
    assert st["rounds"].tolist() == [2]
    assert bool(knn_scans) == (loop == "driver")


def test_knn_block_bound_tie_with_smaller_key_joined(spark, monkeypatch, knn_scans):
    """The tie case's driver rounds on both sides of the bound: identical
    rows and stats."""
    (idx, _), k = _tie_case(spark)
    _, st = _run_sides(monkeypatch, knn_scans, lambda: _centre_query(idx, k))
    assert st["rounds"].tolist() == [2]


@pytest.mark.parametrize("loop", ["driver", "distributed"])
def test_knn_block_bound_centre_query_one_round(spark, monkeypatch, knn_scans, loop):
    """The centre case: the worst-placement rule (kth <= (r*w)^2) needed a
    second round, the exact block bound finishes in round 1."""
    import pkd_tree_spark.knn as K

    (idx, pts), k = _centre_case(spark)
    if loop == "distributed":
        monkeypatch.setattr(K, "DRIVER_CELLS_MAX_QUERIES", 0)
    got, st = _centre_query(idx, k)
    assert list(zip(got["key"], got["span_idx"], got["dist2"])) == _brute(pts, (_Q, _Q), k)
    kth = int(got["dist2"].max())
    assert _W**2 < kth < _GAP**2  # the old rule would not fire, the new one does
    assert st["rounds"].tolist() == [1]
    assert bool(knn_scans) == (loop == "driver")


def test_knn_block_bound_centre_query_one_round_joined(spark, monkeypatch, knn_scans):
    """The centre case on both sides of the bound: identical rows and stats."""
    (idx, _), k = _centre_case(spark)
    _, st = _run_sides(monkeypatch, knn_scans, lambda: _centre_query(idx, k))
    assert st["rounds"].tolist() == [1]


def test_knn_distributed_round_actions(spark, index_uniform, monkeypatch):
    """Driver actions per distributed round: the shell-cell collect and
    the round's eager checkpoint, whose observed metrics carry the next
    pending set's counts (no separate count pass), plus one checkpoint of
    the initial pending set."""
    import pkd_tree_spark.knn as K

    monkeypatch.setattr(K, "DRIVER_CELLS_MAX_QUERIES", 0)
    queries = FX.knn_fixtures(32, 2)
    kw = dict(k=10, level=6, adaptive=False, return_stats=True)
    want, want_st = knn(index_uniform, queries, **kw)  # warm: skeleton memo, pruned-table decision
    cls = type(index_uniform.points)
    actions: list[str] = []

    def spy(name):
        real = getattr(cls, name)

        def wrapped(self, *a, **k):
            eager = k.get("eager", a[0] if a else True)
            if not name.endswith("heckpoint") or eager:
                actions.append(name)
            return real(self, *a, **k)

        monkeypatch.setattr(cls, name, wrapped)

    for name in ("collect", "toPandas", "count", "localCheckpoint", "checkpoint"):
        spy(name)
    res, st = knn(index_uniform, queries, **kw)
    seen = list(actions)
    monkeypatch.undo()
    rounds = int(st.toPandas()["rounds"].max())
    assert rounds >= 2
    assert seen.count("localCheckpoint") == 1 + rounds
    assert len(seen) == 1 + 2 * rounds, seen
    pd.testing.assert_frame_equal(_sorted(res), _sorted(want))


# ---------------------------------------------------------------------------
# both sides of index.DRIVER_FINISH_MAX_ROWS where a Morton run could miss
# ---------------------------------------------------------------------------

_SIDES = ["scan", "joined"]


def _side_spy(request, side: str) -> list:
    """The knn_scans record; on the joined side the bound is at 0."""
    return request.getfixturevalue("knn_scans" if side == "scan" else "knn_joined")


@pytest.mark.parametrize("side", _SIDES)
def test_knn_on_rows_out_of_morton_order(tmp_path, request, spark, cfg, index_uniform, points_uniform, side):
    """An insert appends its batch after the sorted table, its lazy
    exact-delete survivors stream out of Morton order, and a loaded
    PersistentIndex reads its bucket files in split order: kNN on each
    equals brute force on both sides of the bound."""
    from pkd_tree_spark.updates import PersistentIndex, merge_delete, merge_insert

    scans = _side_spy(request, side)
    batch = points_uniform.iloc[3::40].copy()
    batch["key"] = 98_000_000 + np.arange(len(batch))
    batch["doc_id"] = "ins_" + batch["key"].astype(str)
    # exact_rows deletes rows by (key, span_idx): only ids no other row shares
    gone = points_uniform[~points_uniform.duplicated(["key", "span_idx"], keep=False)].iloc[5::90]
    g = merge_insert(index_uniform, spark.createDataFrame(batch))
    dl = merge_delete(g, spark.createDataFrame(gone[["key", "span_idx", "x0", "x1"]]), exact_rows=True)
    assert not dl.points.is_cached  # a small delete leaves its survivors lazy
    p = PersistentIndex(path=str(tmp_path / "idx"), cfg=cfg)
    p.write(dl)
    loaded = p.load(spark)
    queries = FX.knn_fixtures(32, 2)
    ins = pd.concat([points_uniform, batch])
    live = pd.concat([points_uniform.drop(gone.index), batch])
    try:
        for ix, pts in ((g, ins), (dl, live), (loaded, live)):
            pd.testing.assert_frame_equal(_sorted(knn(ix, queries, k=10)), _brute_nd(pts, queries, 10, d=2))
    finally:
        for ix in (g, dl, loaded):
            ix.release()
    if side == "scan":
        assert scans and not all(s["sorted"] for s in scans)
    else:
        assert scans == []


@pytest.mark.parametrize("side", _SIDES)
def test_knn_fine_levels_on_hot_cells(request, cfg, index_varden, points_varden, side):
    """Varden queries in hot clusters take levels finer than index_level,
    whose shell cells are Morton prefixes of their own level: brute force
    on both sides of the bound."""
    scans = _side_spy(request, side)
    queries = FX.knn_fixtures_varden(32, 2)
    with candidate_joins() as joins:
        got = _sorted(knn(index_varden, queries, k=10))
    pd.testing.assert_frame_equal(got, _brute_nd(points_varden, queries, 10, d=2))
    levels = [lv for s in scans for lv in s["levels"]] + [lv for j in joins for lv in j["lvl_counts"]]
    assert any(lv > cfg.index_level for lv in levels), levels
    assert (scans == []) == (side == "joined") and (joins == []) == (side == "scan")


@pytest.mark.parametrize("side", _SIDES)
def test_knn_at_63_bit_morton_keys(request, spark, side):
    """dims * grid_bits = 63 with a cluster in the last leaf, whose
    interval end (cell + 1) << s overflows int64: brute force on both
    sides of the bound."""
    scans = _side_spy(request, side)
    cfg = EngineConfig(dims=3, coord_bits=21, index_level=4, knn_level=3, partitions=2)
    assert cfg.dims * cfg.grid_bits == 63
    top = 1 << 21
    rng = np.random.default_rng(63)
    x = np.vstack([rng.integers(0, top, (3000, 3)), rng.integers(top - (1 << 16), top, (1000, 3))])
    pts = pd.DataFrame({"doc_id": [f"d{i}" for i in range(len(x))], "span_idx": 0, "key": np.arange(len(x)),
                        **{f"x{j}": x[:, j] for j in range(3)}})
    q = np.vstack([top - 1 - rng.integers(0, 1 << 14, (8, 3)), rng.integers(0, top, (4, 3))])
    queries = pd.DataFrame({"qid": np.arange(len(q)), **{f"q{j}": q[:, j] for j in range(3)}})
    ix = SpatialIndex.build(spark.createDataFrame(pts), cfg)
    try:
        got = _sorted(knn(ix, queries, k=5))
    finally:
        ix.release()
    pd.testing.assert_frame_equal(got, _brute_nd(pts, queries, 5, d=3))
    assert bool(scans) == (side == "scan")


@pytest.mark.parametrize("side", _SIDES)
def test_knn_round_whose_scan_returns_no_rows(request, cfg, index_uniform, side):
    """A skeleton that names rows its points no longer hold: every round's
    shells resolve to occupied cells and every scan returns no row. The
    queries end, as brute force over no points does, with no result row
    and no stats row."""
    scans = _side_spy(request, side)
    stale = SpatialIndex(points=index_uniform.points.where(F.lit(False)), meta=index_uniform.meta, cfg=cfg,
                         _pruned="refused")
    res, st = knn(stale, FX.knn_fixtures(4, 2), k=3, level=2, adaptive=False, return_stats=True)
    assert res.toPandas().empty and st.toPandas().empty
    if side == "scan":
        assert len(scans) == 3 and all(s["rows"] == 0 for s in scans), scans
    else:
        assert scans == []
