"""kNN vs brute-force numpy oracle (checkCorrectParallel.cpp:316-326 analog:
kth-distance equality — exact here, since all arithmetic is int64)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pkd_tree_spark import fixtures as FX
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


def test_knn_pruned_duplicate_collapse(spark, cfg):
    """Dummy-leaf duplicate collapse (build_tree.hpp:183-186): on a
    duplicate-heavy lattice the pruned candidate table must engage, shrink
    the scan, and stay multiset-exact vs the raw path — including after a
    cap upgrade (second call with larger k rebuilds the pruned table)."""
    from pyspark.sql import functions as F
    from pkd_tree_spark.documents import load_points
    from pkd_tree_spark.index import SpatialIndex

    pts = load_points(spark, "/root/testdata/sf0.001", dims=2, dist="uniform")
    lattice = pts.select(
        "doc_id", "span_idx", "key",
        *[(F.col(f"x{j}") % 10 * 99_991).alias(f"x{j}") for j in range(2)],
    )
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


def test_knn_driver_loop_window_reduction_matches_raw(index_varden, monkeypatch):
    """r7 driver ring loop: rounds whose estimated candidate volume exceeds
    DRIVER_COLLECT_MAX_ROWS reduce per-query top-k in Spark before the
    collect. Forcing the reduction (cap=0 after the exact-count downgrade
    is also disabled) must give byte-identical results to the raw path."""
    import pkd_tree_spark.knn as K

    queries = FX.knn_fixtures(16, 2)
    want = _sorted(knn(index_varden, queries, k=10))
    monkeypatch.setattr(K, "DRIVER_COLLECT_MAX_ROWS", 0)
    got = _sorted(knn(index_varden, queries, k=10))
    pd.testing.assert_frame_equal(got, want)


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


def test_knn_driver_loop_jobs_per_round(spark, index_uniform):
    """Job-count guard: on a warm index a pandas batch in the driver rounds
    issues two Spark jobs per ring round at this shape (one coarse leaf
    join per round), both under the round's candidate collect. The first
    is the BroadcastExchange of the local cell relation: createDataFrame
    turns the pandas cells into a defaultParallelism-partition RDD, and
    the broadcast collects it in a job of its own (defaultParallelism
    tasks). The second scans the points, probes the broadcast and runs the
    Arrow collect. The rows, doc_id included, are finished on the driver,
    so reading the result costs exactly one job (its local relation's
    scan)."""
    queries = FX.knn_fixtures(32, 2)
    knn(index_uniform, queries, k=10)  # warm: skeleton memo, pruned-table decision
    sc = spark.sparkContext

    def jobs_of(group: str, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    (res, st), n_knn = jobs_of("knn-job-guard", lambda: knn(index_uniform, queries, k=10, return_stats=True))
    rounds = int(st.toPandas()["rounds"].max())
    assert rounds == 2
    assert n_knn == 2 * rounds
    out, n_read = jobs_of("knn-read-guard", res.toPandas)
    assert n_read == 1
    assert len(out) == 32 * 10 and out["doc_id"].notna().all()


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


def test_knn_driver_count_then_collect_matches_raw(index_varden, monkeypatch):
    """The middle rung of _knn_driver's collect ladder: the metadata
    estimate is over DRIVER_COLLECT_MAX_ROWS (forced through
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


def _brute_nd(pts: pd.DataFrame, queries: pd.DataFrame, k: int) -> pd.DataFrame:
    """numpy brute force in (dist2, key, span_idx) order, as _sorted lays out."""
    x = pts[[f"x{j}" for j in range(_D)]].to_numpy(np.int64)
    rows = []
    for qid, *q in queries[["qid", *[f"q{j}" for j in range(_D)]]].itertuples(index=False):
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
def test_knn_doc_id_matches_points(index_varden, monkeypatch, max_driver):
    """doc_id of rows finished in driver rounds (collected with the
    candidates) and in distributed rounds (re-attached by key)."""
    import pkd_tree_spark.knn as K

    if max_driver == 0:
        monkeypatch.setattr(K, "DRIVER_CELLS_MAX_QUERIES", 0)
    _assert_doc_ids(knn(index_varden, FX.knn_fixtures(16, 2), k=10), index_varden)


def test_knn_doc_id_carried_across_handoff(cfg, index_uniform, points_uniform, monkeypatch):
    """Every query is still pending when the distributed rounds hand off,
    so no distributed round finishes a row and every row is finished on
    the driver; the top-k entries carried across the handoff leave the
    distributed rounds without a doc_id and must still get theirs. A fine
    fixed level leaves every query short of k=20 after round 1; the
    handoff size rises once round 1 has passed its check, so round 2
    starts on the driver."""
    import pkd_tree_spark.knn as K

    queries = FX.knn_fixtures(16, 2)
    real_join, real_driver = K._candidate_join, K._knn_driver
    handoffs: list = []

    def join_then_hand_off(*args, **kwargs):
        monkeypatch.setattr(K, "DRIVER_CELLS_MAX_QUERIES", 1 << 20)
        return real_join(*args, **kwargs)

    def spy(index, st, carried, k, rnd0, *args):
        handoffs.append((len(st), len(carried), rnd0))
        return real_driver(index, st, carried, k, rnd0, *args)

    monkeypatch.setattr(K, "DRIVER_CELLS_MAX_QUERIES", 0)
    monkeypatch.setattr(K, "_candidate_join", join_then_hand_off)
    monkeypatch.setattr(K, "_knn_driver", spy)
    res = knn(index_uniform, queries, k=20, level=cfg.index_level + 2, adaptive=False)
    [(n_st, n_carried, rnd0)] = handoffs
    assert (n_st, rnd0) == (16, 2) and n_carried > 0, handoffs
    _assert_doc_ids(res, index_uniform)
    got = res.toPandas()
    assert len(got) == 16 * 20
    assert got[got.rn == 20].set_index("qid")["dist2"].to_dict() == _kth_oracle(points_uniform, queries, 20)


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


@pytest.mark.parametrize("loop", ["driver", "distributed"])
def test_knn_block_bound_tie_with_smaller_key(spark, monkeypatch, loop):
    """After round 1 the k-th distance equals the block gap exactly, and
    two UNSCANNED points (just past the block, one per dimension) tie with
    it at smaller keys. The bound is strict (kth < gap^2), so the query
    must take round 2 and return them in (dist2, key, span_idx) order."""
    import pkd_tree_spark.knn as K

    q = (_Q, _Q)
    xy = [
        (3 * _W, _Q), (_Q, 3 * _W),  # keys 0, 1: outside the block, at GAP
        (3 * _W + 5, 3 * _W + 5), (900_000, 10),  # keys 2, 3: far
        (0, _Q), (0, _Q),  # keys 4, 5: duplicates inside the block, at GAP
        (_Q + 7, _Q - 3),  # key 6: inside, near
    ]
    idx, pts = _tiny_index(spark, xy)
    if loop == "distributed":
        monkeypatch.setattr(K, "DRIVER_CELLS_MAX_QUERIES", 0)
    res, st = knn(idx, pd.DataFrame({"qid": [0], "q0": [q[0]], "q1": [q[1]]}), k=3, level=2,
                  adaptive=False, return_stats=True)
    got = _sorted(res)
    assert list(zip(got["key"], got["span_idx"], got["dist2"])) == _brute(pts, q, 3)
    assert got["key"].tolist() == [6, 0, 1] and got["dist2"].tolist()[1:] == [_GAP**2] * 2
    assert st.toPandas()["rounds"].tolist() == [2]


@pytest.mark.parametrize("loop", ["driver", "distributed"])
def test_knn_block_bound_centre_query_one_round(spark, monkeypatch, loop):
    """A query at the centre of its home cell whose k-th neighbour lies
    between r*w and the block gap: the worst-placement rule (kth <= (r*w)^2)
    needed a second round, the exact block bound finishes in round 1."""
    import pkd_tree_spark.knn as K

    q, dd = (_Q, _Q), 6 * _W // 5  # W < dd < GAP
    xy = [(_Q - dd, _Q), (_Q, _Q - dd), (_Q + dd, _Q), (_Q, _Q + dd), (1_000_000, 1_000_000)]
    idx, pts = _tiny_index(spark, xy)
    if loop == "distributed":
        monkeypatch.setattr(K, "DRIVER_CELLS_MAX_QUERIES", 0)
    res, st = knn(idx, pd.DataFrame({"qid": [0], "q0": [q[0]], "q1": [q[1]]}), k=4, level=2,
                  adaptive=False, return_stats=True)
    got = _sorted(res)
    assert list(zip(got["key"], got["span_idx"], got["dist2"])) == _brute(pts, q, 4)
    kth = int(got["dist2"].max())
    assert _W**2 < kth < _GAP**2  # the old rule would not fire, the new one does
    assert st.toPandas()["rounds"].tolist() == [1]


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
