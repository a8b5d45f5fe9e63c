"""The index's driver-side rows (SpatialIndex.local_rows): the points'
kNN candidate columns, collected once per generation by the first kNN
driver round whose scan reads the whole table, then read by every later
driver round and driver-finished range count on that index with no Spark
job. Results, doc_id and stats included, must not depend on whether the
rows are held; the rows are never collected for a filtered scan, past
index.DRIVER_FINISH_MAX_ROWS or for a pruned candidate table; a checkpoint
passes them on and release() drops them."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pkd_tree_spark import fixtures as FX
from pkd_tree_spark import index as I
from pkd_tree_spark.config import EngineConfig
from pkd_tree_spark.index import SpatialIndex
from pkd_tree_spark.knn import auto_knn_level, knn
from pkd_tree_spark.ranges import range_count_boxes
from pkd_tree_spark.updates import PersistentIndex, checkpoint_index, merge_delete, merge_insert
from tests.conftest import job_sites, memo_free
from tests.test_knn import _brute_nd, _lattice, _rows_stats, _sorted
from tests.test_range import _box_oracle

ROW_COLS = ["doc_id", "span_idx", "key", "x0", "x1"]


def _counts(df) -> dict:
    return df.toPandas().set_index("qid")["cnt"].sort_index().to_dict()


@pytest.fixture(scope="module")
def index_50k(spark):
    """50k uniform points (the update benchmark's size) at index_level 7 on
    8 partitions, and the points as pandas."""
    rng = np.random.default_rng(18)
    x = rng.integers(0, 1 << 20, (50_000, 2))
    pts = pd.DataFrame({"doc_id": [f"p{i}" for i in range(len(x))], "span_idx": 0, "key": np.arange(len(x)),
                        "x0": x[:, 0], "x1": x[:, 1]})
    ix = SpatialIndex.build(spark.createDataFrame(pts[ROW_COLS]), EngineConfig(dims=2, index_level=7, knn_level=6,
                                                                              partitions=8))
    ix.points.count()
    yield ix, pts
    ix.release()


def _warm(index: SpatialIndex) -> SpatialIndex:
    """A copy of ``index`` with no driver-side rows, after ``index`` has
    collected its skeleton and made its pruned-table decision."""
    index.meta_np()
    index.pruned_points(10)
    return memo_free(index)


def test_memoized_index_runs_no_scan_job(spark, index_uniform, points_uniform):
    """Once a kNN call has collected the rows, a second kNN call and a
    range count on the index run no Spark job; reading each result costs
    its one job. Both equal brute force."""
    ix = memo_free(index_uniform)
    queries, boxes = FX.knn_fixtures(32, 2), FX.box_fixtures(64, 2)
    _, sites = job_sites(spark, "rows-first-knn", lambda: knn(ix, queries, k=10).toPandas())
    assert ix._rows is not None and ix._rows.num_rows == len(points_uniform)
    (res, st), knn_sites = job_sites(spark, "rows-knn", lambda: knn(ix, queries, k=10, return_stats=True))
    got, read_sites = job_sites(spark, "rows-knn-read", lambda: _sorted(res))
    cnt, count_sites = job_sites(spark, "rows-count", lambda: range_count_boxes(ix, boxes))
    counts, count_read = job_sites(spark, "rows-count-read", lambda: _counts(cnt))
    assert (knn_sites, len(read_sites), count_sites, len(count_read)) == ([], 1, [], 1)
    assert int(st.toPandas()["rounds"].max()) == 2
    pd.testing.assert_frame_equal(got, _brute_nd(points_uniform, queries, 10, d=2))
    assert counts == _box_oracle(points_uniform, boxes).sort_index().to_dict()


def test_two_round_call_on_a_fresh_index_collects_once(spark, index_50k):
    """A 2-round kNN call of 1000 queries on a 50k-point index that holds
    no rows: round 1 collects them in one job, round 2 reads them."""
    base, pts = index_50k
    ix = _warm(base)
    at = pts.iloc[np.random.default_rng(5).choice(len(pts), 1000, replace=False)]
    queries = pd.DataFrame({"qid": np.arange(1000), "q0": at["x0"].to_numpy(), "q1": at["x1"].to_numpy()})
    level = auto_knn_level(len(pts), 2)
    (res, st), sites = job_sites(spark, "rows-50k", lambda: knn(ix, queries, k=10, level=level, return_stats=True))
    assert int(st.toPandas()["rounds"].max()) == 2
    assert len(sites) == 1, sites
    got = _sorted(res)
    sample = queries.iloc[::50]
    pd.testing.assert_frame_equal(got[got["qid"].isin(sample["qid"])].reset_index(drop=True),
                                  _brute_nd(pts, sample, 10, d=2))


def test_rows_match_with_and_without_the_memo(tmp_path, spark, cfg, index_uniform, points_uniform, monkeypatch):
    """An insert generation (its appended rows arrive out of Morton order),
    its lazy exact_rows survivors and a loaded PersistentIndex: kNN rows,
    doc_id and stats, and range counts, are identical whether every round
    collects the rows again (the memo-free side) or the index holds them
    (across the call's rounds and a second call), and equal brute force."""
    batch = points_uniform.iloc[7::40].copy()
    batch["key"] = 93_000_000 + np.arange(len(batch))
    batch["doc_id"] = "ins_" + batch["key"].astype(str)
    gone = points_uniform[~points_uniform.duplicated(["key", "span_idx"], keep=False)].iloc[3::90]
    g = merge_insert(index_uniform, spark.createDataFrame(batch[ROW_COLS]))
    dl = merge_delete(g, spark.createDataFrame(gone[["key", "span_idx", "x0", "x1"]]), exact_rows=True)
    assert not dl.points.is_cached  # a small delete leaves its survivors lazy
    p = PersistentIndex(path=str(tmp_path / "idx"), cfg=cfg)
    p.write(dl)
    loaded = p.load(spark)
    queries, boxes = FX.knn_fixtures(32, 2), FX.box_fixtures(64, 2)
    ins = pd.concat([points_uniform, batch])
    live = pd.concat([points_uniform.drop(gone.index), batch])

    def run(ix):
        res, st = knn(ix, queries, k=10, return_stats=True)
        return (*_rows_stats(res, st), _counts(range_count_boxes(ix, boxes)))

    try:
        for ix, pts in ((g, ins), (dl, live), (loaded, live)):
            real = SpatialIndex.local_rows
            with monkeypatch.context() as m:
                m.setattr(SpatialIndex, "local_rows", lambda self: real(memo_free(self)))
                free = run(ix)
            assert ix._rows is None
            first, second = run(ix), run(ix)
            assert ix._rows is not None
            for side in (first, second):
                pd.testing.assert_frame_equal(side[0], free[0])
                pd.testing.assert_frame_equal(side[1], free[1])
                assert side[2] == free[2]
            assert free[0]["doc_id"].notna().all()
            pd.testing.assert_frame_equal(free[0][["qid", "rn", "key", "span_idx", "dist2"]],
                                          _brute_nd(pts, queries, 10, d=2))
            assert free[2] == _box_oracle(pts, boxes).sort_index().to_dict()
            assert int(free[1]["rounds"].max()) == 2
    finally:
        for ix in (g, dl, loaded):
            ix.release()


def test_filtered_scan_collects_no_rows(spark, index_50k):
    """Queries in one corner of a 50k-point index: each round's scan is
    pre-filtered, so it runs its own collect (one job per round) and the
    index keeps no rows; a range count neither collects nor reads any."""
    base, pts = index_50k
    ix = _warm(base)
    queries = pd.DataFrame({"qid": np.arange(4), "q0": [1000, 9000, 20_000, 3000], "q1": [2000, 500, 7000, 30_000]})
    (res, st), sites = job_sites(spark, "rows-filtered", lambda: knn(ix, queries, k=10, return_stats=True))
    assert len(sites) == int(st.toPandas()["rounds"].max())
    boxes = pd.DataFrame({"qid": [0], "lo0": [0], "lo1": [0], "hi0": [40_000], "hi1": [40_000]})
    assert _counts(range_count_boxes(ix, boxes)) == _box_oracle(pts, boxes).to_dict()
    assert ix._rows is None
    pd.testing.assert_frame_equal(_sorted(res), _brute_nd(pts, queries, 10, d=2))


def test_past_the_bound_collects_no_rows(index_uniform, points_uniform, monkeypatch):
    """With index.DRIVER_FINISH_MAX_ROWS at 0 every round joins in Spark:
    no rows are collected."""
    monkeypatch.setattr(I, "DRIVER_FINISH_MAX_ROWS", 0)
    ix = memo_free(index_uniform)
    queries = FX.knn_fixtures(16, 2)
    pd.testing.assert_frame_equal(_sorted(knn(ix, queries, k=10)), _brute_nd(points_uniform, queries, 10, d=2))
    assert ix._rows is None


def test_pruned_index_neither_collects_nor_reads_rows(spark, cfg):
    """On a duplicate-heavy lattice the candidate table is the pruned one,
    which the rows do not describe: kNN collects none, and rows handed to
    the index are not read (their one row would miss every neighbour)."""
    lattice = _lattice(spark)
    ix = SpatialIndex.build(lattice, cfg)
    pts = lattice.toPandas()
    queries = FX.knn_fixtures(16, 2)
    try:
        got = _sorted(knn(ix, queries, k=10))
        assert isinstance(ix._pruned, tuple) and ix._rows is None
        wrong = ix.points.limit(1).select("key", "doc_id", "span_idx", "x0", "x1", "morton").toArrow()
        object.__setattr__(ix, "_rows", wrong)
        pd.testing.assert_frame_equal(_sorted(knn(ix, queries, k=10)), got)
    finally:
        ix.release()
    pd.testing.assert_frame_equal(got, _brute_nd(pts, queries, 10, d=2))


def test_checkpoint_passes_rows_on_and_release_drops_them(index_uniform):
    ix = memo_free(index_uniform)
    knn(ix, FX.knn_fixtures(8, 2), k=5)
    assert ix._rows is not None
    c = checkpoint_index(ix)
    assert c._rows is ix._rows
    c.release()
    assert c._rows is None and ix._rows is not None
