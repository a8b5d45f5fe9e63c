"""The driver skeleton (SpatialIndex.meta_np) is carried across index
generations: an in-memory update merges the batch's per-cell delta into
its parent's skeleton on the driver, a checkpoint passes it on, and
PersistentIndex.load reads it off the committed meta file. Each carried
skeleton must equal a fresh aggregate of its generation's points (cells
and counts exactly; bounds exactly after an insert, a superset after a
delete, which keeps the old conservative bounds), and a read on a fresh
generation must collect no meta."""

from __future__ import annotations

import gc
import os
import time

import numpy as np
import pandas as pd
import pytest

from pkd_tree_spark import fixtures as FX
from pkd_tree_spark.config import COORD_BOUND, EngineConfig
from pkd_tree_spark.documents import load_points
from pkd_tree_spark.index import SpatialIndex, meta_of, skeleton
from pkd_tree_spark.ranges import range_count_boxes
from pkd_tree_spark.updates import PersistentIndex, checkpoint_index, merge_delete, merge_insert
from pkd_tree_spark.zorder import morton_decode_np
from tests.conftest import SF_DIR, compiles, job_sites
from tests.test_codegen_cache import _cycle

BOXES = FX.box_fixtures(64, 2)
ROW_COLS = ["doc_id", "span_idx", "key", "x0", "x1"]


def _fresh(g: SpatialIndex) -> dict:
    """The skeleton of a fresh aggregate of ``g``'s points."""
    return skeleton(meta_of(g.points, g.cfg).toPandas(), g.cfg.dims)


def _check(g: SpatialIndex, exact_bounds: bool) -> dict:
    """Assert ``g``'s carried skeleton against a fresh aggregate and
    against ``g.meta`` (rows and meta_of's schema); returns the skeleton."""
    got, want = g.meta_np(), _fresh(g)
    np.testing.assert_array_equal(got["cells"], want["cells"])
    np.testing.assert_array_equal(got["cum"], want["cum"])
    if exact_bounds:
        np.testing.assert_array_equal(got["mn"], want["mn"])
        np.testing.assert_array_equal(got["mx"], want["mx"])
    else:
        assert (got["mn"] <= want["mn"]).all() and (got["mx"] >= want["mx"]).all()
    assert g.meta.schema == meta_of(g.points, g.cfg).schema
    table = skeleton(g.meta.toPandas(), g.cfg.dims)
    for k in ("cells", "cum", "mn", "mx"):
        np.testing.assert_array_equal(table[k], got[k])
    return got


def _cells(pts: pd.DataFrame, cfg: EngineConfig) -> np.ndarray:
    return pts["morton"].to_numpy(np.int64) >> (cfg.dims * (cfg.grid_bits - cfg.index_level))


@pytest.fixture(scope="module")
def fine(spark):
    """A build at index_level 7: most cells are empty, so random points
    open new ones."""
    cfg = EngineConfig(dims=2, index_level=7, knn_level=6, partitions=4)
    g = SpatialIndex.build(load_points(spark, SF_DIR, dims=2, dist="uniform"), cfg)
    yield g
    g.release()


def _opening_batch(parent: SpatialIndex, n: int, key0: int) -> pd.DataFrame:
    """``n`` rows at random positions (most open a cell) and one row at
    the lower corner of each of the parent's first ``n`` cells (each widens
    its cell's bounds unless a point already sits there)."""
    cfg, mnp = parent.cfg, parent.meta_np()
    rng = np.random.default_rng(key0)
    corners = morton_decode_np(mnp["cells"][:n], cfg.dims, bits=cfg.index_level) * cfg.cell_width
    xy = np.vstack([rng.integers(0, COORD_BOUND, (n, cfg.dims)), corners])
    key = key0 + np.arange(len(xy), dtype=np.int64)
    return pd.DataFrame({"doc_id": [f"ins_{k}" for k in key], "span_idx": 0, "key": key, "x0": xy[:, 0], "x1": xy[:, 1]})


def test_insert_carries_new_cells_and_wider_bounds(spark, fine):
    g = merge_insert(fine, spark.createDataFrame(_opening_batch(fine, 50, 91_000_000)))
    got, old = _check(g, exact_bounds=True), fine.meta_np()
    assert not np.isin(got["cells"], old["cells"]).all(), "the batch should open a cell"
    common = np.searchsorted(got["cells"], old["cells"])
    assert (got["mn"][common] < old["mn"]).any(), "the batch should widen a cell's bounds"
    g.release()


def test_exact_delete_drops_an_emptied_cell(spark, fine):
    pts = fine.points.toPandas()
    cells = _cells(pts, fine.cfg)
    ids, counts = np.unique(cells, return_counts=True)
    victim = ids[np.argmin(counts)]
    # every row of the victim cell, plus every copy of 100 other identities
    # (an exact batch carries each identity it names whole)
    named = pts[cells == victim][["key", "span_idx"]]
    named = pd.concat([named, pts[cells != victim][["key", "span_idx"]].head(100)])
    rows = pts.merge(named.drop_duplicates(), on=["key", "span_idx"])
    dl = merge_delete(fine, spark.createDataFrame(rows[["key", "span_idx", "x0", "x1"]]), exact_rows=True)
    got = _check(dl, exact_bounds=False)
    assert victim in fine.meta_np()["cells"] and victim not in got["cells"]
    assert got["cum"][-1] == len(pts) - len(rows)
    dl.release()


def test_key_delete_carries_the_semi_join_delta(spark, fine):
    keys = fine.points.select("key").distinct().limit(300).toPandas()
    kd = merge_delete(fine, spark.createDataFrame(keys))
    got = _check(kd, exact_bounds=False)
    assert got["cum"][-1] < fine.meta_np()["cum"][-1]
    kd.release()


def test_checkpoint_passes_the_skeleton_on(fine):
    c = checkpoint_index(fine)
    assert c.meta_np() is fine.meta_np()
    _check(c, exact_bounds=True)
    c.release()


def test_stacked_updates_carry_the_skeleton(spark, fine):
    """insert -> exact delete -> checkpoint -> insert: the delete's
    conservative bounds ride the checkpoint and the second insert."""
    b1 = _opening_batch(fine, 40, 92_000_000)
    g1 = merge_insert(fine, spark.createDataFrame(b1))
    _check(g1, exact_bounds=True)
    half = b1.iloc[::2]
    g2 = merge_delete(g1, spark.createDataFrame(half[["key", "span_idx", "x0", "x1"]]), exact_rows=True)
    _check(g2, exact_bounds=False)
    g3 = checkpoint_index(g2)
    _check(g3, exact_bounds=False)
    g4 = merge_insert(g3, spark.createDataFrame(_opening_batch(g3, 40, 93_000_000)))
    got = _check(g4, exact_bounds=False)
    assert got["cum"][-1] == fine.meta_np()["cum"][-1] + len(b1) - len(half) + 80
    for g in (g1, g2, g3, g4):
        g.release()


def _oracle(pts: pd.DataFrame) -> dict:
    out = {}
    for r in BOXES.itertuples():
        m = (pts.x0 >= r.lo0) & (pts.x0 <= r.hi0) & (pts.x1 >= r.lo1) & (pts.x1 <= r.hi1)
        out[r.qid] = int(m.sum())
    return out


def _count_jobs(spark, g: SpatialIndex, group: str) -> tuple[dict, int]:
    out, sites = job_sites(spark, group, lambda: range_count_boxes(g, BOXES).toPandas())
    return out.set_index("qid")["cnt"].reindex(BOXES["qid"], fill_value=0).to_dict(), len(sites)


def test_range_count_on_a_fresh_generation_collects_no_meta(spark, index_uniform, points_uniform):
    """A small range count on a new generation runs the 2 jobs it runs on
    a warm index (test_range_jobs_per_call): the boundary scan and the
    result frame's read, with no meta collect before them. The batch is
    above DELETE_LAZY_PERSIST_FRAC, so the delete's survivors are cached
    and its reads broadcast no keys."""
    batch_pd = points_uniform.head(500).copy()
    batch_pd["key"] += 94_000_000
    batch_pd["doc_id"] = "ins_" + batch_pd["key"].astype(str)
    batch = spark.createDataFrame(batch_pd[ROW_COLS]).persist()
    g = merge_insert(index_uniform, batch)
    g.points.count()
    g.meta.count()
    got, n_ins = _count_jobs(spark, g, "fresh-insert-range-count")
    assert got == _oracle(pd.concat([points_uniform, batch_pd]))
    dl = merge_delete(g, batch.select("key", "span_idx", "x0", "x1"), exact_rows=True)
    dl.points.count()
    dl.meta.count()
    got, n_del = _count_jobs(spark, dl, "fresh-delete-range-count")
    assert got == _oracle(points_uniform)
    for x in (g, dl):
        x.release()
    batch.unpersist()
    assert (n_ins, n_del) == (2, 2)


def test_load_reads_the_skeleton_without_a_job(tmp_path, spark, cfg, index_uniform, points_uniform):
    """load() reads the skeleton off the commit's one meta file: opening
    the index and its skeleton runs no Spark job, and the skeleton equals
    one built from the loaded meta table, after a write, a COW insert and
    a COW delete. 16 buckets: past 32 directories Spark lists a scan's
    files in a job of its own."""
    p = PersistentIndex(path=str(tmp_path / "idx"), cfg=cfg, bucket_level=2)

    def check(want_rows: int) -> None:
        (g, skel), sites = job_sites(spark, f"load-{want_rows}", lambda: (g := p.load(spark), g.meta_np()))
        assert sites == []
        table = skeleton(g.meta.toPandas(), cfg.dims)
        for k in ("cells", "cum", "mn", "mx"):
            np.testing.assert_array_equal(skel[k], table[k])
        assert skel["cum"][-1] == want_rows

    p.write(index_uniform)
    check(len(points_uniform))
    batch = points_uniform.head(200).copy()
    batch["key"] += 96_000_000
    p.merge_insert_cow(spark, spark.createDataFrame(batch[ROW_COLS]))
    check(len(points_uniform) + 200)
    r = p.merge_delete_cow(spark, spark.createDataFrame(points_uniform.head(300)[["key", "span_idx", "x0", "x1"]]))
    check(len(points_uniform) + 200 - r["rows_deleted"])


def _local_bytes(spark) -> int:
    """Bytes under this session's block-manager directories and its
    PySpark scratch directory (where createDataFrame stages frames)."""
    sc = spark.sparkContext
    roots = [f.getAbsolutePath() for f in sc._jsc.sc().env().blockManager().diskBlockManager().localDirs()]
    total = 0
    for root in [*roots, sc._temp_dir]:
        for r, _, fs in os.walk(root):
            total += sum(os.path.getsize(os.path.join(r, f)) for f in fs if os.path.exists(os.path.join(r, f)))
    return total


def _settled(spark) -> tuple[int, int]:
    """(persisted RDDs, local bytes) once released frames are collected:
    Python drops its JVM handles, the JVM collects, and the ContextCleaner
    deletes the shuffle files of unreachable jobs."""
    jsc = spark.sparkContext._jsc
    last = None
    for _ in range(20):
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.25)
        now = (len(jsc.getPersistentRDDs().keySet().toArray()), _local_bytes(spark))
        if now == last:
            break
        last = now
    return last


def test_long_session_state_stays_flat(tmp_path, spark, points_uniform):
    """Four update-benchmark-shaped cycles (test_codegen_cache._cycle, then
    a COW insert and delete, a load and a range count), releasing every
    generation a cycle supersedes: after the first cycle neither the
    persisted RDDs nor the bytes in the session's local directories grow.
    Every in-memory update persists a new local meta frame, so a leaked
    frame would show in both: the bytes may move by the shuffle files of
    the jobs still reachable (a few KB), never by a frame's rows (two
    frames a cycle). The cycles after the second (the first one started
    from a checkpoint, see test_codegen_cache) compile no class, and every
    released generation's driver-side rows (SpatialIndex.local_rows, which
    the cycle's kNN reads collect) are gone."""
    cfg = EngineConfig(dims=2, index_level=5, knn_level=4, partitions=1)
    base = SpatialIndex.build(load_points(spark, SF_DIR, dims=2, dist="uniform"), cfg)
    p = PersistentIndex(path=str(tmp_path / "idx"), cfg=cfg)
    p.write(base)
    want = _oracle(points_uniform)
    ix, seen, compiled, released = base, [], [], []
    for n in range(4):

        def step():
            nxt, old = _cycle(spark, ix, points_uniform, 10 + n)
            assert all(g._rows is not None for g in old)  # each generation's kNN collected its rows
            for g in [ix, *old]:
                g.meta.count()  # materialized, as the benchmark's cycle does
                g.release()
                released.append(g)
            rows = points_uniform.iloc[n::50].copy()
            rows["key"] += 98_000_000 + 1_000 * n
            b = spark.createDataFrame(rows[ROW_COLS])
            p.merge_insert_cow(spark, b)
            p.merge_delete_cow(spark, b.select("key", "span_idx", "x0", "x1"))
            got, _ = _count_jobs(spark, p.load(spark), f"long-session-{n}")
            assert got == want
            return nxt

        ix, c = compiles(spark, step)
        compiled.append(c)
        seen.append(_settled(spark))
    frame_bytes = 8 * len(ix.meta.columns) * len(ix.meta_np()["cells"])
    assert ix._rows is not None  # the checkpoint passed its parent's rows on
    ix.release()
    released.append(ix)
    assert [s[0] for s in seen[1:]] == [seen[0][0]] * 3, seen
    assert max(s[1] for s in seen[1:]) - seen[0][1] < frame_bytes, (seen, frame_bytes)
    assert compiled[2:] == [0, 0], compiled
    assert all(g._rows is None for g in released)
