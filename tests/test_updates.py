"""Batch insert/delete, skew/retile, sliding window, persistence + lineage
(reference: tests/test.cpp:53-74 insert/delete harness; testFramework.h
:209-254 incremental build; :817-869 sliding window)."""

from __future__ import annotations

import inspect
import math
import os
import re
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from pkd_tree_spark import fixtures as FX
from pkd_tree_spark.config import COORD_BITS
from pkd_tree_spark.documents import load_points
from pkd_tree_spark.index import SpatialIndex
from pkd_tree_spark.knn import knn
from pkd_tree_spark.ranges import range_count_boxes
from pkd_tree_spark.updates import (
    PersistentIndex,
    check_skew,
    checkpoint_index,
    merge_delete,
    merge_insert,
    retile,
    sliding_window,
)
from pkd_tree_spark.zorder import cell_col
from tests.conftest import SF_DIR, job_sites

BOXES = FX.box_fixtures(8, 2)


def _bucket_rows(spark, p: PersistentIndex, b: int):
    """The committed rows of bucket ``b``, read through the manifest."""
    cfg = p.cfg
    bucket = cell_col(F.col("morton"), cfg.dims, p.bucket_level, cfg.grid_bits)
    return p.load(spark).points.where(bucket == b)


def _counts(idx) -> dict:
    return range_count_boxes(idx, BOXES).toPandas().set_index("qid")["cnt"].to_dict()


def _tree_mtimes(root: str) -> dict:
    """Every file under ``root`` with its mtime: a rewrite changes one or both."""
    return {
        os.path.join(r, f): os.stat(os.path.join(r, f)).st_mtime_ns
        for r, _, fs in os.walk(root)
        for f in fs
    }


def _live_only(p: PersistentIndex) -> bool:
    """points_path holds exactly the manifest's bucket directories."""
    live = {os.path.join(p.path, e["dir"]) for e in p.manifest()["buckets"].values()}
    dirs = {r for r, _, fs in os.walk(p.points_path) if any(f.endswith(".parquet") for f in fs)}
    return dirs == live


def _corner(points: pd.DataFrame, n: int, key_base: int, far: bool = False) -> pd.DataFrame:
    """``n`` copies of base points squeezed into the first (or, ``far``,
    the last) Morton bucket at bucket_level 3, under fresh keys."""
    out = points.head(n).copy()
    out["key"] = key_base + pd.RangeIndex(n)
    out["doc_id"] = "ins_" + out["key"].astype(str)
    for c in ("x0", "x1"):
        out[c] = out[c] % 1000
        if far:
            out[c] = (1 << COORD_BITS) - 1 - out[c]
    return out


def _box_oracle(pts: pd.DataFrame) -> dict:
    out = {}
    for r in BOXES.itertuples():
        m = (pts.x0 >= r.lo0) & (pts.x0 <= r.hi0) & (pts.x1 >= r.lo1) & (pts.x1 <= r.hi1)
        out[r.qid] = int(m.sum())
    return out


def test_insert_then_delete_roundtrip(spark, cfg, index_uniform, points_uniform):
    batch_pd = points_uniform.head(500).copy()
    batch_pd["key"] = batch_pd["key"] + 90_000_000
    batch_pd["doc_id"] = "ins_" + batch_pd["key"].astype(str)
    batch = spark.createDataFrame(batch_pd)

    idx2 = merge_insert(index_uniform, batch)
    v = idx2.validate()
    assert v["n_points"] == len(points_uniform) + 500
    assert v["meta_sum"] == v["n_points"]
    assert _counts(idx2) == _box_oracle(pd.concat([points_uniform, batch_pd]))

    idx3 = merge_delete(idx2, batch.select("key"))
    v3 = idx3.validate()
    assert v3["n_points"] == len(points_uniform)
    assert v3["meta_sum"] == v3["n_points"]
    assert _counts(idx3) == _box_oracle(points_uniform)


def test_partial_cover_delete_is_noop_for_absent_keys(spark, index_uniform, points_uniform):
    """PartialCover semantics (batch_delete.hpp:93-107): absent keys ignored."""
    ghost = spark.createDataFrame(pd.DataFrame({"key": [123_456_789, 987_654_321]}))
    idx2 = merge_delete(index_uniform, ghost)
    assert idx2.points.count() == len(points_uniform)


def test_incremental_build_steps(spark, cfg, points_uniform):
    """U7: insert in steps until full; final state equals a fresh build."""
    pts = load_points(spark, SF_DIR, dims=2, dist="uniform")
    idx = SpatialIndex.build(pts.where(F.col("key") % 4 == 0), cfg)
    for step in (1, 2, 3):
        idx = merge_insert(idx, pts.where(F.col("key") % 4 == step))
    assert idx.points.count() == len(points_uniform)
    assert _counts(idx) == _box_oracle(points_uniform)


def test_sliding_window(spark, cfg, points_uniform):
    pts = load_points(spark, SF_DIR, dims=2, dist="uniform")
    period = F.col("key") % 10
    idx = SpatialIndex.build(pts.where(F.lit(False)), cfg)
    batches = [pts.where(period == t) for t in range(10)]
    seen = []
    idx = sliding_window(idx, batches, window_len=5, on_step=lambda t, i: seen.append(t))
    assert seen == list(range(10))
    live = points_uniform[points_uniform.key % 10 >= 5]
    assert idx.points.count() == len(live)
    assert _counts(idx) == _box_oracle(live)


def test_skew_detect_and_retile(spark, points_uniform):
    from pkd_tree_spark.config import EngineConfig

    cfg = EngineConfig(dims=2, index_level=2, knn_level=2, partitions=4, leaf_target=16)
    idx = SpatialIndex.build(spark.createDataFrame(points_uniform), cfg)
    s = check_skew(idx)
    assert s["needs_retile"]  # leaf_target=16 with thousands of rows/cell
    idx2 = retile(idx)
    assert idx2.validate()["meta_sum"] == len(points_uniform)
    assert _counts(idx2) == _box_oracle(points_uniform)


def test_persistent_index_and_lineage(tmp_path, spark, cfg, index_uniform, points_uniform):
    p = PersistentIndex(path=str(tmp_path / "idx"), cfg=cfg)
    p.write(index_uniform)
    # the manifest records the commit -> a second write is a resume no-op
    before = p.manifest()
    assert before["fingerprint"].startswith("write:")
    assert before["result"] == {"rows": len(points_uniform)}
    files = _tree_mtimes(p.path)
    p.write(index_uniform)
    assert p.manifest() == before  # not recomputed
    assert _tree_mtimes(p.path) == files

    loaded = p.load(spark)
    assert loaded.points.count() == len(points_uniform)
    assert _counts(loaded) == _box_oracle(points_uniform)


def test_cow_merge_rewrites_only_touched_buckets(tmp_path, spark, cfg, index_uniform, points_uniform):
    p = PersistentIndex(path=str(tmp_path / "idx"), cfg=cfg)
    p.write(index_uniform)
    # batch confined to one corner -> one bucket touched
    batch = pd.DataFrame(
        {
            "doc_id": [f"ins_{i}" for i in range(10)],
            "span_idx": [0] * 10,
            "key": [80_000_000 + i for i in range(10)],
            "x0": list(range(10)),
            "x1": list(range(10)),
        }
    )
    before = p.manifest()["buckets"]
    p.merge_insert_cow(spark, spark.createDataFrame(batch))
    after = p.manifest()["buckets"]
    moved = [b for b, e in after.items() if before.get(b) != e]
    assert moved == ["0"]  # copy-on-write granularity: one bucket rewritten
    assert {b: e for b, e in after.items() if b != "0"} == {b: e for b, e in before.items() if b != "0"}
    loaded = p.load(spark)
    assert loaded.points.count() == len(points_uniform) + 10


def test_cow_meta_refresh_reads_only_touched_buckets(
    tmp_path, spark, cfg, index_uniform, points_uniform
):
    """The meta refresh after a COW merge must be TARGETED: only touched
    buckets' point files are read (their manifest directories), untouched
    cells' meta rows are carried over verbatim. Proven behaviorally: delete an
    UNTOUCHED bucket's data files before the merge — a full-table refresh
    would silently drop that bucket's meta rows (or fail); the targeted
    refresh never reads it, so its meta rows survive unchanged."""
    p = PersistentIndex(path=str(tmp_path / "idx"), cfg=cfg)
    p.write(index_uniform)
    meta_before = p.load(spark).meta.toPandas().set_index("cell").sort_index()

    batch = pd.DataFrame(
        {
            "doc_id": [f"ins_{i}" for i in range(10)],
            "span_idx": [0] * 10,
            "key": [90_000_000 + i for i in range(10)],
            "x0": list(range(10)),
            "x1": list(range(10)),  # corner -> pbucket 0 only
        }
    )
    # remove a far-away bucket's files entirely (untouched by the batch)
    victim_bucket = max(int(b) for b in p.manifest()["buckets"])
    shutil.rmtree(os.path.join(p.path, p.manifest()["buckets"][str(victim_bucket)]["dir"]))

    p.merge_insert_cow(spark, spark.createDataFrame(batch))

    # the manifest's meta directory: a full load would list the deleted files
    meta_dir = os.path.join(p.path, p.manifest()["meta"])
    meta_after = spark.read.parquet(meta_dir).toPandas().set_index("cell").sort_index()
    d, shift = cfg.dims, cfg.dims * (cfg.index_level - p.bucket_level)
    # the deleted (untouched) bucket's cells are still present, bit-for-bit
    victim_cells = [c for c in meta_before.index if (c >> shift) == victim_bucket]
    assert victim_cells, "fixture should occupy the victim bucket"
    pd.testing.assert_frame_equal(
        meta_after.loc[victim_cells], meta_before.loc[victim_cells], check_like=True
    )
    # the touched bucket's counts reflect the insert
    touched_cells = [c for c in meta_after.index if (c >> shift) == 0]
    assert (
        meta_after.loc[touched_cells, "cnt"].sum()
        == meta_before.loc[[c for c in meta_before.index if (c >> shift) == 0], "cnt"].sum() + 10
    )


def test_exact_rows_delete_matches_key_delete(spark, cfg, index_uniform, points_uniform):
    """exact_rows=True (the reference's point-batch delete contract,
    batch_delete.hpp:59-76) must produce the same index state as the
    key-based path — points AND per-cell metadata — while skipping the
    full-table semi-join."""
    batch_pd = points_uniform.head(400).copy()
    batch_pd["key"] = batch_pd["key"] + 91_000_000
    batch_pd["doc_id"] = "ins_" + batch_pd["key"].astype(str)
    batch = spark.createDataFrame(batch_pd)
    ins = merge_insert(index_uniform, batch)

    by_key = merge_delete(ins, batch.select("key"))
    by_rows = merge_delete(ins, batch.select("key", "span_idx", "x0", "x1"), exact_rows=True)
    vk, vr = by_key.validate(), by_rows.validate()
    assert vr["n_points"] == vk["n_points"] == len(points_uniform)
    assert vr["meta_sum"] == vr["n_points"]
    mk = by_key.meta.toPandas().set_index("cell").sort_index()
    mr = by_rows.meta.toPandas().set_index("cell").sort_index()
    pd.testing.assert_frame_equal(mr, mk, check_like=True)
    assert _counts(by_rows) == _box_oracle(points_uniform)

    # shared identities: repeated lineitem keys give full duplicates (same
    # doc_id and coordinates) that share (key, span_idx). An exact batch
    # carries every copy of each identity it names, as the contract asks
    ids = points_uniform.iloc[5::90][["key", "span_idx"]].drop_duplicates()
    named = points_uniform.merge(ids, on=["key", "span_idx"])
    assert len(named) > len(ids)  # the batch really holds shared identities
    by_key = merge_delete(index_uniform, spark.createDataFrame(ids[["key"]]))
    by_rows = merge_delete(
        index_uniform, spark.createDataFrame(named[["key", "span_idx", "x0", "x1"]]), exact_rows=True
    )
    mk = by_key.meta.toPandas().set_index("cell").sort_index()
    mr = by_rows.meta.toPandas().set_index("cell").sort_index()
    pd.testing.assert_frame_equal(mr, mk, check_like=True)
    left = points_uniform.merge(ids, on=["key", "span_idx"], how="left", indicator=True)
    want = _box_oracle(left[left["_merge"] == "left_only"])
    assert _counts(by_rows) == _counts(by_key) == want
    v = by_rows.validate()
    assert v["meta_sum"] == v["n_points"] == len(points_uniform) - len(named)


def test_delete_broadcast_anti_join_no_points_shuffle(spark, cfg, index_uniform):
    """The 1%-scale delete plan: the key set is broadcast, so the surviving
    rows come from ONE streamed pass over the points — the plan must show a
    broadcast LeftAnti and NO exchange on the points side (the r5 plan
    sort-merge-shuffled the full table twice; 165s vs 19.5s insert @16c at
    153.6M)."""
    batch_pd = index_uniform.points.limit(300).select("key", "span_idx", "x0", "x1").toPandas()
    dels = merge_delete(index_uniform, spark.createDataFrame(batch_pd), exact_rows=True, persist=False)
    plan = dels.points._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_cow_delete_rewrites_only_touched_buckets(tmp_path, spark, cfg, index_uniform, points_uniform):
    """merge_delete_cow: only buckets containing batch points are
    rewritten; cold buckets' files keep their mtimes; the surviving point
    set and targeted meta refresh are exact (batch_delete.hpp:146-265 —
    the reference rewrites only touched subtrees)."""

    p = PersistentIndex(path=str(tmp_path / "idx"), cfg=cfg)
    p.write(index_uniform)
    victims = _bucket_rows(spark, p, 0).limit(50).select(
        "key", "span_idx", "x0", "x1"
    ).toPandas()
    assert len(victims) == 50

    def _file_mtimes():
        out = {}
        for root, _, files in os.walk(p.points_path):
            for f in files:
                if f.endswith(".parquet"):
                    q = os.path.join(root, f)
                    out[q] = os.path.getmtime(q)
        return out

    pre = _file_mtimes()
    rep = p.merge_delete_cow(spark, spark.createDataFrame(victims))
    post = _file_mtimes()
    assert rep["buckets_touched"] == 1
    # delete-by-key within the bucket: all spans of the victim keys go
    vk = set(victims["key"])
    expected = points_uniform[~points_uniform.key.isin(vk)]
    cold = {f: t for f, t in pre.items() if "/pbucket=0/" not in f}
    for f, t in cold.items():
        assert post.get(f) == t, f"cold bucket file rewritten: {f}"
    loaded = p.load(spark)
    assert loaded.points.count() == len(expected)
    v = loaded.validate()
    assert v["meta_sum"] == v["n_points"]
    assert _counts(loaded) == _box_oracle(expected)
    # resumability: re-running the committed call returns its result
    rep2 = p.merge_delete_cow(spark, spark.createDataFrame(victims))
    assert rep2 == rep


def test_cow_delete_empties_bucket(tmp_path, spark, cfg, index_uniform, points_uniform):
    """Deleting EVERY row of a bucket removes its partition directory (the
    thin-subtree collapse / tombstone erase, inner_tree.hpp:109-148) and
    drops its meta rows."""

    p = PersistentIndex(path=str(tmp_path / "idx2"), cfg=cfg)
    p.write(index_uniform)
    victims = _bucket_rows(spark, p, 0).select("key", "span_idx", "x0", "x1").toPandas()
    assert len(victims) > 0
    p.merge_delete_cow(spark, spark.createDataFrame(victims))
    assert "0" not in p.manifest()["buckets"]
    assert not [r for r, _, _ in os.walk(p.points_path) if r.endswith("pbucket=0")]
    loaded = p.load(spark)
    shift = cfg.dims * (cfg.index_level - p.bucket_level)
    assert loaded.meta.where(F.shiftrightunsigned("cell", shift) == 0).count() == 0
    vk = set(zip(victims["key"], victims["span_idx"]))
    expected = points_uniform[
        ~points_uniform.apply(lambda r: (r.key, r.span_idx) in vk, axis=1)
    ]
    assert loaded.points.count() == len(expected)


def test_checkpoint_index_release_frees_blocks(spark, cfg, index_uniform):
    """ADVICE r5: DataFrame.unpersist is a silent no-op on checkpoint-backed
    frames — checkpoint_index tracks the persisted RDD ids so release()
    actually frees each superseded generation's blocks (iterative U7/U8
    loops stack one generation per step otherwise)."""
    from pkd_tree_spark.updates import checkpoint_index

    jsc = spark.sparkContext._jsc

    def n_persistent():
        return len(jsc.getPersistentRDDs().keySet().toArray())

    # materialize the fixture's own cache first: its cached RDDs register
    # lazily and would otherwise be counted against gen1
    index_uniform.points.count()
    index_uniform.meta.count()
    base = n_persistent()
    gen1 = checkpoint_index(index_uniform)
    assert n_persistent() == base + 2  # points + meta checkpoint blocks
    gen2 = checkpoint_index(gen1)
    assert n_persistent() == base + 4
    gen1.release()
    assert n_persistent() == base + 2  # gen1's blocks actually dropped
    gen2.release()
    assert n_persistent() == base


def test_delete_oversized_batch_fallback_matches_broadcast(spark, cfg, index_uniform, points_uniform, monkeypatch):
    """A key batch past DELETE_BCAST_ROWS takes the shuffled-hash
    anti-join. Forced here by shrinking the broadcast gate; the surviving
    multiset must equal the broadcast path's."""
    import pkd_tree_spark.updates as U

    batch_pd = (
        index_uniform.points.where(F.col("key") % 53 == 3)
        .select("key", "span_idx", "x0", "x1")
        .toPandas()
    )
    want = merge_delete(
        index_uniform, spark.createDataFrame(batch_pd), exact_rows=True, persist=False
    ).points.toPandas()
    monkeypatch.setattr(U, "DELETE_BCAST_ROWS", 10)
    assert len(batch_pd.drop_duplicates(["key", "span_idx"])) > U.DELETE_BCAST_ROWS
    big = U.merge_delete(
        index_uniform, spark.createDataFrame(batch_pd), exact_rows=True, persist=False
    )
    got = big.points.toPandas()
    key = ["key", "span_idx", "x0", "x1"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True)[key],
        want.sort_values(key).reset_index(drop=True)[key],
    )
    plan = big.points._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan and "LeftAnti" in plan


def test_cow_delete_second_batch_not_skipped(tmp_path, spark, cfg, index_uniform, points_uniform):
    """ADVICE r6 #1 regression: a SECOND delete with a DIFFERENT batch must
    do real work (only a re-run of the last committed batch is a no-op;
    the r6 markers silently skipped any bucket touched by the first
    batch)."""

    p = PersistentIndex(path=str(tmp_path / "idx"), cfg=cfg)
    p.write(index_uniform)
    a = _bucket_rows(spark, p, 0).limit(20).select("key", "span_idx", "x0", "x1").toPandas()
    rep_a = p.merge_delete_cow(spark, spark.createDataFrame(a))
    n_after_a = p.load(spark).points.count()
    b = _bucket_rows(spark, p, 0).limit(20).select("key", "span_idx", "x0", "x1").toPandas()
    rep_b = p.merge_delete_cow(spark, spark.createDataFrame(b))
    assert rep_a["rows_deleted"] > 0 and rep_b["rows_deleted"] > 0
    assert p.load(spark).points.count() == n_after_a - rep_b["rows_deleted"]


def test_small_delete_survivors_stay_lazy(spark, cfg, index_uniform):
    """r7: a small delete's survivors are NOT persisted (no full-table
    cache write); counts and a range query stay exact through the lazy
    anti-join."""
    # key-predicate selection: the batch is a VERBATIM row multiset (all
    # copies of duplicated identities included), as exact_rows requires
    batch_pd = (
        index_uniform.points.where(F.col("key") % 97 == 3)
        .select("key", "span_idx", "x0", "x1")
        .toPandas()
    )
    dels = merge_delete(index_uniform, spark.createDataFrame(batch_pd), exact_rows=True)
    assert dels.points.storageLevel.useMemory is False  # lazy survivors
    assert dels.meta.storageLevel.useMemory is True  # meta still cached
    n = dels.points.count()
    assert n == index_uniform.points.count() - len(batch_pd)
    assert dels.meta.agg(F.sum("cnt")).collect()[0][0] == n


def test_delete_survivors_lazy_or_persisted_agree(spark, cfg, index_uniform, monkeypatch):
    """Both sides of DELETE_LAZY_PERSIST_FRAC: a batch under the fraction
    keeps its survivors lazy, and with the fraction patched to 0 the same
    batch persists them. Rows, meta and range counts are equal; only the
    persisted side caches the points."""
    import pkd_tree_spark.updates as U

    batch = spark.createDataFrame(
        index_uniform.points.where(F.col("key") % 97 == 3).select("key", "span_idx", "x0", "x1").toPandas()
    )
    lazy = U.merge_delete(index_uniform, batch, exact_rows=True)
    monkeypatch.setattr(U, "DELETE_LAZY_PERSIST_FRAC", 0)
    kept = U.merge_delete(index_uniform, batch, exact_rows=True)
    assert not lazy.points.storageLevel.useMemory
    assert kept.points.storageLevel.useMemory
    cols = ["key", "span_idx", "x0", "x1", "doc_id"]

    def rows(ix):
        return ix.points.select(*cols).toPandas().sort_values(cols).reset_index(drop=True)

    def meta(ix):
        return ix.meta.toPandas().sort_values("cell").reset_index(drop=True)

    pd.testing.assert_frame_equal(rows(lazy), rows(kept))
    pd.testing.assert_frame_equal(meta(lazy), meta(kept))
    assert _counts(lazy) == _counts(kept)
    kept.release()
    lazy.release()


# ---------------------------------------------------------------------------
# the duplicate-collapse decision across generations
# ---------------------------------------------------------------------------

ROW_SCHEMA = "doc_id string, span_idx int, key long, x0 long, x1 long"
GRID = 4000  # distinct lattice positions in _stacked_grid
STACK = 600  # copies of one more position


def _rows(x0, x1, key0: int) -> pd.DataFrame:
    key = key0 + np.arange(len(x0), dtype=np.int64)
    return pd.DataFrame({"doc_id": [f"d{k}" for k in key], "span_idx": 0, "key": key, "x0": x0, "x1": x1})


def _stacked_grid() -> pd.DataFrame:
    """GRID lattice positions once each (keys 0..GRID-1) plus STACK copies
    of one off-lattice position: points / distinct positions is
    4600 / 4001 = 1.15, so kNN refuses the duplicate collapse, and several
    points per occupied cell keep the skeleton from refusing it alone."""
    i = np.arange(GRID, dtype=np.int64)
    grid = _rows(i % 64 * 15_000 + 7, i // 64 * 15_000 + 11, 0)
    return pd.concat([grid, _rows(np.full(STACK, 500_003), np.full(STACK, 500_009), GRID)], ignore_index=True)


def _knn_probes(spark, ix, pts: pd.DataFrame, k: int = 10) -> list[str]:
    """Run a kNN batch on ``ix``, check it against brute force over
    ``pts``, and return the call sites of the jobs pruned_points ran."""
    src, first = inspect.getsourcelines(SpatialIndex.pruned_points)
    lines = range(first, first + len(src))
    q = FX.knn_fixtures(16, 2)
    out, sites = job_sites(spark, f"knn-probes-{id(ix)}", lambda: knn(ix, q, k=k).toPandas())
    px = pts[["x0", "x1"]].to_numpy()
    for r in q.itertuples():
        want = np.sort(((px - np.array([r.q0, r.q1])) ** 2).sum(axis=1))[:k].tolist()
        assert sorted(out.loc[out.qid == r.qid, "dist2"].tolist()) == want, r.qid
    return [s for s in sites if (m := re.search(r"index\.py:(\d+)", s)) and int(m.group(1)) in lines]


def _del_rows(spark, rows: pd.DataFrame):
    return spark.createDataFrame(rows[["key", "span_idx", "x0", "x1"]])


@pytest.fixture
def refused_parent(spark, cfg):
    """A built _stacked_grid index whose first kNN ran the estimate probe
    and refused the duplicate collapse."""
    base = _stacked_grid()
    g = SpatialIndex.build(spark.createDataFrame(base, schema=ROW_SCHEMA), cfg)
    assert _knn_probes(spark, g, base)
    assert g._pruned == "refused" and g._min_positions is not None
    yield g, base
    g.release()


def test_children_inherit_the_collapse_refusal(spark, refused_parent):
    """kNN on g, then an exact delete, a checkpoint and an insert: each
    child's first kNN refuses the collapse from the bound it inherited,
    with no pruned_points job, and matches brute force."""
    g, base = refused_parent
    gone = base[(base.key < GRID) & (base.key % 100 == 3)]
    dl = merge_delete(g, _del_rows(spark, gone), exact_rows=True)
    assert dl._min_positions == g._min_positions - len(gone)
    live = base[~base.key.isin(gone.key)]
    ck = checkpoint_index(dl)
    i = np.arange(100, dtype=np.int64)
    new = _rows(i * 9_001 + 3, i * 7_001 + 5, 10 * GRID)
    ins = merge_insert(ck, spark.createDataFrame(new, schema=ROW_SCHEMA))
    for name, child, pts in (("delete", dl, live), ("checkpoint", ck, live), ("insert", ins, pd.concat([live, new]))):
        assert _knn_probes(spark, child, pts) == [], name
        assert child._pruned == "refused", name
    for ix in (ins, ck, dl):
        ix.release()


def test_stacked_insert_on_refused_parent_engages(spark, refused_parent):
    """An insert of many copies of one position takes points / bound past
    PRUNE_MIN_DUP_FACTOR: its child probes and builds the pruned table."""
    g, base = refused_parent
    stack = _rows(np.full(3000, 250_001), np.full(3000, 750_001), 10 * GRID)
    child = merge_insert(g, spark.createDataFrame(stack, schema=ROW_SCHEMA))
    assert _knn_probes(spark, child, pd.concat([base, stack]))
    assert isinstance(child._pruned, tuple)
    child.release()


def test_key_delete_child_probes(spark, refused_parent):
    """A delete by keys alone may name rows the table lacks, so its child
    starts with no bound and its first kNN probes."""
    g, base = refused_parent
    gone = base[(base.key < GRID) & (base.key % 100 == 3)]
    child = merge_delete(g, spark.createDataFrame(gone[["key"]]))
    assert child._min_positions is None
    assert _knn_probes(spark, child, base[~base.key.isin(gone.key)])
    assert child._pruned == "refused"
    child.release()


def test_exact_delete_subtracts_removed_rows(spark, refused_parent):
    """Deleting 3000 lattice rows leaves 1000 + STACK points over ~1000
    positions: the bound less the removed rows puts points / bound past
    PRUNE_MIN_DUP_FACTOR, so the child probes and builds the pruned table
    (an unreduced bound would refuse it with no probe)."""
    g, base = refused_parent
    gone = base[base.key < 3000]
    child = merge_delete(g, _del_rows(spark, gone), exact_rows=True)
    assert _knn_probes(spark, child, base[base.key >= 3000])
    assert isinstance(child._pruned, tuple)
    child.release()


def test_write_replaces_previously_written_index(tmp_path, spark, cfg, index_uniform, points_uniform):
    """write(A) then write(B) to the same path loads as B (a stale
    "write done" marker once made the second write a silent no-op), and
    A's files are gone."""
    p = PersistentIndex(path=str(tmp_path / "idx"), cfg=cfg)
    p.write(index_uniform)
    half = points_uniform[points_uniform.key % 2 == 0]
    pts = load_points(spark, SF_DIR, dims=2, dist="uniform")
    p.write(SpatialIndex.build(pts.where(F.col("key") % 2 == 0), cfg))
    loaded = p.load(spark)
    assert loaded.points.count() == len(half)
    v = loaded.validate()
    assert v["meta_sum"] == v["n_points"]
    assert _counts(loaded) == _box_oracle(half)
    assert _live_only(p)


def test_each_update_publishes_one_manifest_replace(
    tmp_path, spark, cfg, index_uniform, points_uniform, monkeypatch
):
    """write, merge_insert_cow, retile_hot and merge_delete_cow each
    publish through exactly one os.replace of CURRENT, one generation
    apart, and write their generation's meta as one parquet file."""
    real = os.replace
    seen: list[str] = []

    def spy(src, dst, *a, **k):
        seen.append(os.path.basename(dst))
        return real(src, dst, *a, **k)

    monkeypatch.setattr(os, "replace", spy)
    p = PersistentIndex(path=str(tmp_path / "idx"), cfg=cfg)
    corner = spark.createDataFrame(_corner(points_uniform, 2000, 70_000_000))
    calls = [
        ("write", lambda: p.write(index_uniform)),
        ("insert", lambda: p.merge_insert_cow(spark, corner)),
        ("retile", lambda: p.retile_hot(spark, file_target_rows=500)),
        ("delete", lambda: p.merge_delete_cow(spark, corner.select("key", "span_idx", "x0", "x1"))),
    ]
    for gen, (name, call) in enumerate(calls):
        seen.clear()
        out = call()
        assert seen == ["CURRENT"], name
        assert p.manifest()["gen"] == gen, name
        mdir = os.path.join(p.path, p.manifest()["meta"])
        assert len([f for f in os.listdir(mdir) if f.endswith(".parquet")]) == 1, name
        if name == "retile":
            assert out["buckets_hot"] >= 1
    assert p.load(spark).points.count() == len(points_uniform)
    assert _live_only(p)


def _file_counts(p: PersistentIndex, target: int) -> dict:
    """Per bucket: (its files, the files a fresh split would make)."""
    out = {}
    for b, e in p.manifest()["buckets"].items():
        files = [f for f in os.listdir(os.path.join(p.path, e["dir"])) if f.endswith(".parquet")]
        out[int(b)] = (len(files), max(2, math.ceil(e["rows"] / target)))
    return out


def test_retile_hot_second_run_splits_new_hot_bucket(tmp_path, spark, cfg, index_uniform, points_uniform):
    """A second retile_hot after a skewed insert grows the first hot bucket
    and makes a second one hot must split BOTH and refresh their meta (a
    stale per-bucket marker once skipped the first bucket, and a stale
    "meta refreshed" marker skipped the whole refresh)."""
    from pkd_tree_spark.index import meta_of

    target = 500
    p = PersistentIndex(path=str(tmp_path / "idx"), cfg=cfg)
    p.write(index_uniform)
    p.merge_insert_cow(spark, spark.createDataFrame(_corner(points_uniform, 3000, 60_000_000)))
    assert p.retile_hot(spark, file_target_rows=target)["buckets_hot"] == 1
    grow = pd.concat([
        _corner(points_uniform, 1500, 61_000_000),
        _corner(points_uniform, 1500, 62_000_000, far=True),
    ])
    p.merge_insert_cow(spark, spark.createDataFrame(grow))
    rep = p.retile_hot(spark, file_target_rows=target)
    assert rep["buckets_hot"] == 2
    splits = _file_counts(p, target)
    rows = {b: e["rows"] for b, e in p.manifest()["buckets"].items()}
    threshold = sum(rows.values()) / rep["buckets_total"] * (1 + cfg.imbalance_ratio / 10)
    hot = [b for b, r in rows.items() if r > threshold]
    assert sorted(int(b) for b in hot) == [0, (1 << (2 * p.bucket_level)) - 1]
    for b in hot:
        files, want = splits[int(b)]
        assert files == want, (b, files, want)
    # the hot buckets' meta is exact: it equals a fresh aggregate
    loaded = p.load(spark)
    shift = cfg.dims * (cfg.index_level - p.bucket_level)
    hot_cells = F.shiftrightunsigned("cell", shift).isin([int(b) for b in hot])
    got = loaded.meta.where(hot_cells).toPandas().sort_values("cell").reset_index(drop=True)
    want = meta_of(loaded.points, cfg).where(hot_cells).toPandas().sort_values("cell").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_like=True, check_dtype=False)
    assert loaded.points.count() == len(points_uniform) + 6000


# ---------------------------------------------------------------------------
# fault injection: a fault at any step leaves the old or the new state
# committed, and a re-run converges on a clean run's state
# ---------------------------------------------------------------------------

class _Fault(Exception):
    pass


def _inject(m: pytest.MonkeyPatch, point: str) -> None:
    """Raise at ``point``: right after the staged point write or the meta
    write lands (files on disk, unpublished), just before the manifest
    replace, or just after it (before the cleanup)."""
    if point in ("stage", "meta"):
        real_parquet = DataFrameWriter.parquet
        mark = f"{os.sep}{'points' if point == 'stage' else 'meta'}{os.sep}g"

        def parquet(self, path, *a, **k):
            real_parquet(self, path, *a, **k)
            if mark in path:
                raise _Fault(point)

        m.setattr(DataFrameWriter, "parquet", parquet)
        return
    real_replace = os.replace

    def replace(src, dst, *a, **k):
        commit = os.path.basename(dst) == "CURRENT"
        if commit and point == "swap":
            raise _Fault(point)
        real_replace(src, dst, *a, **k)
        if commit and point == "sweep":
            raise _Fault(point)

    m.setattr(os, "replace", replace)


def _state(spark, p: PersistentIndex):
    ix = p.load(spark)
    cols = ["key", "span_idx", "x0", "x1", "doc_id"]
    pts = ix.points.select(*cols).toPandas().sort_values(cols).reset_index(drop=True)
    meta = ix.meta.toPandas().sort_values("cell").reset_index(drop=True)
    return pts, meta


def _assert_state(got, want) -> None:
    pd.testing.assert_frame_equal(got[0], want[0])
    pd.testing.assert_frame_equal(got[1], want[1])


@pytest.fixture(scope="module")
def fault_env(tmp_path_factory, spark, cfg, index_uniform, points_uniform):
    """A written template with one hot bucket whose meta bounds are
    conservative (an in-memory delete left them), the four updates, the
    template's state, and each update's clean-run (result, state)."""
    from pkd_tree_spark.updates import merge_delete, merge_insert

    root = tmp_path_factory.mktemp("faults")
    corner = _corner(points_uniform, 2000, 50_000_000)
    skewed = merge_insert(index_uniform, spark.createDataFrame(corner), persist=False)
    # the corner's upper half: the delete keeps its cell's old upper bounds
    gone = spark.createDataFrame(corner[corner.x0 >= 500][["key", "span_idx", "x0", "x1"]])
    stale = merge_delete(skewed, gone, persist=False, exact_rows=True)
    template = PersistentIndex(path=str(root / "template"), cfg=cfg)
    template.write(stale)
    ins = points_uniform.sample(300, random_state=7).assign(key=lambda f: f.key + 40_000_000)
    dels = points_uniform[points_uniform.key % 11 == 4][["key", "span_idx", "x0", "x1"]]
    ops = {
        "insert": lambda p: p.merge_insert_cow(spark, spark.createDataFrame(ins)),
        "delete": lambda p: p.merge_delete_cow(spark, spark.createDataFrame(dels)),
        "write": lambda p: p.write(index_uniform).manifest()["result"],
        "retile": lambda p: p.retile_hot(spark, file_target_rows=500),
    }

    def fresh(name: str) -> PersistentIndex:
        shutil.copytree(template.path, root / name)
        return PersistentIndex(path=str(root / name), cfg=cfg)

    clean = {}
    for op, call in ops.items():
        p = fresh(f"clean_{op}")
        clean[op] = (call(p), _state(spark, p))
    return {"fresh": fresh, "ops": ops, "pre": _state(spark, template), "clean": clean}


@pytest.mark.parametrize(
    "op,point",
    [(op, pt) for op in ("insert", "delete") for pt in ("stage", "meta", "swap", "sweep")]
    + [("write", "stage"), ("retile", "meta")],
)
def test_fault_then_rerun_matches_clean_run(spark, fault_env, op, point):
    p = fault_env["fresh"](f"{op}_{point}")
    call = fault_env["ops"][op]
    result, post = fault_env["clean"][op]
    pre = fault_env["pre"]
    assert not (post[0].equals(pre[0]) and post[1].equals(pre[1]))  # the update changes the state
    with pytest.MonkeyPatch.context() as m:
        _inject(m, point)
        with pytest.raises(_Fault):
            call(p)
    # a reader after the fault sees one whole state: the old one, or the
    # new one once the manifest was replaced
    _assert_state(_state(spark, p), post if point == "sweep" else pre)
    assert call(p) == result
    _assert_state(_state(spark, p), post)
    assert _live_only(p)
    # a re-run of the completed call rewrites nothing
    files = _tree_mtimes(p.path)
    assert call(p) == result
    assert _tree_mtimes(p.path) == files
