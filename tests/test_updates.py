"""Batch insert/delete, skew/retile, sliding window, persistence + lineage
(reference: tests/test.cpp:53-74 insert/delete harness; testFramework.h
:209-254 incremental build; :817-869 sliding window)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from pkd_tree_spark import fixtures as FX
from pkd_tree_spark.documents import load_points
from pkd_tree_spark.index import SpatialIndex
from pkd_tree_spark.ranges import range_count_boxes
from pkd_tree_spark.updates import (
    Checkpoint,
    PersistentIndex,
    check_skew,
    merge_delete,
    merge_insert,
    retile,
    sliding_window,
)
from tests.conftest import SF_DIR

BOXES = FX.box_fixtures(8, 2)


def _counts(idx) -> dict:
    return range_count_boxes(idx, BOXES).toPandas().set_index("qid")["cnt"].to_dict()


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
    # lineage markers exist -> a second write is a resume no-op
    ck = Checkpoint(str(tmp_path / "idx/_lineage"))
    assert ck.has("write_points") and ck.has("write_meta")
    before = ck.info("write_points")
    p.write(index_uniform)
    assert ck.info("write_points") == before  # not recomputed

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
    p.merge_insert_cow(spark, spark.createDataFrame(batch))
    ck = Checkpoint(str(tmp_path / "idx/_lineage_merge"))
    done = [f for f in __import__("os").listdir(ck.path) if f.startswith("swap_")]
    assert len(done) == 1  # copy-on-write granularity: one bucket swapped
    loaded = p.load(spark)
    assert loaded.points.count() == len(points_uniform) + 10


def test_cow_meta_refresh_reads_only_touched_buckets(
    tmp_path, spark, cfg, index_uniform, points_uniform
):
    """The meta refresh after a COW merge must be TARGETED: only touched
    buckets' point files are read (partition pruning), untouched cells'
    meta rows are carried over verbatim. Proven behaviorally: delete an
    UNTOUCHED bucket's data files before the merge — a full-table refresh
    would silently drop that bucket's meta rows (or fail); the targeted
    refresh never reads it, so its meta rows survive unchanged."""
    import os
    import shutil

    p = PersistentIndex(path=str(tmp_path / "idx"), cfg=cfg)
    p.write(index_uniform)
    meta_before = spark.read.parquet(p.meta_path).toPandas().set_index("cell").sort_index()

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
    bucket_dirs = sorted(
        d for d in os.listdir(p.points_path) if d.startswith("pbucket=") and d != "pbucket=0"
    )
    victim = bucket_dirs[-1]
    victim_bucket = int(victim.split("=")[1])
    shutil.rmtree(os.path.join(p.points_path, victim))

    p.merge_insert_cow(spark, spark.createDataFrame(batch))

    meta_after = spark.read.parquet(p.meta_path).toPandas().set_index("cell").sort_index()
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
    import os

    p = PersistentIndex(path=str(tmp_path / "idx"), cfg=cfg)
    p.write(index_uniform)
    with_bucket = spark.read.parquet(p.points_path)
    victims = with_bucket.where(F.col("pbucket") == 0).limit(50).select(
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
    # resumability: a second call with the same lineage is a no-op
    rep2 = p.merge_delete_cow(spark, spark.createDataFrame(victims))
    assert rep2["rows_deleted"] == 0 or rep2["rows_deleted"] == rep["rows_deleted"]


def test_cow_delete_empties_bucket(tmp_path, spark, cfg, index_uniform, points_uniform):
    """Deleting EVERY row of a bucket removes its partition directory (the
    thin-subtree collapse / tombstone erase, inner_tree.hpp:109-148) and
    drops its meta rows."""
    import os

    p = PersistentIndex(path=str(tmp_path / "idx2"), cfg=cfg)
    p.write(index_uniform)
    with_bucket = spark.read.parquet(p.points_path)
    victims = with_bucket.where(F.col("pbucket") == 0).select(
        "key", "span_idx", "x0", "x1"
    ).toPandas()
    assert len(victims) > 0
    p.merge_delete_cow(spark, spark.createDataFrame(victims))
    assert not os.path.exists(os.path.join(p.points_path, "pbucket=0"))
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
    """ADVICE r6 #1 regression: lineage markers are namespaced by a batch
    fingerprint, so a SECOND delete with a DIFFERENT batch must do real
    work (the r6 markers would have silently skipped any bucket touched
    by the first batch)."""
    from pkd_tree_spark.updates import PersistentIndex

    p = PersistentIndex(path=str(tmp_path / "idx"), cfg=cfg)
    p.write(index_uniform)
    rows = spark.read.parquet(p.points_path).where(F.col("pbucket") == 0)
    a = rows.limit(20).select("key", "span_idx", "x0", "x1").toPandas()
    rep_a = p.merge_delete_cow(spark, spark.createDataFrame(a))
    n_after_a = p.load(spark).points.count()
    b = (
        spark.read.parquet(p.points_path)
        .where(F.col("pbucket") == 0)
        .limit(20)
        .select("key", "span_idx", "x0", "x1")
        .toPandas()
    )
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
