"""Round-7 at-scale studies that the FROZEN bench.py does not carry
(guide §1.4: isolate each measurement; VERDICT r6 "Next round" #1/#4/#6).

Each study runs standalone (`python bench_extra.py <study>`), honors
$SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS / $SPARK_GRAFT_REPLICATE like
bench.py, and appends its record to a JSON file under BENCH/.

  cow            time merge_insert_cow / merge_delete_cow of a 1% batch
                 against a persisted index at the current replicate scale
                 (the reference's persisted-update benchmark,
                 script/data/summary_3inba.csv) — the write itself is
                 untimed setup; rows_rewritten must track touched buckets.
  window         U8 sliding window at scale: 10 period batches, window 5,
                 per-step walls (insert+delete+checkpoint per step).
  ann            ann_lsh with 4096 queries over a rotated-replica corpus
                 (~1M vectors); recall@10 vs a driver-side exact numpy
                 ground truth computed OUTSIDE the timed region.
  varden-profile build stage breakdown (derivation+stage write / range
                 shuffle+persist / meta agg) for uniform AND varden at
                 this core count — run it at 4 and 16 cores to localize
                 the varden build's 0.50 scaling efficiency.
  range_scan     both sides of ranges.DRIVER_FINISH_MAX_ROWS (driver-
                 finished boundary scan vs leaf join) for 64/1000/4000
                 boxes over 0.1M-4.8M synthetic points, interleaved pairs;
                 the bound is patched in-process per call.
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
REPLICATE = int(os.environ.get("SPARK_GRAFT_REPLICATE", "64"))
OUT = os.environ.get("SPARK_GRAFT_EXTRA_OUT", "")


def _spark():
    from pkd_tree_spark.session import get_spark

    spark = get_spark(app="pkd-bench-extra", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()
    return spark


def _points(spark, dist: str):
    """Replicated points exactly as bench.py builds them."""
    from pyspark.sql import functions as F

    from pkd_tree_spark.documents import doc_key_col, load_points

    keys_df = None
    if REPLICATE > 1:
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        stride = 20_000_000 if REPLICATE <= 64 else 10_000_000
        keys_df = (
            spark.range(0, REPLICATE, 1, CPUS)
            .select(F.col("id").alias("rep"))
            .crossJoin(F.broadcast(li.select(doc_key_col().alias("k"))))
            .select((F.col("k") + F.col("rep") * F.lit(stride)).alias("k"))
        )
    return load_points(spark, SF_DIR, dims=2, dist=dist, keys_df=keys_df)


def _cfg():
    from pkd_tree_spark.config import EngineConfig

    n_target = REPLICATE * 600_000
    parts = max(32, n_target // 1_200_000)
    return EngineConfig(dims=2, index_level=7, knn_level=6, partitions=parts)


def study_cow() -> dict:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from pkd_tree_spark.index import SpatialIndex
    from pkd_tree_spark.updates import PersistentIndex
    from pkd_tree_spark.zorder import cell_col

    spark = _spark()
    cfg = _cfg()
    ix = SpatialIndex.build(_points(spark, "uniform"), cfg)
    n = ix.points.count()
    ix.meta.count()
    ix.release_staged()
    tmp = tempfile.mkdtemp(prefix="pkd_cow_scale_")
    rec = {"study": "cow", "n_points": int(n), "cpus": CPUS, "replicate": REPLICATE}
    try:
        p = PersistentIndex(path=tmp, cfg=cfg)
        t0 = time.time()
        p.write(ix)
        rec["write_index_sec"] = round(time.time() - t0, 3)  # untimed setup, recorded for context
        batch = (
            ix.points.where(F.col("key") % 100 == 7)
            .select("doc_id", "span_idx", (F.col("key") + 3_000_000_000).alias("key"), "x0", "x1")
            .localCheckpoint(eager=True)
        )
        bn = batch.count()
        rec["batch_rows"] = int(bn)
        ix.release()

        t0 = time.time()
        ins = p.merge_insert_cow(spark, batch)
        rec["cow_insert_1pct_sec"] = round(time.time() - t0, 3)
        rec["cow_insert_buckets"] = ins["buckets_touched"]

        del_rows = batch.select("key", "span_idx", "x0", "x1")
        t0 = time.time()
        dels = p.merge_delete_cow(spark, del_rows)
        rec["cow_delete_1pct_sec"] = round(time.time() - t0, 3)
        rec["cow_delete_buckets"] = dels["buckets_touched"]
        rec["cow_rows_deleted"] = dels["rows_deleted"]

        loaded = p.load(spark)
        rec["rows_after_roundtrip"] = int(loaded.points.count())
        rec["roundtrip_exact"] = rec["rows_after_roundtrip"] == int(n)

        # CLUSTERED delete: a batch confined to one Morton bucket — the
        # case COW exists for ("a 1% delete rewrites ~1% of files"): only
        # that bucket's files are rewritten
        bucket = cell_col(F.col("morton"), cfg.dims, p.bucket_level, cfg.grid_bits)
        clustered = (
            p.load(spark).points
            .where((bucket == 5) & (F.col("key") % 2 == 0))
            .select("key", "span_idx", "x0", "x1")
            .localCheckpoint(eager=True)
        )
        rec["clustered_batch_rows"] = int(clustered.count())
        t0 = time.time()
        dc = p.merge_delete_cow(spark, clustered)
        rec["cow_delete_clustered_sec"] = round(time.time() - t0, 3)
        rec["cow_delete_clustered_buckets"] = dc["buckets_touched"]
        rec["cow_delete_clustered_rows"] = dc["rows_deleted"]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return rec


def study_window() -> dict:
    from pyspark.sql import functions as F

    from pkd_tree_spark.index import SpatialIndex
    from pkd_tree_spark.updates import sliding_window

    spark = _spark()
    cfg = _cfg()
    pts = _points(spark, "uniform")
    from pkd_tree_spark.index import tracked_local_checkpoint, release_rdd_ids

    pts, ids = tracked_local_checkpoint(pts)
    n = pts.count()
    periods = 10
    batches = [pts.where(F.col("key") % periods == t) for t in range(periods)]
    idx = SpatialIndex.build(pts.where(F.lit(False)), cfg)
    steps: list[float] = []
    last = time.time()

    def on_step(t, cur):
        nonlocal last
        steps.append(round(time.time() - last, 3))
        last = time.time()

    t0 = time.time()
    out = sliding_window(idx, batches, window_len=5, on_step=on_step)
    nf = out.points.count()
    total = round(time.time() - t0, 3)
    out.release()
    release_rdd_ids(spark, ids)
    return {
        "study": "window",
        "n_points": int(n),
        "cpus": CPUS,
        "replicate": REPLICATE,
        "periods": periods,
        "window_len": 5,
        "total_sec": total,
        "per_step_sec": steps,
        "final_rows": int(nf),
    }


def _replicated_embeddings(spark, reps: int):
    """Distinct-by-construction replicas: replica r rotates the embedding
    array by r%d positions (norm-preserving, so the LSH geometry stays
    honest) and offsets vec_id."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n_base = emb.count()
    d = len(emb.select("embedding").head()[0])
    reps_df = spark.range(0, reps, 1, CPUS).select(F.col("id").alias("rep"))
    rot = F.col("rep") % d
    rolled = F.concat(
        F.slice(F.col("embedding"), rot + 1, F.lit(d)),
        F.slice(F.col("embedding"), F.lit(1), rot),
    )
    return (
        reps_df.crossJoin(F.broadcast(emb))
        .select(
            (F.col("vec_id") + F.col("rep") * F.lit(n_base)).alias("vec_id"),
            rolled.alias("embedding"),
            "label",
        )
    ), n_base, d


def study_ann(
    n_queries: int = int(os.environ.get("SPARK_GRAFT_ANN_QUERIES", "4096")),
    reps: int = int(os.environ.get("SPARK_GRAFT_ANN_REPS", "512")),
    k: int = 10,
) -> dict:
    import numpy as np

    from pyspark.sql import functions as F

    from pkd_tree_spark.pipeline.similarity import ann_lsh

    spark = _spark()
    emb, n_base, d = _replicated_embeddings(spark, reps)
    emb = emb.localCheckpoint(eager=True)  # corpus materialized: time the operator, not synthesis
    n = emb.count()

    t0 = time.time()
    res = ann_lsh(emb, n_queries=n_queries, k=k)
    got = {(int(r["qid"]), int(r["vec_id"])) for r in res.collect()}
    ann_sec = round(time.time() - t0, 3)

    # exact ground truth OUTSIDE the timed region: quantize exactly like
    # quantized_embeddings (floor(double(e)*1000)), rank by (-dot, vec_id).
    # float64 dots are exact here (|qv|<~2^11, d+sums << 2^53).
    base_pd = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").orderBy("vec_id").toPandas()
    E = np.stack(base_pd["embedding"].to_numpy())
    Q = np.floor(E.astype(np.float64) * 1000)  # (n_base, d)
    # query q lives in replica q//n_base (rotation (q//n_base)%d)
    qid_arr = np.arange(n_queries)
    qrep = qid_arr // n_base
    qbase_i = qid_arr % n_base
    qrows = np.empty((n_queries, d))
    for rep in np.unique(qrep):
        m = qrep == rep
        qrows[m] = np.roll(Q[qbase_i[m]], -(int(rep) % d), axis=1)
    exact = set()
    topk_scores = None
    topk_ids = None
    for r in range(reps):
        rot = r % d
        C = np.roll(Q, -rot, axis=1)  # replica block r, ids r*n_base..
        dots = qrows @ C.T  # (nq, n_base)
        ids = np.arange(n_base, dtype=np.int64) + r * n_base
        # exclude self (query q == corpus row q)
        m = qrep == r
        if m.any():
            dots[np.flatnonzero(m), qbase_i[m]] = -np.inf
        if topk_scores is None:
            topk_scores = dots
            topk_ids = np.broadcast_to(ids, dots.shape).copy()
        else:
            topk_scores = np.concatenate([topk_scores, dots], axis=1)
            topk_ids = np.concatenate([topk_ids, np.broadcast_to(ids, dots.shape)], axis=1)
        if topk_scores.shape[1] > 4 * k:
            # keep only the running top-4k per query to bound memory
            part = np.argpartition(-topk_scores, 4 * k - 1, axis=1)[:, : 4 * k]
            topk_scores = np.take_along_axis(topk_scores, part, axis=1)
            topk_ids = np.take_along_axis(topk_ids, part, axis=1)
    order = np.lexsort((topk_ids, -topk_scores), axis=1)[:, :k]
    final_ids = np.take_along_axis(topk_ids, order, axis=1)
    for i in range(n_queries):
        for v in final_ids[i]:
            exact.add((i, int(v)))
    recall = len(exact & got) / max(1, len(exact))
    return {
        "study": "ann",
        "corpus_vectors": int(n),
        "n_queries": n_queries,
        "k": k,
        "cpus": CPUS,
        "ann_lsh_sec": ann_sec,
        "recall_at_10": round(recall, 4),
    }


def study_varden_profile() -> dict:
    from pyspark.storagelevel import StorageLevel

    from pkd_tree_spark.index import meta_of, tracked_local_checkpoint, release_rdd_ids, _plan_size_bytes, with_morton

    from pyspark.sql import functions as F

    spark = _spark()
    cfg = _cfg()
    rec = {"study": "varden-profile", "cpus": CPUS, "replicate": REPLICATE, "stages": {}}
    for dist in ("uniform", "varden"):
        pts = _points(spark, dist)
        enc = with_morton(pts, cfg)
        t0 = time.time()
        staged, ids = tracked_local_checkpoint(enc, StorageLevel.DISK_ONLY)
        t_stage = time.time() - t0
        t0 = time.time()
        shuffled = staged.repartitionByRange(cfg.partitions, "morton").sortWithinPartitions("morton").persist()
        n = shuffled.count()
        t_shuffle = time.time() - t0
        t0 = time.time()
        meta = meta_of(shuffled, cfg).persist()
        meta.count()
        t_meta = time.time() - t0
        rec["stages"][dist] = {
            "derive_and_stage_write_sec": round(t_stage, 3),
            "range_shuffle_persist_sec": round(t_shuffle, 3),
            "meta_agg_sec": round(t_meta, 3),
            "n": int(n),
        }
        meta.unpersist(True)
        shuffled.unpersist(True)
        release_rdd_ids(spark, ids)
    return rec


RANGE_SCAN_SIZES = (("uniform", 100_000), ("uniform", 400_000), ("uniform", 1_600_000),
                    ("uniform", 4_800_000), ("varden", 1_600_000))
RANGE_SCAN_BOXES = (64, 1000, 4000)
RANGE_SCAN_PAIRS = 5


def _mixed_boxes(nb: int, n: int):
    """nb boxes cycling through the three selectivity brackets by qid."""
    from pkd_tree_spark import fixtures as FX

    out = FX.box_fixtures_bracketed(nb, 2, n, 0)
    for b in (1, 2):
        sel = out["qid"] % 3 == b
        out.loc[sel] = FX.box_fixtures_bracketed(nb, 2, n, b).loc[sel]
    return out


def study_range_scan() -> dict:
    """Both sides of ranges.DRIVER_FINISH_MAX_ROWS for driver-resolved
    range counts: the boundary scan collected and finished on the driver
    (bound patched to 2^62) against the leaf join (bound patched to 0),
    RANGE_SCAN_PAIRS interleaved pairs per (points, boxes) cell, first
    side alternating, on indexes built from synthetic keys (perfbench's
    recipe; SF_DIR and REPLICATE are not read). Each cell records the
    rows the scan returns and the (row, query) pairs it tests, exact from
    the skeleton, and the side the shipped bound picks."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from pkd_tree_spark import ranges as R
    from pkd_tree_spark.config import EngineConfig
    from pkd_tree_spark.documents import load_points
    from pkd_tree_spark.index import SpatialIndex

    spark = _spark()
    shipped = R.DRIVER_FINISH_MAX_ROWS
    rec = {"study": "range_scan", "cpus": CPUS, "pairs": RANGE_SCAN_PAIRS, "bound": shipped, "cells": []}

    def run(ix, bx, bound):
        R.DRIVER_FINISH_MAX_ROWS = bound
        t0 = time.perf_counter()
        out = R.range_count_boxes(ix, bx).toPandas()
        return time.perf_counter() - t0, out.set_index("qid")["cnt"].sort_index()

    try:
        for dist, n in RANGE_SCAN_SIZES:
            cfg = EngineConfig(dims=2, index_level=7, knn_level=6, partitions=max(2 * CPUS, n // 150_000))
            keys = spark.range(0, n, 1, CPUS).select((F.lit(7_000_001) + F.col("id") * 3).alias("k"))
            ix = SpatialIndex.build(load_points(spark, "", dims=2, dist=dist, keys_df=keys), cfg)
            ix.points.count()
            ix.release_staged()
            for nb in RANGE_SCAN_BOXES:
                bx = _mixed_boxes(nb, n)
                _, res = R._resolve(ix, "box", bx, None, count=True)
                if not isinstance(res, pd.DataFrame):  # resolved in the executors: the join either way
                    continue
                rows = R._scan(ix, res, ["x0", "x1"])[1]
                pairs = R._pairs(ix.meta_np(), res)
                walls = {"driver": [], "join": []}
                _, a = run(ix, bx, 1 << 62)  # warm both sides, and check them
                _, b = run(ix, bx, 0)
                assert a.equals(b), f"{dist} {n} {nb}: the two sides' counts differ"
                for i in range(RANGE_SCAN_PAIRS):
                    for side in (("driver", "join") if i % 2 == 0 else ("join", "driver")):
                        walls[side].append(round(run(ix, bx, 1 << 62 if side == "driver" else 0)[0], 4))
                med = {k: float(np.median(v)) for k, v in walls.items()}
                wins = sum(d < j for d, j in zip(walls["driver"], walls["join"]))
                cell = {
                    "dist": dist, "n_points": n, "partitions": cfg.partitions, "boxes": nb,
                    "scan_rows": rows, "pairs": pairs, "pulled": rows + pairs,
                    "shipped_side": "driver" if rows + pairs <= shipped else "join",
                    "driver_s": walls["driver"], "join_s": walls["join"],
                    "driver_p50_s": round(med["driver"], 4), "join_p50_s": round(med["join"], 4),
                    "driver_over_join": round(med["driver"] / med["join"], 3), "driver_wins": wins,
                }
                print(json.dumps(cell), file=sys.stderr)
                rec["cells"].append(cell)
            ix.release()
    finally:
        R.DRIVER_FINISH_MAX_ROWS = shipped
    return rec


def main():
    study = sys.argv[1] if len(sys.argv) > 1 else "cow"
    fn = {
        "cow": study_cow,
        "window": study_window,
        "ann": study_ann,
        "varden-profile": study_varden_profile,
        "range_scan": study_range_scan,
    }[study]
    rec = fn()
    rec["sf_dir"] = SF_DIR
    print(json.dumps(rec))
    if OUT:
        os.makedirs(os.path.dirname(OUT) or ".", exist_ok=True)
        existing = []
        if os.path.exists(OUT):
            with open(OUT) as f:
                existing = json.load(f)
        existing.append(rec)
        with open(OUT, "w") as f:
            json.dump(existing, f, indent=2)


if __name__ == "__main__":
    main()
