"""Batch updates: MERGE-style insert/delete, skew-triggered re-tiling,
sliding-window maintenance, and resumable lineage checkpoints.

Reference operators reproduced (SURVEY.md §2.5-2.6):
  U1 batchInsert  (batch_op/batch_insert.hpp:59-191)
  U3 rebuild_with_insert (batch_insert.hpp:94-105)      -> retile/compact
  U4/U5 batchDelete full/partial cover (batch_op/batch_delete.hpp)
  U7 incremental build (testFramework.h:209-254)
  U8 sliding-window insert+delete (testFramework.h:817-869)
  M1 weight-balance imbalance test (utility/tree_node.hpp:117-131)
  M2 update_inner_tree metadata refresh (batch_helpers.hpp:124-142)

Spark-first semantics: the index is immutable data + metadata; an update
produces a new SpatialIndex whose metadata was refreshed *incrementally*
(delta aggregation over only the touched cells — the analog of re-linking
only tagged skeleton nodes). In a real deployment the points table is an
Iceberg table and insert/delete are `MERGE INTO` with copy-on-write of the
touched cell files; here the same dataflow runs on DataFrames/parquet, and
``PersistentIndex`` shows the on-disk layout (points partitioned by Morton
bucket, per-bucket lineage markers so a killed run resumes without
recomputation).

Delete metadata note: per-cell counts stay exact; per-cell min/max bounds
become conservative supersets after deletes (still correct for pruning —
covers use *geometric* cell bounds). A retile/compact recomputes them.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import EngineConfig, DEFAULT_CONFIG
from .index import SpatialIndex, release_rdd_ids, tracked_local_checkpoint
from .zorder import cell_col, morton_col

__all__ = [
    "merge_insert",
    "merge_delete",
    "checkpoint_index",
    "check_skew",
    "retile",
    "sliding_window",
    "Checkpoint",
    "PersistentIndex",
]

# Delete-key sets at or below this row count are broadcast to the anti-join
# (build-side hash relation ~40B/row -> ~320MB at the cap: inside a normal
# executor heap, per guide §3.1 "a few hundred MB is usually fine"), so the
# surviving-rows pass STREAMS the points table with ZERO full-table shuffle
# — the r5 plan sort-merge-joined all 153.6M rows on an unclustered key
# TWICE and cost 165s vs the matching insert's 19.5s @16c. r6 capped this
# at 4M, pushing the 38.4M 10% batch (5.5M keys) onto the full-table
# shuffled-hash fallback; measured at 38.4M@16c the single 5.5M-key
# broadcast beats both that fallback and a 16-way sliced broadcast union.
DELETE_BCAST_ROWS = 8_000_000
# Survivors of a SMALL delete (batch under this fraction of the table) are
# left LAZY instead of persisted: the broadcast anti-join over the cached
# parent recomputes in one streamed pass, while the r6 eager persist paid
# a ~full-table cache write for a 1% delete (the reference's tombstone
# walk touches only affected subtrees; measured residue: delete/insert
# 2.05x at 153.6M against a <=2x goal).
DELETE_LAZY_PERSIST_FRAC = 0.05


def _with_morton(points_df: DataFrame, cfg: EngineConfig) -> DataFrame:
    gcols = [f"shiftrightunsigned(x{j}, {cfg.coord_shift})" for j in range(cfg.dims)]
    return points_df.withColumn("morton", morton_col(gcols, cfg.dims, cfg.grid_bits))


def _meta_of(points: DataFrame, cfg: EngineConfig) -> DataFrame:
    xcols = [f"x{j}" for j in range(cfg.dims)]
    return points.groupBy(
        cell_col(F.col("morton"), cfg.dims, cfg.index_level, cfg.grid_bits).alias("cell")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        *[F.min(c).alias(f"mn{j}") for j, c in enumerate(xcols)],
        *[F.max(c).alias(f"mx{j}") for j, c in enumerate(xcols)],
    )


def _merge_meta(old: DataFrame, delta: DataFrame, cfg: EngineConfig, sign: int) -> DataFrame:
    """Combine per-cell stats; sign=+1 insert, -1 delete. Cells reaching
    cnt<=0 drop out (the thin-subtree collapse, kdTreeParallel.h:42)."""
    d = cfg.dims
    # selectExpr strings, not Column chains: the Column form issued ~8 py4j
    # round-trips per dim and this runs once per step of iterative loops
    o = old.selectExpr(
        "cell", "cnt AS ocnt",
        *[f"mn{j} AS omn{j}" for j in range(d)],
        *[f"mx{j} AS omx{j}" for j in range(d)],
    )
    dl = delta.selectExpr(
        "cell", "cnt AS dcnt",
        *[f"mn{j} AS dmn{j}" for j in range(d)],
        *[f"mx{j} AS dmx{j}" for j in range(d)],
    )
    j = o.join(dl, "cell", "full_outer")
    exprs = ["cell", f"coalesce(ocnt, 0) + ({sign}) * coalesce(dcnt, 0) AS cnt"]
    for jj in range(d):
        if sign > 0:
            exprs.append(f"least(coalesce(omn{jj}, dmn{jj}), coalesce(dmn{jj}, omn{jj})) AS mn{jj}")
            exprs.append(f"greatest(coalesce(omx{jj}, dmx{jj}), coalesce(dmx{jj}, omx{jj})) AS mx{jj}")
        else:  # delete: keep old (conservative) bounds
            exprs.append(f"coalesce(omn{jj}, dmn{jj}) AS mn{jj}")
            exprs.append(f"coalesce(omx{jj}, dmx{jj}) AS mx{jj}")
    return j.selectExpr(*exprs).where("cnt > 0")


def merge_insert(index: SpatialIndex, new_points: DataFrame, persist: bool = True) -> SpatialIndex:
    """U1 batchInsert: encode the batch, append, refresh metadata
    incrementally (only touched cells aggregate — one small shuffle)."""
    cfg = index.cfg
    base_cols = [c for c in index.points.columns if c != "morton"]
    batch = _with_morton(new_points.select(*base_cols), cfg)
    pts = index.points.unionByName(batch)
    meta = _merge_meta(index.meta, _meta_of(batch, cfg), cfg, +1)
    if persist:
        pts, meta = pts.persist(), meta.persist()
    return SpatialIndex(points=pts, meta=meta, cfg=cfg)


def merge_delete(
    index: SpatialIndex,
    delete_keys: DataFrame,
    persist: bool = True,
    exact_rows: bool = False,
) -> SpatialIndex:
    """U4/U5 batchDelete by (key) or (key, span_idx): MERGE ... WHEN MATCHED
    THEN DELETE == left_anti join. Partial cover (absent keys) is a no-op by
    construction — the reference's FullCovered/PartialCover split collapses
    (batch_delete.hpp:93-107).

    Scale shape: the (small, materialized-and-counted) key set is BROADCAST
    to the anti-join when it fits (<= DELETE_BCAST_ROWS), so the surviving
    rows are one streamed pass over the points — no full-table shuffle and
    the range partitioning survives. Oversized batches use a shuffled hash
    join (no 10^8-row sort). A delete fundamentally scans the table once
    (keys aren't clustered); the reference pays the same full lookup pass,
    just in shared memory (batch_delete.hpp:146-265).

    ``exact_rows=True``: the caller warrants that ``delete_keys`` holds
    EXACTLY the rows being removed, one per deleted point, with their
    coordinate columns (x0..x{d-1}) — the reference's native batchDelete
    contract, which takes points, not keys (batch_delete.hpp:59-76). The
    per-cell metadata delta is then aggregated from the batch itself
    (O(batch)), eliminating the left_semi "removed rows" pass entirely;
    with a broadcast anti-join a 1% delete then costs ONE streamed pass
    over the table plus an O(batch) aggregate. Use only when the batch is
    known to match (e.g. deleting rows previously read from, or inserted
    into, this index); a stale batch would corrupt the per-cell counts."""
    cfg = index.cfg
    d = cfg.dims
    xcols = [f"x{j}" for j in range(d)]
    on = [c for c in ("key", "span_idx") if c in delete_keys.columns]
    # materialize + count the key set once: the count gates the broadcast
    # (a measured gate, not a guess — AQE's estimate of a derived batch can
    # miss) and the checkpoint stops the batch pipeline re-running per join
    keys, key_ids = tracked_local_checkpoint(delete_keys.select(*on).distinct())
    nk = keys.count()
    keyside = None
    if nk <= DELETE_BCAST_ROWS:
        keyside = F.broadcast(keys)
        pts = index.points.join(keyside, on, "left_anti")
    else:
        pts = index.points.join(keys.hint("shuffle_hash"), on, "left_anti")
    if exact_rows:
        delta_src = _with_morton(delete_keys.select(*on, *xcols), cfg)
    else:
        if keyside is None:
            keyside = keys.hint("shuffle_hash")
        delta_src = index.points.join(keyside, on, "left_semi")
    meta = _merge_meta(index.meta, _meta_of(delta_src, cfg), cfg, -1)
    if persist:
        meta = meta.persist()
        # count-gate the survivors persist (VERDICT r6 #7): a small delete
        # keeps its survivors LAZY — downstream consumers re-run the
        # streamed broadcast anti-join over the still-cached parent instead
        # of paying a full-table cache write per small delete
        tot = int(index.meta_np()["cum"][-1])
        if nk > DELETE_LAZY_PERSIST_FRAC * tot:
            pts = pts.persist()
    out = SpatialIndex(points=pts, meta=meta, cfg=cfg, _staged_ids=key_ids)
    return out


def checkpoint_index(index: SpatialIndex) -> SpatialIndex:
    """Truncate an index's lineage (iterative U7/U8 loops nest two joins per
    step — planning time explodes without this) with the checkpointed RDD
    ids TRACKED, so ``SpatialIndex.release()`` actually frees the blocks:
    DataFrame.unpersist() is a silent no-op on checkpoint-backed frames
    (only the CacheManager is consulted; checkpoint blocks are freed by the
    async ContextCleaner, far too late for a loop that makes one generation
    per step — measured: ~20 stacked generations across the bench sweep
    spiked later in-suite timings 3x).

    Two scale-shape details (measured on the sf0.1 incremental sweep,
    ~1.4s/step -> ~0.7s/step):
      * unionByName concatenates partition lists, so an N-step insert loop
        otherwise snowballs to N x partitions tiny tasks per job (288 by
        step 9 of the r10 sweep) — coalesce (narrow, no shuffle) restores
        the configured width before materializing;
      * the points and meta checkpoints are INDEPENDENT eager jobs —
        submitting them from two driver threads lets the small meta job
        back-fill the points job's straggler tail (guide §2.6)."""
    # coalesce never increases a partition count, so this is a no-op when
    # the index is already at its configured width
    pts_df = index.points.coalesce(index.cfg.partitions)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_pts = pool.submit(tracked_local_checkpoint, pts_df)
        f_meta = pool.submit(tracked_local_checkpoint, index.meta)
        pts, ids_p = f_pts.result()
        meta, ids_m = f_meta.result()
    return SpatialIndex(points=pts, meta=meta, cfg=index.cfg, _staged_ids=ids_p + ids_m)


def check_skew(index: SpatialIndex) -> dict:
    """M1 analog: per-cell population skew. The reference rebuilds a subtree
    when |100*l/n - 50| > INBALANCE_RATIO (tree_node.hpp:126-131); the
    distributed analog flags the index when the hottest cell exceeds
    leaf_target * (1 + ratio/10) or partitions drift empty."""
    cfg = index.cfg
    cum = index.meta_np()["cum"]
    max_cnt = int(np.diff(cum).max())
    threshold = cfg.leaf_target * (1 + cfg.imbalance_ratio / 10.0)
    return {
        "max_cell": max_cnt,
        "avg_cell": float(cum[-1]) / (len(cum) - 1),
        "cells": len(cum) - 1,
        "threshold": threshold,
        "needs_retile": max_cnt > threshold,
    }


def retile(index: SpatialIndex) -> SpatialIndex:
    """U3/M3 analog: full re-tiling (rebuild_with_insert) — re-shuffle on the
    Morton key with fresh range bounds and recompute exact metadata. At
    cluster scale this is the compaction job that rewrites only cells past
    the imbalance bound; with AQE + range partitioning the full rewrite is
    a single well-balanced shuffle, so we rebuild exactly."""
    cfg = index.cfg
    pts = index.points.repartitionByRange(cfg.partitions, "morton").sortWithinPartitions("morton").persist()
    meta = _meta_of(pts, cfg).persist()
    return SpatialIndex(points=pts, meta=meta, cfg=cfg)


def sliding_window(
    index: SpatialIndex,
    period_batches: list[DataFrame],
    window_len: int = 5,
    on_step=None,
) -> SpatialIndex:
    """U8: per period t insert batch[t], delete batch[t-window_len]
    (sliding_window_len=5, testFramework.h:26). ``on_step(t, index)`` lets
    callers run probes (e.g. kNN) between steps as the harness does.

    CONTRACT (ADVICE r6 #2): period batches must carry pairwise-DISJOINT
    (key, span_idx) identities across the window. The expiring delete runs
    with exact_rows=True — its meta delta aggregates the expiring batch
    alone, while the anti-join removes EVERY in-window copy of a matching
    identity; a duplicated identity across two live batches would therefore
    desynchronize per-cell counts from the points table. Both harness
    drivers (key-mod periods and timestamp periods) partition rows into
    periods, so identities never repeat across batches there."""
    d = index.cfg.dims
    row_cols = ["key", "span_idx", *[f"x{j}" for j in range(d)]]
    cur, caller_index = index, index
    for t, batch in enumerate(period_batches):
        merged = merge_insert(cur, batch, persist=False)
        if t >= window_len:
            # the expiring batch IS the exact row multiset leaving the
            # window (it entered verbatim window_len steps ago), so the
            # meta delta aggregates the batch directly — no semi-join pass
            merged = merge_delete(
                merged,
                period_batches[t - window_len].select(*row_cols),
                persist=False,
                exact_rows=True,
            )
        # truncate lineage per period: without this the 2-joins-per-step
        # plan nests `len(period_batches)` deep and planning time explodes.
        # (Cluster deployments would use checkpoint() to reliable storage —
        # which is also the resumability story; localCheckpoint suffices
        # for correctness/perf here.) Once the new generation is
        # materialized, drop the delete-key stage and the SUPERSEDED
        # generation's checkpoint blocks (never the caller's own index).
        new = checkpoint_index(merged)
        merged.release_staged()
        if cur is not caller_index:
            cur.release(blocking=False)
        cur = new
        if on_step is not None:
            on_step(t, cur)
    return cur


# ---------------------------------------------------------------------------
# persistence + lineage
# ---------------------------------------------------------------------------

class Checkpoint:
    """Per-stage lineage markers (JSON file per completed stage + metrics).

    Any pipeline stage wrapped in ``run(stage, fn)`` is skipped on re-run if
    its marker exists — the resumability requirement (north rule): a killed
    job resumes at the last completed stage without recomputation.
    """

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _marker(self, stage: str) -> str:
        return os.path.join(self.path, f"{stage}.done.json")

    def has(self, stage: str) -> bool:
        return os.path.exists(self._marker(stage))

    def info(self, stage: str) -> dict | None:
        if not self.has(stage):
            return None
        with open(self._marker(stage)) as f:
            return json.load(f)

    def run(self, stage: str, fn, **metrics):
        if self.has(stage):
            return self.info(stage)
        t0 = time.time()
        payload = fn() or {}
        rec = {"stage": stage, "elapsed_sec": time.time() - t0, **metrics, **payload}
        tmp = self._marker(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rec, f)
        os.replace(tmp, self._marker(stage))  # atomic: no half-written markers
        return rec


@dataclass
class PersistentIndex:
    """On-disk layout: points parquet partitioned by coarse Morton bucket
    (pbucket = cell at bucket_level), sorted by morton within files, plus a
    meta parquet. Buckets are the unit of copy-on-write for updates and of
    per-partition lineage."""

    path: str
    cfg: EngineConfig
    bucket_level: int = 3  # 2^(d*3)=64 buckets for d=2 — the reference's 64-way skeleton

    @property
    def points_path(self) -> str:
        return os.path.join(self.path, "points")

    @property
    def meta_path(self) -> str:
        return os.path.join(self.path, "meta")

    def write(self, index: SpatialIndex, ckpt: Checkpoint | None = None) -> "PersistentIndex":
        ckpt = ckpt or Checkpoint(os.path.join(self.path, "_lineage"))
        cfg = self.cfg

        def _write_points():
            pts = index.points.withColumn(
                "pbucket", cell_col(F.col("morton"), cfg.dims, self.bucket_level, cfg.grid_bits)
            )
            (
                pts.repartitionByRange(cfg.partitions, "morton")
                .sortWithinPartitions("morton")
                .write.mode("overwrite")
                .partitionBy("pbucket")
                .parquet(self.points_path)
            )
            return {"rows": index.points.count()}

        def _write_meta():
            index.meta.write.mode("overwrite").parquet(self.meta_path)
            return {"cells": index.meta.count()}

        ckpt.run("write_points", _write_points)
        ckpt.run("write_meta", _write_meta)
        return self

    def load(self, spark: SparkSession, persist: bool = False) -> SpatialIndex:
        pts = spark.read.parquet(self.points_path).drop("pbucket")
        meta = spark.read.parquet(self.meta_path)
        if persist:
            pts, meta = pts.persist(), meta.persist()
        return SpatialIndex(points=pts, meta=meta, cfg=self.cfg)

    def retile_hot(
        self,
        spark: SparkSession,
        ckpt: Checkpoint | None = None,
        file_target_rows: int = 1_000_000,
    ) -> dict:
        """M3/U3 TARGETED analog: rewrite ONLY imbalanced buckets.

        The reference rebuilds just the subtree that trips the
        weight-balance test (inner_tree.hpp:78-95, tree_node.hpp:126-131);
        round 2's retile() rewrote the whole table. Here a bucket is hot
        when its row count exceeds (n/buckets) * (1 + imbalance_ratio/10)
        (the M1 criterion at bucket granularity); each hot bucket is
        re-sorted and SPLIT into ceil(rows/file_target_rows) morton-range
        files — one Morton level deeper in effect — via dynamic partition
        overwrite of that bucket alone. Cold buckets' files are untouched
        (verified by the pytest on file mtimes). Exact per-cell bounds for
        the hot buckets' cells are recomputed into the meta parquet
        (deletes leave conservative bounds; the compaction tightens them).
        One lineage marker per hot bucket -> a killed retile resumes
        bucket-wise. Returns {buckets_total, buckets_hot, rows_rewritten}.
        """
        cfg = self.cfg
        d = cfg.dims
        ckpt = ckpt or Checkpoint(os.path.join(self.path, "_lineage_retile"))
        pts = spark.read.parquet(self.points_path)
        per_bucket = {
            int(r["pbucket"]): int(r["rows"])
            for r in pts.groupBy("pbucket").agg(F.count(F.lit(1)).alias("rows")).collect()
        }
        n = sum(per_bucket.values())
        buckets_total = max(1, 1 << (d * self.bucket_level))
        threshold = (n / buckets_total) * (1 + cfg.imbalance_ratio / 10.0)
        hot = sorted(b for b, rows in per_bucket.items() if rows > threshold)
        rows_rewritten = 0
        prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            for b in hot:
                nfiles = max(2, -(-per_bucket[b] // file_target_rows))

                def _rewrite(b=b, nfiles=nfiles):
                    part = (
                        pts.where(F.col("pbucket") == b)
                        .localCheckpoint(eager=True)  # snapshot before overwrite
                        .repartitionByRange(nfiles, "morton")
                        .sortWithinPartitions("morton")
                    )
                    part.write.mode("overwrite").partitionBy("pbucket").parquet(self.points_path)
                    return {"bucket": int(b), "files": nfiles}

                ckpt.run(f"retile_bucket_{b}", _rewrite)
                rows_rewritten += per_bucket[b]
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)

        if hot:
            self._refresh_meta_buckets(spark, hot, ckpt, "hot")
        return {
            "buckets_total": buckets_total,
            "buckets_hot": len(hot),
            "rows_rewritten": rows_rewritten,
        }

    def _batch_fingerprint(self, batch: DataFrame, cols: list[str]) -> str:
        """Order-independent content hash of the batch (sum of row hashes
        + count): lineage markers are NAMESPACED by it, so a marker only
        short-circuits a resumed run of the SAME batch — a second COW call
        with a different batch can never silently skip work against stale
        markers from an earlier completed run (ADVICE r6 #1)."""
        cs = ", ".join(cols)
        r = batch.agg(
            # pmod-bounded sum (no int64 overflow under ANSI even at 10^12
            # rows) + bit_xor + count: order-independent, duplicate-row-
            # sensitive via the sum
            F.expr(f"sum(pmod(xxhash64({cs}), 1048576))").alias("s"),
            F.expr(f"bit_xor(xxhash64({cs}))").alias("x"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        return (
            f"{int(r['s'] or 0):x}_"
            f"{(int(r['x'] or 0)) & 0xFFFFFFFFFFFFFFFF:016x}_{int(r['n'])}"
        )

    def _swap_staged(
        self, staging: str, touched: list[int], staged: list[int], ckpt: Checkpoint, fp: str
    ) -> None:
        """Commit phase of the two-phase-manifest COW: move each touched
        bucket's STAGED directory into place with an idempotent per-bucket
        swap. ``staged`` (recorded in the stage marker) disambiguates the
        two src-absent cases on resume: a bucket the batch EMPTIED (never
        staged -> remove its dest, the thin-subtree tombstone erase,
        inner_tree.hpp:109-148) vs a swap that crashed after its rename but
        before its marker (staged and consumed -> dest already holds the
        new data, keep it). Local-FS assumption: swaps are os/shutil
        renames; an object-store / Iceberg deployment commits the same
        manifest as a metadata swap instead."""
        import shutil

        staged_set = set(staged)
        for b in touched:
            src = os.path.join(staging, f"pbucket={b}")
            dst = os.path.join(self.points_path, f"pbucket={b}")

            def _swap(b=b, src=src, dst=dst):
                if b not in staged_set:
                    shutil.rmtree(dst, ignore_errors=True)  # emptied bucket
                    return {"emptied": True}
                if os.path.exists(src):
                    shutil.rmtree(dst, ignore_errors=True)
                    os.rename(src, dst)
                return {"emptied": False}  # src consumed: rename already done

            ckpt.run(f"swap_{fp}_pbucket={b}", _swap)

    def _cow_write(
        self,
        spark: SparkSession,
        batch: DataFrame,
        ckpt: Checkpoint,
        fp: str,
        merge: bool,
        on: list[str] | None = None,
    ) -> dict:
        """Shared COW engine for insert (merge=True) and delete
        (merge=False): ONE Spark job stages the rewritten rows of every
        touched bucket into a fresh staging directory (no dynamic-
        partition-overwrite loop — the r6 code ran one job per touched
        bucket, 64+ scheduler round-trips and 64 meta reads for a batch
        touching every bucket; the reference processes buckets in a single
        parlay::parallel_for, batch_insert.hpp:166-187), then swaps the
        staged directories in (idempotent, resumable, per-bucket markers
        namespaced by the batch fingerprint). Because the stage WRITES TO
        A NEW PATH, the job never overwrites files it is reading — the
        per-bucket localCheckpoint snapshots of the r6 loop are gone
        entirely. Untouched buckets' files are never opened or rewritten
        (pytest-verified via mtimes)."""
        cfg = self.cfg
        staging = os.path.join(self.path, f"_staged_{fp}")

        def _plan():
            touched = sorted(
                int(r["pbucket"]) for r in batch.select("pbucket").distinct().collect()
            )
            return {"touched": touched}

        plan = ckpt.run(f"plan_{fp}", _plan)
        touched = [int(b) for b in plan["touched"]]
        if not touched:
            return {"buckets_touched": 0, "rows_deleted": 0}

        def _stage():
            src = spark.read.parquet(self.points_path)
            existing = src.where(F.col("pbucket").isin(touched))
            n_before = existing.count()
            key_ids: list = []
            if merge:
                out = existing.unionByName(batch.select(*existing.columns))
            else:
                keyside, key_ids = tracked_local_checkpoint(batch.select(*on).distinct())
                nk = keyside.count()
                keyside = (
                    F.broadcast(keyside) if nk <= DELETE_BCAST_ROWS else keyside.hint("shuffle_hash")
                )
                out = existing.join(keyside, on, "left_anti")
            parts = max(1, min(cfg.partitions, len(touched) * 2))
            (
                out.repartitionByRange(parts, "morton")
                .sortWithinPartitions("morton")
                .write.mode("overwrite")
                .partitionBy("pbucket")
                .parquet(staging)
            )
            release_rdd_ids(spark, key_ids)
            staged = sorted(
                int(e.name.split("=", 1)[1])
                for e in os.scandir(staging)
                if e.is_dir() and e.name.startswith("pbucket=")
            )
            # explicit schema: a batch that empties every touched bucket
            # leaves a staging dir with no parquet files to infer from
            n_after = (
                spark.read.schema(src.schema).parquet(staging).count() if staged else 0
            )
            return {"rows_before": n_before, "rows_after": n_after, "staged": staged}

        st = ckpt.run(f"stage_{fp}", _stage)
        self._swap_staged(staging, touched, [int(b) for b in st.get("staged", [])], ckpt, fp)
        self._refresh_meta_buckets(spark, touched, ckpt, fp)
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
        return {
            "buckets_touched": len(touched),
            "rows_deleted": int(st.get("rows_before", 0)) - int(st.get("rows_after", 0)),
        }

    def merge_insert_cow(self, spark: SparkSession, new_points: DataFrame, ckpt: Checkpoint | None = None) -> dict:
        """Copy-on-write insert: rewrite ONLY the buckets the batch touches,
        in ONE staged write job + idempotent directory swaps (see
        _cow_write — the Iceberg MERGE copy-on-write analog). Lineage
        markers are namespaced by the batch fingerprint, so a killed merge
        resumes and a different batch never matches stale markers."""
        cfg = self.cfg
        ckpt = ckpt or Checkpoint(os.path.join(self.path, "_lineage_merge"))
        batch = _with_morton(new_points, cfg).withColumn(
            "pbucket", cell_col(F.col("morton"), cfg.dims, self.bucket_level, cfg.grid_bits)
        )
        fp = self._batch_fingerprint(batch, [c for c in batch.columns if c != "pbucket"])
        return self._cow_write(spark, batch, ckpt, fp, merge=True)

    def merge_delete_cow(
        self, spark: SparkSession, del_rows: DataFrame, ckpt: Checkpoint | None = None
    ) -> dict:
        """Copy-on-write DELETE: the batch carries the rows' COORDINATES
        (the reference's native batchDelete contract — it deletes points,
        batch_delete.hpp:59-76), so each row routes by Morton to its
        pbucket and ONLY the touched buckets' files are rewritten — in ONE
        staged anti-join write job + idempotent swaps (see _cow_write).
        Within a bucket the match is (key, span_idx) if present else key;
        batch rows matching nothing are a no-op (PartialCover,
        batch_delete.hpp:93-107). A fully-emptied bucket's directory is
        removed by the swap phase (thin-subtree tombstone erase), and a
        batch emptying EVERY bucket leaves a consistent empty table (the
        meta refresh guards the no-files case). At 100 TB a 1% delete thus
        rewrites ~1% of files in one job, not 64 jobs.
        Returns {buckets_touched, rows_deleted}."""
        cfg = self.cfg
        ckpt = ckpt or Checkpoint(os.path.join(self.path, "_lineage_delete"))
        on = [c for c in ("key", "span_idx") if c in del_rows.columns]
        xcols = [f"x{j}" for j in range(cfg.dims)]
        batch = _with_morton(del_rows.select(*on, *xcols), cfg).withColumn(
            "pbucket", cell_col(F.col("morton"), cfg.dims, self.bucket_level, cfg.grid_bits)
        )
        fp = self._batch_fingerprint(batch, [*on, *xcols])
        return self._cow_write(spark, batch, ckpt, fp, merge=False, on=on)

    def _refresh_meta_buckets(
        self, spark: SparkSession, touched: list, ckpt: Checkpoint, fp: str = ""
    ) -> None:
        """Targeted metadata refresh shared by COW insert/delete (like
        retile_hot's): recompute meta rows ONLY for the touched buckets'
        cells (partition pruning keeps untouched buckets' files unread —
        O(points in touched buckets), not O(n)); keep the rest as-is.
        Exact bounds: deletes never leave conservative supersets here.
        The marker is fingerprint-namespaced, so a second update's refresh
        is never skipped against an earlier batch's marker (ADVICE r6 #1),
        and a delete that emptied EVERY bucket skips the fresh read
        entirely instead of failing schema inference on an empty directory
        (ADVICE r6 #3)."""
        cfg = self.cfg

        def _refresh_meta():
            d = cfg.dims
            shift = d * (cfg.index_level - self.bucket_level)
            have_data = any(
                e.name.startswith("pbucket=") for e in os.scandir(self.points_path)
            ) if os.path.isdir(self.points_path) else False
            old = spark.read.parquet(self.meta_path).where(
                ~F.shiftrightunsigned("cell", shift).isin([int(b) for b in touched])
            )
            if have_data:
                fresh_pts = spark.read.parquet(self.points_path).where(
                    F.col("pbucket").isin([int(b) for b in touched])
                )
                merged = old.unionByName(_meta_of(fresh_pts.drop("pbucket"), cfg))
            else:
                merged = old  # every bucket emptied: nothing fresh to scan
            merged = merged.localCheckpoint(eager=True)
            merged.write.mode("overwrite").parquet(self.meta_path)
            return {"cells": merged.count()}

        ckpt.run(f"refresh_meta_{fp}" if fp else "refresh_meta", _refresh_meta)
