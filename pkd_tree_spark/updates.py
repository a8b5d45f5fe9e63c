"""Batch updates: MERGE-style insert/delete, skew-triggered re-tiling,
sliding-window maintenance, and a persistent index whose updates each
publish through one manifest commit.

Reference operators reproduced (SURVEY.md §2.5-2.6):
  U1 batchInsert  (batch_op/batch_insert.hpp:59-191)
  U3 rebuild_with_insert (batch_insert.hpp:94-105)      -> retile/compact
  U4/U5 batchDelete full/partial cover (batch_op/batch_delete.hpp)
  U7 incremental build (testFramework.h:209-254)
  U8 sliding-window insert+delete (testFramework.h:817-869)
  M1 weight-balance imbalance test (utility/tree_node.hpp:117-131)
  M2 update_inner_tree metadata refresh (batch_helpers.hpp:124-142)

Spark-first semantics: the index is immutable data + metadata; an update
produces a new SpatialIndex whose metadata was refreshed *incrementally*.
M2's refresh is the driver skeleton's (SpatialIndex.meta_np): the batch's
per-cell delta is aggregated and collected in one job, merged into the
parent's skeleton in numpy (the analog of re-linking only the tagged
skeleton nodes and propagating their sizes and boxes), and the child's
meta table is built from the merged skeleton, so a new generation's first
read collects no meta; checkpoint_index passes the skeleton on, and
PersistentIndex.load reads it off the committed meta file. The same
incremental refresh covers the index's lower bound on distinct
coordinate positions, which decides kNN's duplicate collapse
(SpatialIndex.pruned_points) and which the reference keeps as tree state
too (dummy-leaf multiplicity): an insert, checkpoint or retile passes the
parent's bound on unchanged, an ``exact_rows`` delete passes it less the
rows removed, and a new generation's first kNN then refuses the collapse
with no probe scan. Any other delete, and ``PersistentIndex.load``, start
it unknown.

In a real deployment the points table is an Iceberg table and
insert/delete are `MERGE INTO` with copy-on-write of the touched cell
files; here the same dataflow runs on DataFrames/parquet, and
``PersistentIndex`` shows the on-disk layout: points partitioned by Morton
bucket into generation directories, and a CURRENT manifest swapped by one
``os.replace`` per update, so readers never see a half-applied batch and
a killed update resumes by asking whether its fingerprint was committed.

Delete metadata note: per-cell counts stay exact; per-cell min/max bounds
become conservative supersets after deletes (still correct for pruning —
covers use *geometric* cell bounds). A retile/compact recomputes them.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .config import EngineConfig, DEFAULT_CONFIG
from .index import SpatialIndex, meta_of, release_rdd_ids, skeleton, tracked_local_checkpoint, with_morton
from .zorder import cell_col

__all__ = [
    "merge_insert",
    "merge_delete",
    "checkpoint_index",
    "check_skew",
    "retile",
    "sliding_window",
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


def _carry(index: SpatialIndex, delta: DataFrame, sign: int) -> tuple[DataFrame, dict]:
    """The child's meta and skeleton after a batch whose per-cell meta is
    ``delta``; sign=+1 insert, -1 delete. The delta is collected in one
    job (at most META_MEMO_CELLS rows, like any meta) and merged into the
    parent's skeleton on the driver: counts add or subtract, an insert's
    bounds take the union of both, a delete keeps the old (conservative)
    bounds, and cells reaching cnt<=0 drop out (the thin-subtree collapse,
    kdTreeParallel.h:42). The meta frame is built from that skeleton with
    the delta's schema, which is meta_of's: one meta shape (column order
    and nullabilities) for every generation, so commits write one schema
    and an update cycle started from a build runs the plan shapes (and
    compiled classes) of one started from a checkpoint."""
    d = index.cfg.dims
    old, dl = index.meta_np(), skeleton(delta.toPandas(), d)
    cells = np.union1d(old["cells"], dl["cells"])
    at_old, at_dl = np.searchsorted(cells, old["cells"]), np.searchsorted(cells, dl["cells"])
    cnt = np.zeros(len(cells), dtype=np.int64)
    cnt[at_old] = np.diff(old["cum"])
    cnt[at_dl] += sign * np.diff(dl["cum"])
    mn = np.full((len(cells), d), np.iinfo(np.int64).max, dtype=np.int64)
    mx = np.full((len(cells), d), np.iinfo(np.int64).min, dtype=np.int64)
    # a delete's bounds are the old ones: a cell only its batch names
    # falls below 0 and drops out
    for at, sk in [(at_old, old), (at_dl, dl)] if sign > 0 else [(at_old, old)]:
        mn[at] = np.minimum(mn[at], sk["mn"])
        mx[at] = np.maximum(mx[at], sk["mx"])
    keep = cnt > 0
    cells, cnt, mn, mx = cells[keep], cnt[keep], mn[keep], mx[keep]
    skel = {"cells": cells, "cum": np.concatenate([[0], np.cumsum(cnt)]), "mn": mn, "mx": mx}
    cols = {"cell": cells, "cnt": cnt, **{f"mn{j}": mn[:, j] for j in range(d)}, **{f"mx{j}": mx[:, j] for j in range(d)}}
    return index.points.sparkSession.createDataFrame(pd.DataFrame(cols), schema=delta.schema), skel


def merge_insert(index: SpatialIndex, new_points: DataFrame, persist: bool = True) -> SpatialIndex:
    """U1 batchInsert: encode the batch, append, refresh the meta and the
    skeleton incrementally (only the batch aggregates — one small shuffle,
    collected; the merge runs on the driver, see _carry)."""
    cfg = index.cfg
    base_cols = [c for c in index.points.columns if c != "morton"]
    batch = with_morton(new_points.select(*base_cols), cfg)
    pts = index.points.unionByName(batch)
    meta, skel = _carry(index, meta_of(batch, cfg), +1)
    if persist:
        pts, meta = pts.persist(), meta.persist()
    # an insert removes no position: the parent's distinct-position bound holds
    return SpatialIndex(points=pts, meta=meta, cfg=cfg, _meta_np=skel, _min_positions=index._min_positions)


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
    into, this index); a stale batch would corrupt the per-cell counts.
    The anti-join removes EVERY row sharing a batch row's identity
    ((key, span_idx), or key alone), and identities are not unique:
    repeated lineitem keys make full duplicates (same doc_id, same
    coordinates). So an exact batch must carry every copy of each identity
    it names, as sliding_window's contract also requires; one that holds
    only some copies leaves the meta counting rows the table lost. Nothing
    checks this (a check would cost a job per delete). It also carries the
    parent's distinct-position bound, less the rows removed, to the new
    index; any other delete leaves the bound unknown."""
    cfg = index.cfg
    d = cfg.dims
    xcols = [f"x{j}" for j in range(d)]
    on = [c for c in ("key", "span_idx") if c in delete_keys.columns]
    # materialize + count the key set once: the count gates the broadcast
    # (a measured gate, not a guess — AQE's estimate of a derived batch can
    # miss) and the checkpoint stops the batch pipeline re-running per join.
    # The batch's row count rides that checkpoint job as an observed metric.
    rows = Observation()
    keys, key_ids = tracked_local_checkpoint(
        delete_keys.observe(rows, F.count(F.lit(1)).alias("n")).select(*on).distinct()
    )
    nk = keys.count()
    keyside = None
    if nk <= DELETE_BCAST_ROWS:
        keyside = F.broadcast(keys)
        pts = index.points.join(keyside, on, "left_anti")
    else:
        pts = index.points.join(keys.hint("shuffle_hash"), on, "left_anti")
    # the join moves its keys to the front: keep the parent's column order,
    # so a generation after a delete has the plan shapes (and compiled
    # classes) of one after a build
    pts = pts.select(*index.points.columns)
    if exact_rows:
        delta_src = with_morton(delete_keys.select(*on, *xcols), cfg)
    else:
        if keyside is None:
            keyside = keys.hint("shuffle_hash")
        delta_src = index.points.join(keyside, on, "left_semi")
    meta, skel = _carry(index, meta_of(delta_src, cfg), -1)
    if persist:
        meta = meta.persist()
        # count-gate the survivors persist (VERDICT r6 #7): a small delete
        # keeps its survivors LAZY — downstream consumers re-run the
        # streamed broadcast anti-join over the still-cached parent instead
        # of paying a full-table cache write per small delete
        tot = int(index.meta_np()["cum"][-1])
        if nk > DELETE_LAZY_PERSIST_FRAC * tot:
            pts = pts.persist()
    # an exact batch's rows are the rows removed, so at most that many
    # positions go; any other batch may name rows the table lacks
    bound = None
    if exact_rows and index._min_positions is not None:
        bound = index._min_positions - int(rows.get["n"])
    return SpatialIndex(points=pts, meta=meta, cfg=cfg, _meta_np=skel, _staged_ids=key_ids, _min_positions=bound)


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
        back-fill the points job's straggler tail (guide §2.6).

    The checkpoint holds the same rows, so it passes on the skeleton and
    the driver-side rows (SpatialIndex.local_rows) it was handed."""
    # coalesce never increases a partition count, so this is a no-op when
    # the index is already at its configured width
    pts_df = index.points.coalesce(index.cfg.partitions)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_pts = pool.submit(tracked_local_checkpoint, pts_df)
        f_meta = pool.submit(tracked_local_checkpoint, index.meta)
        pts, ids_p = f_pts.result()
        meta, ids_m = f_meta.result()
    return SpatialIndex(
        points=pts,
        meta=meta,
        cfg=index.cfg,
        _meta_np=index._meta_np,
        _staged_ids=ids_p + ids_m,
        _min_positions=index._min_positions,
        _rows=index._rows,
    )


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
    meta = meta_of(pts, cfg).persist()
    return SpatialIndex(points=pts, meta=meta, cfg=cfg, _min_positions=index._min_positions)


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
# persistence: one manifest commit per update
# ---------------------------------------------------------------------------

def _fingerprint(batch: DataFrame, cols: list[str]) -> tuple[str, int, list[int]]:
    """(content hash, row count, sorted pbuckets) of ``batch`` in ONE job.
    The hash is order-independent and duplicate-sensitive: a pmod-bounded
    sum of row hashes (no int64 overflow under ANSI even at 10^12 rows),
    their bit_xor, and the count. The manifest records the last commit's
    fingerprint, so re-running a committed call is a no-op while a
    different batch (or the same one after another commit) does real work."""
    cs = ", ".join(cols)
    r = batch.agg(
        F.expr(f"sum(pmod(xxhash64({cs}), 1048576))").alias("s"),
        F.expr(f"bit_xor(xxhash64({cs}))").alias("x"),
        F.count(F.lit(1)).alias("n"),
        F.collect_set("pbucket").alias("b"),
    ).collect()[0]
    n = int(r["n"])
    h = f"{int(r['s'] or 0):x}_{int(r['x'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}_{n}"
    return h, n, sorted(int(b) for b in r["b"])


@dataclass
class PersistentIndex:
    """On-disk index under ``path``:

      points/g<N>/pbucket=<b>/  bucket b's point files (pbucket = cell at
                                bucket_level), sorted by morton
      meta/g<N>/                the per-cell meta
      CURRENT                   the manifest: each live bucket's directory
                                and row count, the meta directory, both
                                schemas, and the last commit's fingerprint
                                and result

    Every update (write, merge_insert_cow, merge_delete_cow, retile_hot) is
    ONE generation commit (``_commit``): the rewritten buckets go into a
    fresh generation directory in one staged Spark write, the new meta
    into its own fresh directory, and a single ``os.replace`` of CURRENT
    publishes both — the analog of an Iceberg copy-on-write MERGE swapping
    its metadata pointer. Untouched buckets are referenced by the new
    manifest where they already are, never copied; a bucket an update
    empties is simply absent. Directories the new manifest does not
    reference are deleted after the swap, so ``points_path`` holds exactly
    the live point files. ``load`` reads CURRENT once: it sees the state
    before an update or after it, never a mix. Resume is one question: is
    this call's fingerprint the last one committed? If so its recorded
    result comes back and nothing is rewritten; if not, the uncommitted
    work is redone into the same (never published) generation number."""

    path: str
    cfg: EngineConfig
    bucket_level: int = 3  # 2^(d*3)=64 buckets for d=2 — the reference's 64-way skeleton

    @property
    def points_path(self) -> str:
        return os.path.join(self.path, "points")

    def manifest(self) -> dict:
        """The committed manifest (FileNotFoundError before the first write)."""
        with open(os.path.join(self.path, "CURRENT")) as f:
            return json.load(f)

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        cfg = self.cfg
        return df.withColumn(
            "pbucket", cell_col(F.col("morton"), cfg.dims, self.bucket_level, cfg.grid_bits)
        )

    def _scan(self, spark: SparkSession, schema: dict, dirs: list[str]) -> DataFrame:
        """Read manifest directories with their recorded schema: no
        schema-inference job, and no directories is an empty frame."""
        st = StructType.fromJson(schema)
        if not dirs:
            return spark.createDataFrame([], st)
        return spark.read.schema(st).parquet(*[os.path.join(self.path, d) for d in dirs])

    def _buckets(self, spark: SparkSession, man: dict, buckets: list[int]) -> DataFrame:
        """The committed rows of ``buckets``, with their pbucket column."""
        dirs = [e["dir"] for b, e in man["buckets"].items() if int(b) in buckets]
        return self._with_bucket(self._scan(spark, man["schema"], dirs))

    def load(self, spark: SparkSession, persist: bool = False) -> SpatialIndex:
        man = self.manifest()
        pts = self._scan(spark, man["schema"], [e["dir"] for e in man["buckets"].values()])
        meta = self._scan(spark, man["meta_schema"], [man["meta"]])
        # the skeleton is read on the driver: every commit writes the meta as one file
        skel = skeleton(pq.read_table(os.path.join(self.path, man["meta"])).to_pandas(), self.cfg.dims)
        if persist:
            pts, meta = pts.persist(), meta.persist()
        return SpatialIndex(points=pts, meta=meta, cfg=self.cfg, _meta_np=skel)

    def write(self, index: SpatialIndex) -> "PersistentIndex":
        """Replace whatever ``path`` holds with ``index`` (one commit; its
        meta is written verbatim). Writing the same index again is a no-op."""
        pts = self._with_bucket(index.points)
        h, n, _ = _fingerprint(pts, index.points.columns)
        fp = f"write:{self.bucket_level}:{self.cfg.index_level}:{h}"
        try:
            base = self.manifest()
        except FileNotFoundError:
            base = None
        if self._committed(base, fp) is None:
            files = pts.repartitionByRange(self.cfg.partitions, "morton")
            self._commit(base, fp, files, None, lambda _: {"rows": n}, index.meta)
        return self

    def retile_hot(self, spark: SparkSession, file_target_rows: int = 1_000_000) -> dict:
        """M3/U3 TARGETED analog: rewrite ONLY imbalanced buckets.

        The reference rebuilds just the subtree that trips the
        weight-balance test (inner_tree.hpp:78-95, tree_node.hpp:126-131);
        round 2's retile() rewrote the whole table. Here a bucket is hot
        when its row count (read off the manifest) exceeds
        (n/buckets) * (1 + imbalance_ratio/10) — the M1 criterion at bucket
        granularity. The hot buckets take one identity rewrite through the
        shared commit, each range-split on morton into exactly
        max(2, ceil(rows/file_target_rows)) files — one Morton level
        deeper in effect — and their cells' meta is recomputed exactly
        (deletes leave conservative bounds; the compaction tightens them).
        Cold buckets' files are untouched (verified by the pytest on file
        mtimes). Returns {buckets_total, buckets_hot, rows_rewritten}.
        """
        cfg = self.cfg
        base = self.manifest()
        fp = f"retile:{file_target_rows}"
        done = self._committed(base, fp)
        if done is not None:
            return done
        rows = {int(b): e["rows"] for b, e in base["buckets"].items()}
        buckets_total = max(1, 1 << (cfg.dims * self.bucket_level))
        threshold = (sum(rows.values()) / buckets_total) * (1 + cfg.imbalance_ratio / 10.0)
        hot = sorted(b for b, r in rows.items() if r > threshold)
        result = {
            "buckets_total": buckets_total,
            "buckets_hot": len(hot),
            "rows_rewritten": sum(rows[b] for b in hot),
        }
        if hot:
            # one union, so one write: each bucket's own range split keeps
            # its file count exact (a shared split follows the global quantiles)
            files = functools.reduce(DataFrame.union, [
                self._buckets(spark, base, [b]).repartitionByRange(
                    max(2, -(-rows[b] // file_target_rows)), "morton"
                )
                for b in hot
            ])
            self._commit(base, fp, files, hot, lambda _: result)
        return result

    def merge_insert_cow(self, spark: SparkSession, new_points: DataFrame) -> dict:
        """Copy-on-write insert: rewrite ONLY the buckets the batch touches,
        in one staged write and one manifest commit (see _cow_write — the
        Iceberg MERGE copy-on-write analog)."""
        batch = self._with_bucket(with_morton(new_points, self.cfg))
        return self._cow_write(spark, batch, [c for c in batch.columns if c != "pbucket"])

    def merge_delete_cow(self, spark: SparkSession, del_rows: DataFrame) -> dict:
        """Copy-on-write DELETE: the batch carries the rows' COORDINATES
        (the reference's native batchDelete contract — it deletes points,
        batch_delete.hpp:59-76), so each row routes by Morton to its
        pbucket and ONLY the touched buckets' files are rewritten, in one
        staged anti-join write and one manifest commit (see _cow_write).
        Within a bucket the match is (key, span_idx) if present else key;
        batch rows matching nothing are a no-op (PartialCover,
        batch_delete.hpp:93-107). A fully-emptied bucket drops out of the
        manifest and its directory is deleted (thin-subtree tombstone
        erase, inner_tree.hpp:109-148); a batch emptying EVERY bucket
        leaves a consistent empty table. At 100 TB a 1% delete thus
        rewrites ~1% of files in one job.
        Returns {buckets_touched, rows_deleted}."""
        on = [c for c in ("key", "span_idx") if c in del_rows.columns]
        xcols = [f"x{j}" for j in range(self.cfg.dims)]
        batch = self._with_bucket(with_morton(del_rows.select(*on, *xcols), self.cfg))
        return self._cow_write(spark, batch, [*on, *xcols], on)

    def _cow_write(
        self, spark: SparkSession, batch: DataFrame, cols: list[str], on: list[str] | None = None
    ) -> dict:
        """Shared COW engine for insert (``on`` None) and delete (``on`` =
        match columns): ONE staged write rewrites every touched bucket (the
        reference processes buckets in a single parlay::parallel_for,
        batch_insert.hpp:166-187). Untouched buckets' files are never
        opened or rewritten (pytest-verified via mtimes)."""
        base = self.manifest()
        h, _, touched = _fingerprint(batch, cols)
        fp = f"{'delete' if on else 'insert'}:{h}"
        done = self._committed(base, fp)
        if done is not None:
            return done
        if not touched:
            return {"buckets_touched": 0, "rows_deleted": 0}
        existing = self._buckets(spark, base, touched)
        key_ids: list = []
        if on is None:
            out = existing.unionByName(batch.select(*existing.columns))
        else:
            keys, key_ids = tracked_local_checkpoint(batch.select(*on).distinct())
            keyside = F.broadcast(keys) if keys.count() <= DELETE_BCAST_ROWS else keys.hint("shuffle_hash")
            out = existing.join(keyside, on, "left_anti")
        before = sum(e["rows"] for b, e in base["buckets"].items() if int(b) in touched)

        def result(rows: dict) -> dict:
            after = sum(rows.get(b, 0) for b in touched)
            return {"buckets_touched": len(touched), "rows_deleted": before - after}

        files = out.repartitionByRange(max(1, min(self.cfg.partitions, len(touched) * 2)), "morton")
        try:
            return self._commit(base, fp, files, touched, result)
        finally:
            release_rdd_ids(spark, key_ids)

    def _committed(self, base: dict | None, fp: str) -> dict | None:
        """The recorded result if ``fp`` is the last commit (the call
        already completed: rewrite nothing), else None."""
        if base is None or base["fingerprint"] != fp:
            return None
        self._sweep(base)  # a fault between the swap and the cleanup leaves superseded dirs
        return base["result"]

    def _commit(
        self,
        base: dict | None,
        fp: str,
        files: DataFrame,
        touched: list[int] | None,
        result,
        meta: DataFrame | None = None,
    ) -> dict:
        """Publish ``files`` — the full new content of buckets ``touched``,
        with a pbucket column (``touched`` None: of every bucket), one
        Spark partition per file — as generation N = base's + 1, and
        return ``result(rows per bucket)``:

          1. one staged write of ``files`` into points/g<N>/, each file
             sorted by morton;
          2. the meta into meta/g<N>/ as ONE file: ``meta`` if given, else
             the base meta's rows of untouched cells plus rows aggregated
             from the staged files (exact bounds). Both paths are new, so
             nothing is overwritten while it is read and no snapshot is
             needed;
          3. one os.replace of CURRENT;
          4. delete every directory the new manifest does not reference.
        A fault before step 3 leaves the base state committed; a re-run
        overwrites the unpublished generation N."""
        spark = files.sparkSession
        cfg = self.cfg
        gen = base["gen"] + 1 if base else 0
        gdir, mdir = f"points/g{gen}", f"meta/g{gen}"
        (
            files.sortWithinPartitions("morton")
            .write.mode("overwrite")
            .partitionBy("pbucket")
            .parquet(os.path.join(self.path, gdir))
        )
        schema = json.loads(files.drop("pbucket").schema.json())
        staged = {
            int(e.name.split("=", 1)[1]): f"{gdir}/{e.name}"
            for e in os.scandir(os.path.join(self.path, gdir))
            if e.is_dir() and e.name.startswith("pbucket=")
        }
        shift = cfg.dims * (cfg.index_level - self.bucket_level)
        if meta is None:
            old = self._scan(spark, base["meta_schema"], [base["meta"]])
            fresh = meta_of(self._scan(spark, schema, list(staged.values())), cfg)
            meta = old.where(~F.shiftrightunsigned("cell", shift).isin(touched)).unionByName(fresh)
        meta_schema = json.loads(meta.schema.json())
        # one file: the meta is a few thousand rows, and every load() and
        # commit lists and opens each file (the union kept the aggregate's
        # shuffle partitions). coalesce is narrow, so the aggregate's map
        # side over the staged files stays parallel.
        meta.coalesce(1).write.mode("overwrite").parquet(os.path.join(self.path, mdir))
        per_bucket = {
            int(r["b"]): int(r["n"])
            for r in self._scan(spark, meta_schema, [mdir])
            .groupBy(F.shiftrightunsigned("cell", shift).alias("b"))
            .agg(F.sum("cnt").alias("n"))
            .collect()
        }
        buckets = {} if touched is None else {
            b: e for b, e in base["buckets"].items() if int(b) not in touched
        }
        buckets.update({str(b): {"dir": d, "rows": per_bucket.get(b, 0)} for b, d in staged.items()})
        man = {
            "gen": gen,
            "fingerprint": fp,
            "result": result(per_bucket),
            "buckets": dict(sorted(buckets.items(), key=lambda kv: int(kv[0]))),
            "schema": schema,
            "meta": mdir,
            "meta_schema": meta_schema,
        }
        cur = os.path.join(self.path, "CURRENT")
        with open(cur + ".tmp", "w") as f:
            json.dump(man, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(cur + ".tmp", cur)
        self._sweep(man)
        return man["result"]

    def _sweep(self, man: dict) -> None:
        """Delete every generation directory, and every bucket directory in
        a kept generation, that ``man`` does not reference."""
        live = {man["meta"], *(e["dir"] for e in man["buckets"].values())}
        for top in ("points", "meta"):
            root = os.path.join(self.path, top)
            for g in os.scandir(root) if os.path.isdir(root) else ():
                gen = f"{top}/{g.name}"
                if not g.is_dir() or gen in live:
                    continue
                kids = [e for e in os.scandir(g.path) if e.is_dir()]
                dead = [e.path for e in kids if f"{gen}/{e.name}" not in live]
                for p in [g.path] if len(dead) == len(kids) else dead:
                    shutil.rmtree(p)
