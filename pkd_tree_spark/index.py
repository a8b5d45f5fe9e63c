"""Distributed spatial index: Z-order layout + per-cell metadata.

The reference's kd-tree splits into three structural tiers:
  1. top ~6 splitter levels routing to 64 buckets (build_tree.hpp:19-45);
  2. recursive interior nodes;
  3. <=32-point leaves (tree_node.hpp:33-39).

Spark-first mapping (SURVEY.md §2.2):
  1. -> ``repartitionByRange(morton)``: the shuffle IS the blocked counting
     sort of build_tree.hpp:83-121, with reservoir-sampled range bounds
     playing pick_pivots (build_tree.hpp:48-70);
  2. -> the Morton prefix hierarchy (pure bit shifts, no materialized tree);
  3. -> parquet row groups sorted by morton inside each partition, plus a
     small per-cell metadata table (cell, count, per-dim min/max) that
     answers fully-contained subqueries without touching data — the
     containment short-circuit of range_count.hpp:79-80.

The metadata table is a DataFrame, and its driver-resident copy (the
skeleton, SpatialIndex.meta_np) always fits: EngineConfig bounds it at
META_MEMO_CELLS cells. Covers are computed from query geometry alone
(data-independent), driver-side, or inside mapInPandas against a
broadcast of the skeleton when the query set is itself large.

Every generation (a build, an update, a retile, a PersistentIndex commit)
encodes its points with with_morton and aggregates its meta with meta_of,
so the meta schema is decided here once. The build's one size gate: it
stages its encoded input on disk only when Catalyst estimates the input
above STAGE_INPUT_BYTES.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .config import EngineConfig, DEFAULT_CONFIG
from .zorder import morton_col, morton_decode_np, cell_col

__all__ = [
    "SpatialIndex",
    "cover_regions",
    "leaf_scan",
    "leaf_scan_pred",
    "scan_intervals",
    "tracked_local_checkpoint",
]

# build-input staging (see SpatialIndex.build): estimated input sizes above
# this are cached before the range shuffle so repartitionByRange's sampling
# pass doesn't re-run an expensive derivation pipeline. Small inputs skip
# the cache — staging a 30MB sf0.1 input costs more than the double eval.
STAGE_INPUT_BYTES = 512 << 20

# duplicate-position collapse (pruned_points). The pre-gate: engage only
# when points / distinct positions reaches PRUNE_MIN_DUP_FACTOR; below it
# the pruned table would be ~the full table and persisting it doubles
# residency for nothing. Its refusals run 0 or 1 scans: the zero-scan one
# reads a lower bound on distinct positions off the index (the occupied
# cell count, or the bound an update carried from its parent generation),
# the other estimates them with one narrow approx_count_distinct pass. The
# pre-gate can't see the MULTIPLICITY SPREAD (a table of duplicate PAIRS
# has dup factor ~2 but collapses nothing under a cap of 16 — the sf0.1
# fixtures are exactly this), so a table that passes it pays one more
# scan, an exact spread probe that refuses it before it is built unless
# it would shrink below PRUNE_KEEP_RATIO; only then is the table built.
PRUNE_MIN_DUP_FACTOR = 1.3
PRUNE_KEEP_RATIO = 0.75
PRUNE_CAP_MIN = 16


@dataclass
class SpatialIndex:
    """points: (doc_id, span_idx, key, x0..x{d-1}, morton) range-partitioned
    and sorted by morton; meta: (cell, cnt, mn0..mx{d-1}) at cfg.index_level.

    ``_meta_np`` memoizes the driver-side skeleton (meta_np below), from
    which kNN picks its per-query levels and resolves its shells — INDEX
    state, like the reference kd-tree's depth structure, computed at most
    once per index generation (updates produce a new SpatialIndex, so the
    memo invalidates naturally).

    ``_min_positions`` is a lower bound on the table's distinct coordinate
    positions (None: unknown), the evidence behind pruned_points'
    decision. Unlike the memos it outlives a generation: updates pass it
    to the index they make without a Spark job, as they refresh the meta
    (see updates.py)."""

    points: DataFrame
    meta: DataFrame
    cfg: EngineConfig
    _meta_np: dict | None = None
    _staged_ids: list = field(default_factory=list)
    _pruned: object = None  # None | "refused" | (DataFrame, cap)
    _min_positions: int | None = None

    def release_staged(self) -> None:
        """Drop the staged-build-input blocks (localCheckpoint RDDs,
        tracked by id at build time). Safe once the index is materialized:
        the staged table is read only by the build's sampling + shuffle
        jobs. After this, an evicted-and-lost points block cannot recompute
        through the (truncated) checkpoint lineage — the standard
        localCheckpoint caveat, acceptable because persisted points fall
        back to disk on eviction and executor loss on local[N] is fatal
        anyway; a cluster deployment wanting stronger recovery keeps the
        stage or uses reliable checkpoints."""
        if not self._staged_ids:
            return
        release_rdd_ids(self.points.sparkSession, self._staged_ids)
        object.__setattr__(self, "_staged_ids", [])

    def release(self, blocking: bool = True) -> None:
        """Unpersist every cached artifact this index holds (points, meta,
        staged build input, pruned duplicate-collapsed table). Long bench /
        pipeline sessions call this between index generations so executor
        residency stays bounded by the LIVE index — the r4 153.6M study
        held ~6 persisted full-size tables by the update section and
        anti-scaled. Blocking by default so the block drop completes
        OUTSIDE the next timed section. Driver-side memos (meta_np)
        die with the instance."""
        for df in (self.points, self.meta):
            try:
                df.unpersist(blocking=blocking)
            except Exception:  # noqa: BLE001 — release is best-effort
                pass
        if isinstance(self._pruned, tuple):
            try:
                self._pruned[0].unpersist(blocking=blocking)
            except Exception:  # noqa: BLE001
                pass
        self.release_staged()

    def meta_np(self) -> dict:
        """Driver-side snapshot of the metadata table, memoized per index
        generation: {"cells": sorted int64 cell ids, "cum": length m+1
        count prefix sums, "mn"/"mx": (m, d) per-cell occupied bounds}.

        This is the distributed analog of the reference keeping its top
        skeleton in shared memory (build_tree.hpp:19-45): every query batch
        resolves its covers/shells against the skeleton WITHOUT a Spark
        job, so the points table is touched by exactly one equi-join per
        batch. Like the reference's, it exists at every n: EngineConfig
        bounds the meta at META_MEMO_CELLS cells. Meta totals (points,
        cells, per-cell counts) are read from it too.
        """
        if self._meta_np is not None:
            return self._meta_np
        d = self.cfg.dims
        # one Arrow collect; cell ids are unique (the meta's group key)
        m = self.meta.toPandas().sort_values("cell")
        memo = {
            "cells": m["cell"].to_numpy(np.int64),
            "cum": np.concatenate([[0], np.cumsum(m["cnt"].to_numpy(np.int64))]),
            "mn": m[[f"mn{j}" for j in range(d)]].to_numpy(np.int64),
            "mx": m[[f"mx{j}" for j in range(d)]].to_numpy(np.int64),
        }
        # frozen=False dataclass: plain assignment; keep setattr uniform
        object.__setattr__(self, "_meta_np", memo)
        return memo

    def meta_n_cells(self) -> int:
        """Skeleton row count (the number of occupied level-L cells)."""
        return len(self.meta_np()["cells"])

    def scan_batch_rows(self) -> int:
        """Rows per cached columnar batch of the points table as the scan
        pre-filter rule (scan_intervals) models them: the session's batch
        size, or a partition's share of the rows when that is smaller (a
        partition's cache never shares a batch with another's)."""
        size = int(self.points.sparkSession.conf.get("spark.sql.inMemoryColumnarStorage.batchSize"))
        return max(1, min(size, -(-int(self.meta_np()["cum"][-1]) // self.cfg.partitions)))

    def pruned_points(self, k: int) -> DataFrame | None:
        """Duplicate-position-collapsed candidate table for kNN — the
        distributed analog of the reference's dummy leaves with
        multiplicity (build_tree.hpp:183-186, tree_node.hpp:40-44).

        For every distinct coordinate position, keep only the
        min(cap, multiplicity) rows with the smallest (key, span_idx) —
        cap >= k. Exactness: the kNN total order is (dist2, key,
        span_idx) and all rows at one position share dist2 for every
        query, so an omitted row has >= cap >= k strictly-better rows at
        its own position and can never enter any top-k. Scanning the
        pruned table is therefore multiset-exact for any query and any
        k <= cap, while duplicate-heavy inputs (varden clusters stack
        ~235 rows per lattice position at 153.6M) shrink candidate
        volume by the duplication factor. Rows keep doc_id, which kNN's
        driver rounds collect with their candidates.

        Built lazily as INDEX STATE (memoized; rebuilt only if a later
        call needs a larger cap) as ONE JVM window pass — NO Python/Arrow:
        a ``row_number() <= cap`` filter over a per-position window lets
        Spark insert WindowGroupLimit(Partial) BELOW the exchange (the
        same Tungsten map-side partial top-k the kNN result path uses),
        and because the points are morton-sorted within range partitions
        every duplicate group is partition-LOCAL — the partial limit
        already reduces each position to <= cap rows, so only the pruned
        rows (distinct positions x <= cap) ever cross the shuffle. The r5
        mapInPandas variant pd.concat'ed every Arrow batch per task
        (2x peak memory) and anti-scaled at 38.4M (29.4s @4c -> 32.4s
        @16c); the window form is whole-stage-codegen JVM work. The small
        collapsed output is then re-range-partitioned/sorted on morton so
        cached-batch min/max skipping keeps working on the pruned table,
        and the rank is now GLOBAL per position (exact min(cap, mult)
        even on post-update indexes that aren't perfectly co-partitioned).

        Returns None (memoizing the refusal) when duplication is too low
        to pay for the pass, or when k exceeds a practical cap. Scans per
        first call, by outcome:
          * 0 — the zero-scan refusal: points / _min_positions is below
            PRUNE_MIN_DUP_FACTOR. The bound is at least the occupied cell
            count (every occupied cell holds >= 1 distinct position), and
            on an updated index also what the update carried from its
            parent, so a child of a refused parent usually refuses here;
          * 1 — the estimate refusal: one narrow approx_count_distinct
            scan, whose estimate becomes _min_positions whatever it
            decides (an estimate, not a proven bound: HyperLogLog++ errs
            a few percent either way, which only moves the gate);
          * 2 — the spread-probe refusal (below), which no child inherits:
            an insert can change the multiplicity profile;
          * 2 + the build otherwise."""
        if self._pruned == "refused" or k > 4096:
            return None
        cap = max(PRUNE_CAP_MIN, k)
        if isinstance(self._pruned, tuple):
            df, have_cap = self._pruned
            if have_cap >= k:
                return df
        d = self.cfg.dims
        xcols = [f"x{j}" for j in range(d)]
        mnp = self.meta_np()
        tot, n_cells = int(mnp["cum"][-1]), len(mnp["cells"])
        if self._pruned is None:
            # zero-scan refusal: the sf0.1 varden drift, and a child of a
            # refused parent
            known = max(n_cells, self._min_positions or 0)
            if tot == 0 or tot / known < PRUNE_MIN_DUP_FACTOR:
                object.__setattr__(self, "_min_positions", known)
                object.__setattr__(self, "_pruned", "refused")
                return None
            apx = self.points.agg(
                F.approx_count_distinct(F.xxhash64(*xcols)).alias("a")
            ).collect()[0]["a"] or 0
            object.__setattr__(self, "_min_positions", apx)
            if tot / max(1, apx) < PRUNE_MIN_DUP_FACTOR:
                object.__setattr__(self, "_pruned", "refused")
                return None
            # exact spread probe BEFORE building anything: one map-side-
            # combined groupBy over the coordinate columns yields the exact
            # collapsed size sum(min(mult, cap)). The shuffle carries only
            # distinct positions per partition (tiny once duplication is
            # real, which the ACD gate just established). The r6 path built
            # the FULL window table, re-range-partitioned and persisted it,
            # and only then discovered thin-spread duplication (the sf0.1
            # duplicate-PAIR fixtures) and threw the table away — the probe
            # makes refusal pay one narrow agg instead.
            probe = (
                self.points.groupBy(*xcols)
                .agg(F.count(F.lit(1)).alias("m"))
                .agg(F.sum(F.least(F.col("m"), F.lit(cap))).alias("np"))
                .collect()[0]
            )
            if int(probe["np"] or 0) > PRUNE_KEEP_RATIO * tot:
                object.__setattr__(self, "_pruned", "refused")
                return None
        cols = ["key", "doc_id", "span_idx", *xcols, "morton"]
        narrow = self.points.select(*cols)
        w = Window.partitionBy(*xcols).orderBy("key", "span_idx")
        pruned = (
            narrow.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= cap)
            .drop("rn")
            .repartitionByRange(self.cfg.partitions, "morton")
            .sortWithinPartitions("morton")
            .persist()
        )
        pruned.count()
        if isinstance(self._pruned, tuple):  # cap upgrade: drop the old table
            try:
                self._pruned[0].unpersist()
            except Exception:  # noqa: BLE001
                pass
        object.__setattr__(self, "_pruned", (pruned, cap))
        return pruned

    @classmethod
    def build(cls, points_df: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG, persist: bool = True) -> "SpatialIndex":
        pts = with_morton(points_df, cfg)
        staged_ids: list = []
        # r4 staged unconditionally, regressing the small-input build
        # 7.2->15.1s: stage only when the estimated input is big enough
        # that re-deriving it is the larger cost
        if _plan_size_bytes(pts) > STAGE_INPUT_BYTES:
            # repartitionByRange evaluates its child TWICE — once for the
            # range-bound sampling pass, once for the shuffle. When the
            # input is a derived pipeline (span synthesis + extraction +
            # coordinate arithmetic — measured 53s of a 145s varden build
            # at 38.4M, paid twice), staging the encoded rows once makes
            # the sampling pass a cheap re-read. The pick_pivots analog
            # (build_tree.hpp:48-70) samples an in-memory array for the
            # same reason. localCheckpoint, NOT DataFrame.persist: the
            # columnar cache ENCODE costs ~50s at 38.4M on 4 cores
            # (measured r5: 160s vs 109s varden build) while checkpoint
            # blocks write at serialization speed. Releasability comes
            # from the checkpoint's persistent-RDD id, read directly off
            # the returned frame (never a global getPersistentRDDs diff,
            # which would capture unrelated concurrent jobs' caches and
            # later force-unpersist them).
            # DISK_ONLY: the stage is written once and read twice (range-
            # bound sampling + shuffle), then released — on-heap blocks buy
            # nothing and the write's allocation storm under a large -Xmx
            # lets G1's young gen balloon (measured: the SAME 38.4M build is
            # 34s on a 16g driver heap and 302s on 48g with on-heap blocks;
            # DISK_ONLY is heap-size-invariant). On a real cluster this is
            # executor-local disk, the same medium shuffle files use.
            from pyspark.storagelevel import StorageLevel

            pts, staged_ids = tracked_local_checkpoint(pts, StorageLevel.DISK_ONLY)
        # The one index-build shuffle (reference: the counting-sort partition,
        # build_tree.hpp:83-121). Range partitioning keeps cells contiguous
        # per partition -> parquet min/max stats on morton give file skipping.
        pts = pts.repartitionByRange(cfg.partitions, "morton").sortWithinPartitions("morton")
        if persist:
            pts = pts.persist()
        meta = meta_of(pts, cfg)
        if persist:
            meta = meta.persist()
        return cls(points=pts, meta=meta, cfg=cfg, _staged_ids=staged_ids)

    # -- introspection / invariants (validate() analog, validation.hpp:49-70)
    def validate(self) -> dict:
        mnp = self.meta_np()
        # every cell's occupied bbox inside its cell's geometric bounds
        w = self.cfg.cell_width
        lo = morton_decode_np(mnp["cells"], self.cfg.dims, bits=self.cfg.index_level) * w
        viol = int(((mnp["mn"] < lo) | (mnp["mx"] > lo + (w - 1))).sum())
        return {
            "n_points": self.points.count(),
            "meta_sum": int(mnp["cum"][-1]) if len(mnp["cells"]) else None,
            "n_cells": len(mnp["cells"]),
            "bbox_violations": viol,
            "bbox_checked": True,
        }


def with_morton(points_df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """``points_df`` with its ``morton`` column: the Z-order key of each
    point's grid cell, the one encoding every index generation uses."""
    gcols = [f"shiftrightunsigned(x{j}, {cfg.coord_shift})" for j in range(cfg.dims)]
    return points_df.withColumn("morton", morton_col(gcols, cfg.dims, cfg.grid_bits))


def meta_of(points: DataFrame, cfg: EngineConfig) -> DataFrame:
    """The per-cell meta (cell, cnt, mn0..mn{d-1}, mx0..mx{d-1}) of
    ``points`` at ``cfg.index_level``. Builds, updates and commits all
    aggregate through it, so every generation's meta has one schema and
    one column order (and so its scans share compiled classes)."""
    xcols = [f"x{j}" for j in range(cfg.dims)]
    return points.groupBy(cell_col(F.col("morton"), cfg.dims, cfg.index_level, cfg.grid_bits).alias("cell")).agg(
        F.count(F.lit(1)).alias("cnt"),
        *[F.min(c).alias(f"mn{j}") for j, c in enumerate(xcols)],
        *[F.max(c).alias(f"mx{j}") for j, c in enumerate(xcols)],
    )


def release_rdd_ids(spark, ids) -> None:
    """Unpersist persisted RDDs by id (checkpoint-backed blocks that
    DataFrame.unpersist cannot reach). Best-effort."""
    try:
        m = spark.sparkContext._jsc.getPersistentRDDs()
        for i in ids:
            r = m.get(int(i))
            if r is not None:
                r.unpersist()
    except Exception:  # noqa: BLE001 — release is best-effort
        pass


def tracked_local_checkpoint(df: DataFrame, storage_level=None) -> tuple[DataFrame, list[int]]:
    """Eager localCheckpoint whose persisted RDD id is read DIRECTLY off the
    returned frame (its analyzed plan is a LogicalRDD wrapping the
    checkpointed — and persisted — RDD), so callers can unpersist the blocks
    deterministically. DataFrame.unpersist() is a no-op for checkpoint-backed
    frames (the CacheManager never registered them; only the async
    ContextCleaner frees them), which silently leaked a full generation per
    step in iterative loops (U7/U8/bench sweeps). No global
    getPersistentRDDs diff — concurrent jobs' caches are never captured."""
    if storage_level is not None:
        ck = df.localCheckpoint(eager=True, storageLevel=storage_level)
    else:
        ck = df.localCheckpoint(eager=True)
    try:
        ids = [int(ck._jdf.queryExecution().analyzed().rdd().id())]
    except Exception:  # noqa: BLE001 — tracking is best-effort
        ids = []
    return ck, ids


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's estimated size of a plan's output — the staging gate.
    Unknown/unavailable estimates stage (the scale-safe default)."""
    try:
        return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:  # noqa: BLE001
        return 1 << 62


# ---------------------------------------------------------------------------
# driver-side leaf resolution (shared by ranges + kNN)
# ---------------------------------------------------------------------------

def expand_ranges(i0: np.ndarray, i1: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized concatenation of index ranges [i0_k, i1_k): returns
    (idx, counts) where idx enumerates every range's members in order and
    counts[k] = i1_k - i0_k (for np.repeat'ing per-range payloads)."""
    n = (i1 - i0).astype(np.int64)
    total = int(n.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64), n
    nz = n > 0
    starts, lens = i0[nz].astype(np.int64), n[nz]
    steps = np.ones(total, dtype=np.int64)
    steps[0] = starts[0]
    pos = np.cumsum(lens)
    steps[pos[:-1]] = starts[1:] - (starts[:-1] + lens[:-1] - 1)
    return np.cumsum(steps), n


def morton_runs(morton: np.ndarray, cells: np.ndarray, shifts) -> tuple[np.ndarray, np.ndarray]:
    """The rows of each Morton-prefix cell among collected rows: cell i
    holds the rows whose ``morton >> shifts[i]`` equals ``cells[i]`` (a
    scalar shift serves every cell). Returns (rows, counts) as
    expand_ranges does, ``rows`` indexing ``morton`` as given. Rows are
    sorted once, only when they arrive out of Morton order (an insert's
    appended rows, a loaded index's files); each cell is then one
    searchsorted run of its shifted keys, never an interval end
    ``(cell + 1) << shift``, which overflows int64 at dims * grid_bits = 63."""
    order = None
    if (morton[1:] < morton[:-1]).any():
        order = np.argsort(morton, kind="stable")
        morton = morton[order]
    shifts = np.broadcast_to(np.asarray(shifts, dtype=np.int64), cells.shape)
    i0, i1 = np.zeros(len(cells), dtype=np.int64), np.zeros(len(cells), dtype=np.int64)
    for s in np.unique(shifts):
        m = shifts == s
        p = morton >> s
        i0[m], i1[m] = np.searchsorted(p, cells[m]), np.searchsorted(p, cells[m], side="right")
    rows, counts = expand_ranges(i0, i1)
    return (rows if order is None else order[rows]), counts


def _leaf_spans(meta: dict, sel: pd.DataFrame, d: int, L: int) -> tuple[np.ndarray, np.ndarray]:
    """Each cover cell's occupied level-L leaves as the index range
    [i0, i1) of the memoized meta's sorted cells (cells at a level are
    contiguous runs of sorted leaf ids: two searchsorteds)."""
    s = d * (L - sel["level"].to_numpy(dtype=np.int64))
    c = sel["cell"].to_numpy(dtype=np.int64)
    return np.searchsorted(meta["cells"], c << s), np.searchsorted(meta["cells"], (c + 1) << s)


def resolve_covers_np(meta: dict, sel: pd.DataFrame, d: int, L: int, max_rows: int | None = None):
    """Resolve cover cells (qid, level<=L, cell, interior) to the OCCUPIED
    level-L leaf cells beneath them — pure numpy over the memoized meta.
    Output (qid, leaf, interior) feeds a SINGLE-LEVEL equi-join against the
    points' leaf column: no points-side explode, and resolution size is
    bounded by occupancy (<= points under the covers), never by geometric
    cell counts. Returns None, before expanding any row, when the
    resolution would exceed ``max_rows``."""
    i0, i1 = _leaf_spans(meta, sel, d, L)
    if max_rows is not None and int((i1 - i0).sum()) > max_rows:
        return None
    idx, counts = expand_ranges(i0, i1)
    return pd.DataFrame(
        {
            "qid": np.repeat(sel["qid"].to_numpy(dtype=np.int64), counts),
            "leaf": meta["cells"][idx],
            "interior": np.repeat(sel["interior"].to_numpy(dtype=bool), counts),
        }
    )


def interior_counts_np(meta: dict, sel: pd.DataFrame, d: int, L: int) -> pd.DataFrame:
    """Per-qid SUM of metadata counts under fully-contained cover cells —
    the `within_box -> return T->size` shortcut (range_count.hpp:79-80)
    evaluated from the memoized prefix sums alone: the interior branch of a
    range count touches no point row and runs no Spark job."""
    i0, i1 = _leaf_spans(meta, sel, d, L)
    out = pd.DataFrame({"qid": sel["qid"].to_numpy(dtype=np.int64), "cnt": meta["cum"][i1] - meta["cum"][i0]})
    out = out.groupby("qid", as_index=False)["cnt"].sum()
    return out[out["cnt"] > 0].astype({"qid": "int64", "cnt": "int64"})


# A driver-resolved range count's boundary and a kNN driver round finish
# on the driver from ONE collected scan (matching in numpy) while the rows
# that scan returns plus the (row, query) pairs it tests, both from the
# skeleton's prefix sums before any job (exact, but an upper bound for
# kNN cells finer than index_level), stay within this; past it they join
# in Spark. Both sides measured at local[4] in interleaved pairs:
#  * range counts (bench_extra.py range_scan, BENCH/RANGE_SCAN_r14.json):
#    the driver side took 0.37-0.81x the join's wall up to 1.9M rows +
#    pairs, tied it at 1.7-2.2M (0.97-1.02x), lost from 2.6M (1.08-1.24x);
#  * kNN (bench_extra.py knn_scan, BENCH/KNN_SCAN_r16.json): the scan side
#    took 0.57-0.86x the join's wall in every cell up to 1.7M and first
#    tied it at 2.6M (1.03x); past that the loose fine-cell pair bound no
#    longer orders the cost (0.52-0.99x, but 1.26x at 20,000 varden
#    queries), so one bound serves both.
DRIVER_FINISH_MAX_ROWS = 2_000_000


def leaf_rows(meta: dict, leaves: np.ndarray) -> int:
    """The rows of the given occupied level-L leaves, a leaf counted once
    per time it is given: exact from the prefix sums."""
    return int(np.diff(meta["cum"])[np.searchsorted(meta["cells"], leaves)].sum())


# Scan pre-filter rule (scan_intervals / leaf_scan_pred). Whole-stage
# codegen inlines every BETWEEN term into one generated method; at 64 terms
# that method outgrows HotSpot's 8000-byte huge-method limit, is never
# JIT-compiled and runs interpreted on every row: measured 0.9-1.0s of
# executor time for one filtered 100k-row cached scan at local[4], against
# 0.05-0.08s unfiltered and 0.1-0.25s at 16-48 terms (48 still compiled).
# 32 keeps headroom below the cliff.
SCAN_PRED_MAX_INTERVALS = 32
# Every pre-filtered scan feeds an equi-join on the leaf column, which
# already drops each row outside a resolved leaf: the filter only pays for
# its per-row cost when it skips most of the table. Measured at the old
# 64-interval cap, the emitted intervals still covered 97% of the rows for
# a range-count batch and 38-49% for range report and kNN round 1.
SCAN_PRED_MIN_EXCLUDED = 0.5


def morton_intervals(leaves: np.ndarray, max_intervals: int) -> tuple[np.ndarray, np.ndarray]:
    """Inclusive leaf-id ranges (starts, ends), sorted and disjoint,
    covering the given level-L leaf cells: adjacent leaves merge, and the
    range count is capped at ``max_intervals`` by keeping only the widest
    gaps (merging across a gap only widens coverage: always a superset).
    A cap of 1 yields the single bounding range."""
    leaves = np.unique(np.asarray(leaves, dtype=np.int64))
    if leaves.size == 0:
        return leaves, leaves
    brk = np.nonzero(np.diff(leaves) > 1)[0]
    starts = np.concatenate([leaves[:1], leaves[brk + 1]])
    ends = np.concatenate([leaves[brk], leaves[-1:]])
    if starts.size > max_intervals:
        gaps = starts[1:] - ends[:-1]  # keep the max_intervals-1 widest gaps
        keep = np.sort(np.argsort(gaps)[gaps.size - (max_intervals - 1):])
        starts = np.concatenate([starts[:1], starts[keep + 1]])
        ends = np.concatenate([ends[keep], ends[-1:]])
    return starts, ends


def _intervals_pred(starts: np.ndarray, ends: np.ndarray, shift: int) -> Column:
    # ONE F.expr over a generated SQL string: the Column-by-Column OR chain
    # issued ~4 py4j round-trips per interval (measured ~0.1s of driver
    # latency per query batch at the 64-interval cap)
    terms = [
        f"(morton BETWEEN {int(s) << shift} AND {((int(e) + 1) << shift) - 1})"
        for s, e in zip(starts.tolist(), ends.tolist())
    ]
    return F.expr(" OR ".join(terms))


def scan_intervals(meta: dict, leaves: np.ndarray, batch_rows: int) -> tuple[np.ndarray, np.ndarray] | None:
    """The scan pre-filter decision: the capped leaf ranges to filter a
    points scan by, or None when the scan should read the whole table.

    Against the range-partitioned, morton-sorted cached points a Morton
    range filter skips whole cached batches via min/max stats — the
    distributed analog of the kd-tree descending only into intersecting
    subtrees (range_count.hpp:77-78, nn_search.hpp:121-123). Only whole
    batches are skipped, so the rule models the table as runs of
    ``batch_rows`` consecutive Morton-ordered rows (``scan_batch_rows``)
    and emits the ranges, capped at SCAN_PRED_MAX_INTERVALS, only when
    the batches no range touches hold at least SCAN_PRED_MIN_EXCLUDED of
    the index's rows — exact from the memoized meta's count prefix sums.
    A filter that skips no batch still costs its per-row test and, since
    its literals change with every call, a freshly compiled scan class."""
    total = int(meta["cum"][-1])
    if np.size(leaves) == 0 or total == 0:
        return None
    starts, ends = morton_intervals(leaves, SCAN_PRED_MAX_INTERVALS)
    cells, cum = meta["cells"], meta["cum"]
    r0 = cum[np.searchsorted(cells, starts)]
    r1 = cum[np.searchsorted(cells, ends, side="right")]
    n_batches = -(-total // batch_rows)
    touched = np.zeros(n_batches, dtype=bool)
    for a, b in zip(r0.tolist(), r1.tolist()):
        if b > a:  # rows [a, b) lie in batches a // B .. (b - 1) // B
            touched[a // batch_rows:(b - 1) // batch_rows + 1] = True
    sizes = np.minimum(batch_rows, total - np.arange(n_batches, dtype=np.int64) * batch_rows)
    if int(sizes[~touched].sum()) < SCAN_PRED_MIN_EXCLUDED * total:
        return None
    return starts, ends


def leaf_scan(meta: dict, leaves: np.ndarray, shift: int, batch_rows: int) -> tuple[Column | None, int]:
    """``scan_intervals`` as a ``morton`` predicate (None: scan everything),
    and the exact number of rows that scan returns (from the prefix sums)."""
    iv = scan_intervals(meta, leaves, batch_rows)
    if iv is None:
        return None, int(meta["cum"][-1])
    cells, cum = meta["cells"], meta["cum"]
    rows = cum[np.searchsorted(cells, iv[1], side="right")] - cum[np.searchsorted(cells, iv[0])]
    return _intervals_pred(*iv, shift), int(rows.sum())


def leaf_scan_pred(meta: dict, leaves: np.ndarray, shift: int, batch_rows: int) -> Column | None:
    """``leaf_scan``'s predicate alone."""
    return leaf_scan(meta, leaves, shift, batch_rows)[0]


class _Region:
    """One query region for cover_regions. Each region class supplies
    ``params(regions)``, its regions' parameters stacked into per-query
    arrays, and ``classify(params, qsel, lo, hi)``: frontier cells with
    per-cell bounds lo, hi of shape (m, d), each against its own query's
    region (``qsel`` indexes the per-query arrays), as an (m,) array of
    DISJOINT/PARTIAL/CONTAINED — fully vectorized, the cover descent never
    touches cells or queries one by one."""

    DISJOINT, PARTIAL, CONTAINED = 0, 1, 2


def _verdict(disjoint: np.ndarray, contained: np.ndarray) -> np.ndarray:
    return np.where(disjoint, _Region.DISJOINT, np.where(contained, _Region.CONTAINED, _Region.PARTIAL))


class BoxRegion(_Region):
    def __init__(self, qlo, qhi):
        self.qlo = np.asarray(qlo, dtype=np.int64)
        self.qhi = np.asarray(qhi, dtype=np.int64)

    @staticmethod
    def params(regions):
        return np.stack([r.qlo for r in regions]), np.stack([r.qhi for r in regions])

    @staticmethod
    def classify(p, qsel, lo, hi):
        qlo, qhi = p[0][qsel], p[1][qsel]
        disjoint = ((hi < qlo) | (lo > qhi)).any(axis=1)
        contained = ((lo >= qlo) & (hi <= qhi)).all(axis=1)
        return _verdict(disjoint, contained)


class BallRegion(_Region):
    """Exact int arithmetic: squared distances (circle predicates,
    utility/box_op.hpp:91-134)."""

    def __init__(self, center, r2: int):
        self.c = np.asarray(center, dtype=np.int64)
        self.r2 = int(r2)

    @staticmethod
    def params(regions):
        return np.stack([r.c for r in regions]), np.array([r.r2 for r in regions], dtype=np.int64)

    @staticmethod
    def classify(p, qsel, lo, hi):
        c, r2 = p[0][qsel], p[1][qsel]
        dmin2 = ((np.clip(c, lo, hi) - c) ** 2).sum(axis=1)
        farthest = np.where(np.abs(lo - c) > np.abs(hi - c), lo, hi)
        dmax2 = ((farthest - c) ** 2).sum(axis=1)
        return _verdict(dmin2 > r2, dmax2 <= r2)


class ConvexPolygonRegion(_Region):
    """CCW convex polygon, d=2 only. Separating-axis classification."""

    def __init__(self, verts: np.ndarray):
        self.v = np.asarray(verts, dtype=np.int64)  # (e, 2)

    @staticmethod
    def params(regions):
        # pad every polygon to the longest by repeating its last vertex: the
        # zero-length edge this adds has a zero cross product with every
        # corner (neither the contained nor the outside-one-edge test moves)
        # and a repeated vertex leaves the vertex separating-axis tests as is
        e = max(len(r.v) for r in regions)
        v = np.stack([np.concatenate([r.v, np.repeat(r.v[-1:], e - len(r.v), axis=0)]) for r in regions])
        return v[:, :, 0], v[:, :, 1]

    @staticmethod
    def classify(p, qsel, lo, hi):
        vx, vy = p
        cx = np.stack([lo[:, 0], lo[:, 0], hi[:, 0], hi[:, 0]], axis=1)  # (m, 4) cell corners
        cy = np.stack([lo[:, 1], hi[:, 1], lo[:, 1], hi[:, 1]], axis=1)
        e = vx.shape[1]
        contained = np.ones(len(qsel), dtype=bool)
        disjoint = np.zeros(len(qsel), dtype=bool)
        # box-axis SAT: every vertex left of / right of / below / above the cell
        sat = np.ones((4, len(qsel)), dtype=bool)
        for j in range(e):  # one edge of every query at a time: O(m) memory
            ax, ay = vx[qsel, j], vy[qsel, j]
            ex, ey = vx[qsel, (j + 1) % e] - ax, vy[qsel, (j + 1) % e] - ay
            cross = ex[:, None] * (cy - ay[:, None]) - ey[:, None] * (cx - ax[:, None])
            contained &= (cross >= 0).all(axis=1)
            disjoint |= (cross < 0).all(axis=1)  # cell fully outside this edge
            sat &= np.stack([ax < lo[:, 0], ax > hi[:, 0], ay < lo[:, 1], ay > hi[:, 1]])
        return _verdict(disjoint | sat.any(axis=0), contained)


def cover_regions(
    regions: list[tuple[int, _Region]],
    cfg: EngineConfig = DEFAULT_CONFIG,
    budget: int = 512,
) -> pd.DataFrame:
    """Hierarchical cell cover per query region (data-independent), for a
    batch of regions of one class.

    Returns DataFrame columns (qid, level, cell, interior) where cells are
    pairwise disjoint per qid; ``interior`` cells are fully inside the
    region (answered from metadata counts alone — the `within_box ->
    T->size` shortcut, range_count.hpp:79-80), boundary cells need an exact
    row filter.

    Level-synchronous descent vectorized ACROSS QUERIES: one frontier array
    for the whole batch, one classify call per level (the per-query loop
    was 0.6s of driver time per 1000-box bench call). Contained cells emit
    as interior; a query stops, emitting its partial cells as boundary, at
    level L or when emitted + partials*2^d would exceed ``budget`` cells
    (correct, just scans a few more rows). Runs on the driver for small
    batches and inside mapInPandas tasks for large ones.
    """
    d, L, cb = cfg.dims, cfg.index_level, cfg.coord_bits
    kind = type(regions[0][1]) if regions else None
    if any(type(r) is not kind for _, r in regions):
        raise ValueError("cover_regions takes one region class per batch")
    qids = np.array([q for q, _ in regions], dtype=np.int64)
    params = kind.params([r for _, r in regions]) if regions else None
    nq = len(qids)
    f_q = np.arange(nq, dtype=np.int64)
    f_c = np.zeros(nq, dtype=np.int64)
    emitted = np.zeros(nq, dtype=np.int64)
    child = np.arange(1 << d, dtype=np.int64)
    # seeded with typed empties: an empty cover keeps the column dtypes
    q_out, l_out, c_out, i_out = [qids[:0]], [np.zeros(0, np.int32)], [f_c[:0]], [np.zeros(0, bool)]

    def emit(qsel: np.ndarray, level: int, cells: np.ndarray, interior: bool):
        q_out.append(qids[qsel])
        l_out.append(np.full(cells.size, level, dtype=np.int32))
        c_out.append(cells)
        i_out.append(np.full(cells.size, interior, dtype=bool))

    for level in range(L + 1):
        if not len(f_c):
            break
        g = morton_decode_np(f_c, d, bits=level) if level else np.zeros((len(f_c), d), dtype=np.int64)
        w = 1 << (cb - level)
        lo = g * w
        hi = lo + (w - 1)
        cls = kind.classify(params, f_q, lo, hi)
        cont = cls == _Region.CONTAINED
        part = cls == _Region.PARTIAL
        emit(f_q[cont], level, f_c[cont], True)
        emitted += np.bincount(f_q[cont], minlength=nq)
        if level == L:
            stop = np.ones(nq, dtype=bool)
        else:
            stop = emitted + np.bincount(f_q[part], minlength=nq) * (1 << d) > budget
        pm = part & stop[f_q]
        emit(f_q[pm], level, f_c[pm], False)
        cm = part & ~stop[f_q]
        f_q = np.repeat(f_q[cm], 1 << d)
        f_c = ((f_c[cm][:, None] << d) | child[None, :]).reshape(-1)
    return pd.DataFrame(
        {
            "qid": np.concatenate(q_out),
            "level": np.concatenate(l_out),
            "cell": np.concatenate(c_out),
            "interior": np.concatenate(i_out),
        }
    )
