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

At cluster scale the metadata table is itself a DataFrame (broadcastable,
~n/leaf_target rows); covers are computed from query geometry alone
(data-independent), driver-side here, or inside mapInPandas when the query
set is itself large.
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
    "leaf_scan_pred",
    "morton_interval_pred",
    "scan_intervals",
    "tracked_local_checkpoint",
]

# meta tables up to this many cells are collected to the driver once per
# index generation and reused by every query batch (leaf resolution,
# interior prefix-sums, scan-interval pruning). A level-7 d=2 meta is
# <= 16384 rows; 300k rows x (2+2d) longs ~ 15MB — still trivially
# driver-resident. Larger metas fall back to Spark-side resolution joins.
META_MEMO_CELLS = 300_000

# build-input staging (see SpatialIndex.build): estimated input sizes above
# this are cached before the range shuffle so repartitionByRange's sampling
# pass doesn't re-run an expensive derivation pipeline. Small inputs skip
# the cache — staging a 30MB sf0.1 input costs more than the double eval.
STAGE_INPUT_BYTES = 512 << 20

# duplicate-position collapse (pruned_points): only engage when the table
# holds meaningfully stacked coordinates, estimated with one narrow
# approx_count_distinct pass. Below the threshold the pruned table would be
# ~the full table and persisting it doubles residency for nothing. The
# pre-gate can't see the MULTIPLICITY SPREAD (a table of duplicate PAIRS
# has dup factor ~2 but collapses nothing under a cap of 16 — the sf0.1
# fixtures are exactly this), so a post-build check drops the table unless
# it actually shrank.
PRUNE_MIN_DUP_FACTOR = 1.3
PRUNE_KEEP_RATIO = 0.75
PRUNE_CAP_MIN = 16


@dataclass
class SpatialIndex:
    """points: (doc_id, span_idx, key, x0..x{d-1}, morton) range-partitioned
    and sorted by morton; meta: (cell, cnt, mn0..mx{d-1}) at cfg.index_level.

    ``_ladder`` memoizes the kNN density ladder (density_ladder below) —
    INDEX state, like the reference kd-tree's depth structure, computed at
    most once per index generation (updates produce a new SpatialIndex, so
    the memo invalidates naturally)."""

    points: DataFrame
    meta: DataFrame
    cfg: EngineConfig
    _ladder: tuple[DataFrame, list[int]] | None = None
    _meta_np: dict | None = None
    _staged_ids: list = field(default_factory=list)
    _pruned: object = None  # None | "refused" | (DataFrame, cap)

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
        OUTSIDE the next timed section. Driver-side memos (meta_np,
        ladder) die with the instance."""
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

    def meta_np(self) -> dict | None:
        """Driver-side snapshot of the (small) metadata table, memoized per
        index generation: {"cells": sorted int64 cell ids, "cum": length
        m+1 count prefix sums, "mn"/"mx": (m, d) per-cell occupied bounds}.

        This is the distributed analog of the reference keeping its top
        skeleton in shared memory (build_tree.hpp:19-45): every query batch
        resolves its covers/shells against the skeleton WITHOUT a Spark
        job, so the points table is touched by exactly one equi-join per
        batch. Returns None (and memoizes the refusal) when the meta
        exceeds META_MEMO_CELLS — callers then use Spark-side resolution.
        """
        if self._meta_np is not None:
            return self._meta_np if self._meta_np.get("cells") is not None else None
        d = self.cfg.dims
        n_cells = self.meta.count()
        if n_cells > META_MEMO_CELLS:
            object.__setattr__(self, "_meta_np", {"cells": None, "n_cells": n_cells})
            return None
        rows = self.meta.collect()
        cells = np.array([r["cell"] for r in rows], dtype=np.int64)
        order = np.argsort(cells)
        cells = cells[order]
        cnt = np.array([r["cnt"] for r in rows], dtype=np.int64)[order]
        mn = np.stack(
            [np.array([r[f"mn{j}"] for r in rows], dtype=np.int64)[order] for j in range(d)],
            axis=1,
        ) if rows else np.zeros((0, d), dtype=np.int64)
        mx = np.stack(
            [np.array([r[f"mx{j}"] for r in rows], dtype=np.int64)[order] for j in range(d)],
            axis=1,
        ) if rows else np.zeros((0, d), dtype=np.int64)
        memo = {
            "cells": cells,
            "cum": np.concatenate([[0], np.cumsum(cnt)]),
            "mn": mn,
            "mx": mx,
            "n_cells": n_cells,
        }
        # frozen=False dataclass: plain assignment; keep setattr uniform
        object.__setattr__(self, "_meta_np", memo)
        return memo

    def meta_n_cells(self) -> int:
        """Skeleton row count (memoized with meta_np — shared by the
        broadcast gates in the Spark-side resolution paths)."""
        if self._meta_np is None:
            self.meta_np()
        n = self._meta_np.get("n_cells")
        if n is None:  # memo injected without a count (tests force refusal)
            n = self.meta.count()
            self._meta_np["n_cells"] = n
        return int(n)

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
        volume by the duplication factor.

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
        to pay for the pass — proven free from the metadata alone when
        possible (dup factor <= points/occupied-cells, since every
        occupied cell holds >= 1 distinct position), else estimated with
        one narrow approx_count_distinct scan — or when k exceeds a
        practical cap."""
        if self._pruned == "refused" or k > 4096:
            return None
        cap = max(PRUNE_CAP_MIN, k)
        if isinstance(self._pruned, tuple):
            df, have_cap = self._pruned
            if have_cap >= k:
                return df
        d = self.cfg.dims
        xcols = [f"x{j}" for j in range(d)]
        s = self.meta.agg(F.sum("cnt").alias("s"), F.count(F.lit(1)).alias("m")).collect()[0]
        tot, n_cells = s["s"] or 0, s["m"] or 0
        if self._pruned is None:
            if tot == 0 or tot / max(1, n_cells) < PRUNE_MIN_DUP_FACTOR:
                # zero-scan refusal: dup factor is bounded by cells' mean
                # occupancy — no probe pass at all (the sf0.1 varden drift)
                object.__setattr__(self, "_pruned", "refused")
                return None
            apx = self.points.agg(
                F.approx_count_distinct(F.xxhash64(*xcols)).alias("a")
            ).collect()[0]["a"] or 0
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
        cols = ["key", "span_idx", *xcols, "morton"]
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

    def density_ladder(self, target: int = 256) -> tuple[DataFrame, list[int]]:
        """(hist, levels): a (lvl, c, hcnt) point-count histogram over grid
        levels 1..index_level — the skew-adaptivity state for kNN level
        assignment (the kd-tree's density-adaptive depth; divide_rotate's
        data-driven splits, build_tree.hpp:19-45).

        EXACT rollup of the per-cell metadata (meta is ~n/leaf_target rows
        and already persisted — ZERO passes over the points; levels deeper
        than index_level come from the closed-form density formula over the
        meta row's count + occupied bbox, see knn._assign_levels). The
        assignment rule only asks "does the home cell DISQUALIFY this rung"
        (estimate above the candidate target); cells at/below the target
        behave exactly like absent rows in the left join, so the histogram
        keeps ONLY dense cells — small and always broadcastable.

        Computed once per index (eager localCheckpoint), memoized — the
        memo keeps the FIRST call's target; later calls with a smaller
        target may land one rung coarser (a performance nuance only:
        kNN level choices never affect exactness, the ring bound does).
        """
        if self._ladder is not None:
            return self._ladder
        cfg = self.cfg
        d, L = cfg.dims, cfg.index_level

        coarse_levels = list(range(1, L + 1))
        lvl_cells = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(lvl).cast("int").alias("lvl"),
                        (
                            F.shiftrightunsigned("cell", d * (L - lvl))
                            if lvl < L
                            else F.col("cell")
                        ).alias("c"),
                    )
                    for lvl in coarse_levels
                ]
            )
        ).alias("s")
        keep_floor = max(0, target // (3**d))
        hist = (
            self.meta.select(lvl_cells, "cnt")
            .select(F.col("s.lvl").alias("lvl"), F.col("s.c").alias("c"), "cnt")
            .groupBy("lvl", "c")
            .agg(F.sum("cnt").alias("hcnt"))
            .where(F.col("hcnt") > keep_floor)
            .localCheckpoint(eager=True)
        )
        self._ladder = (hist, coarse_levels)
        return self._ladder

    @classmethod
    def build(
        cls,
        points_df: DataFrame,
        cfg: EngineConfig = DEFAULT_CONFIG,
        persist: bool = True,
        stage_input: bool | None = None,
    ) -> "SpatialIndex":
        d = cfg.dims
        xcols = [f"x{j}" for j in range(d)]
        gcols = [f"shiftrightunsigned({c}, {cfg.coord_shift})" for c in xcols]
        pts = points_df.withColumn("morton", morton_col(gcols, d, cfg.grid_bits))
        if stage_input is None:
            # auto gate (r4 staged unconditionally, regressing the small-
            # input build 7.2->15.1s): stage only when the estimated input
            # is big enough that re-deriving it is the larger cost
            stage_input = _plan_size_bytes(pts) > STAGE_INPUT_BYTES
        staged_ids: list = []
        if stage_input:
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
        meta = (
            pts.groupBy(cell_col(F.col("morton"), d, cfg.index_level, cfg.grid_bits).alias("cell"))
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                *[F.min(c).alias(f"mn{j}") for j, c in enumerate(xcols)],
                *[F.max(c).alias(f"mx{j}") for j, c in enumerate(xcols)],
            )
        )
        if persist:
            meta = meta.persist()
        return cls(points=pts, meta=meta, cfg=cfg, _staged_ids=staged_ids)

    # -- introspection / invariants (validate() analog, validation.hpp:49-70)
    def validate(self) -> dict:
        d = self.cfg.dims
        n_pts = self.points.count()
        m = self.meta.agg(F.sum("cnt").alias("s"), F.count(F.lit(1)).alias("cells")).collect()[0]
        # every point's coords inside its cell's geometric bounds
        w = self.cfg.cell_width
        viol: int | None = 0
        mrows = self.meta.collect() if m["cells"] < 200_000 else None
        if mrows is None:
            viol = None  # too many cells for a driver-side check: report "not checked", never a silent 0
        else:
            cells = np.array([r["cell"] for r in mrows], dtype=np.int64)
            gcoords = morton_decode_np(cells, d, bits=self.cfg.index_level)
            for j in range(d):
                mn = np.array([r[f"mn{j}"] for r in mrows])
                mx = np.array([r[f"mx{j}"] for r in mrows])
                viol += int(np.sum((mn < gcoords[:, j] * w) | (mx > (gcoords[:, j] + 1) * w - 1)))
        return {
            "n_points": n_pts,
            "meta_sum": m["s"],
            "n_cells": m["cells"],
            "bbox_violations": viol,
            "bbox_checked": viol is not None,
        }


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


def resolve_covers_np(meta: dict, sel: pd.DataFrame, d: int, L: int) -> pd.DataFrame:
    """Resolve cover cells (qid, level<=L, cell, interior) to the OCCUPIED
    level-L leaf cells beneath them — pure numpy over the memoized meta
    (cells at a level are contiguous runs of sorted leaf ids: two
    searchsorteds per level group). Output (qid, leaf, interior) feeds a
    SINGLE-LEVEL equi-join against the points' leaf column: no points-side
    explode, and resolution size is bounded by occupancy (<= points under
    the covers), never by geometric cell counts."""
    cells_sorted = meta["cells"]
    frames = []
    for lvl, grp in sel.groupby("level"):
        s = d * (L - int(lvl))
        c = grp["cell"].to_numpy(dtype=np.int64)
        i0 = np.searchsorted(cells_sorted, c << s)
        i1 = np.searchsorted(cells_sorted, (c + 1) << s)
        idx, counts = expand_ranges(i0, i1)
        if idx.size == 0:
            continue
        frames.append(
            pd.DataFrame(
                {
                    "qid": np.repeat(grp["qid"].to_numpy(dtype=np.int64), counts),
                    "leaf": cells_sorted[idx],
                    "interior": np.repeat(grp["interior"].to_numpy(dtype=bool), counts),
                }
            )
        )
    if not frames:
        return pd.DataFrame(
            {"qid": pd.Series(dtype="int64"), "leaf": pd.Series(dtype="int64"),
             "interior": pd.Series(dtype="bool")}
        )
    return pd.concat(frames, ignore_index=True)


def interior_counts_np(meta: dict, sel: pd.DataFrame, d: int, L: int) -> pd.DataFrame:
    """Per-qid SUM of metadata counts under fully-contained cover cells —
    the `within_box -> return T->size` shortcut (range_count.hpp:79-80)
    evaluated ENTIRELY on the driver from the memoized prefix sums: the
    interior branch of a range count costs zero Spark jobs."""
    cells_sorted, cum = meta["cells"], meta["cum"]
    qids, sums = [], []
    for lvl, grp in sel.groupby("level"):
        s = d * (L - int(lvl))
        c = grp["cell"].to_numpy(dtype=np.int64)
        i0 = np.searchsorted(cells_sorted, c << s)
        i1 = np.searchsorted(cells_sorted, (c + 1) << s)
        qids.append(grp["qid"].to_numpy(dtype=np.int64))
        sums.append(cum[i1] - cum[i0])
    if not qids:
        return pd.DataFrame({"qid": pd.Series(dtype="int64"), "cnt": pd.Series(dtype="int64")})
    out = pd.DataFrame({"qid": np.concatenate(qids), "cnt": np.concatenate(sums)})
    out = out.groupby("qid", as_index=False)["cnt"].sum()
    return out[out["cnt"] > 0].astype({"qid": "int64", "cnt": "int64"})


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


def morton_interval_pred(
    leaves: np.ndarray, shift: int, max_intervals: int = SCAN_PRED_MAX_INTERVALS
) -> Column | None:
    """OR-of-BETWEEN predicate on ``morton`` covering the given level-L
    leaf cells, one term per range of ``morton_intervals``. Unconditional:
    read paths go through ``leaf_scan_pred``, which decides whether the
    predicate is worth emitting at all."""
    starts, ends = morton_intervals(leaves, max_intervals)
    return _intervals_pred(starts, ends, shift) if starts.size else None


def scan_intervals(meta: dict | None, leaves: np.ndarray) -> tuple[np.ndarray, np.ndarray] | None:
    """The scan pre-filter decision: the capped leaf ranges to filter a
    points scan by, or None when the scan should read the whole table.

    Against the range-partitioned, morton-sorted cached points a Morton
    range filter skips whole cached batches via min/max stats — the
    distributed analog of the kd-tree descending only into intersecting
    subtrees (range_count.hpp:77-78, nn_search.hpp:121-123). It is
    emitted only when the ranges, capped at SCAN_PRED_MAX_INTERVALS,
    exclude at least SCAN_PRED_MIN_EXCLUDED of the index's rows — exact
    from the memoized meta's count prefix sums. Without a memoized meta
    there is no count to decide on, and nothing is emitted."""
    if meta is None or np.size(leaves) == 0:
        return None
    starts, ends = morton_intervals(leaves, SCAN_PRED_MAX_INTERVALS)
    cells, cum = meta["cells"], meta["cum"]
    covered = int(
        (cum[np.searchsorted(cells, ends, side="right")] - cum[np.searchsorted(cells, starts)]).sum()
    )
    total = int(cum[-1])
    if total - covered < SCAN_PRED_MIN_EXCLUDED * total:
        return None
    return starts, ends


def leaf_scan_pred(meta: dict | None, leaves: np.ndarray, shift: int) -> Column | None:
    """``scan_intervals`` as a ``morton`` predicate (None: scan everything)."""
    iv = scan_intervals(meta, leaves)
    return None if iv is None else _intervals_pred(*iv, shift)


class _Region:
    """Geometry predicates for cover_regions. ``classify_batch`` takes the
    per-cell bounds arrays lo, hi of shape (m, d) and returns an (m,) int
    array of DISJOINT/PARTIAL/CONTAINED — fully vectorized, the cover
    descent never touches cells one by one."""

    DISJOINT, PARTIAL, CONTAINED = 0, 1, 2

    def classify_batch(self, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:  # pragma: no cover
        raise NotImplementedError


class BoxRegion(_Region):
    def __init__(self, qlo, qhi):
        self.qlo = np.asarray(qlo, dtype=np.int64)
        self.qhi = np.asarray(qhi, dtype=np.int64)

    def classify_batch(self, lo, hi):
        disjoint = ((hi < self.qlo) | (lo > self.qhi)).any(axis=1)
        contained = ((lo >= self.qlo) & (hi <= self.qhi)).all(axis=1)
        return np.where(disjoint, self.DISJOINT, np.where(contained, self.CONTAINED, self.PARTIAL))


class BallRegion(_Region):
    """Exact int arithmetic: squared distances (circle predicates,
    utility/box_op.hpp:91-134)."""

    def __init__(self, center, r2: int):
        self.c = np.asarray(center, dtype=np.int64)
        self.r2 = int(r2)

    def classify_batch(self, lo, hi):
        nearest = np.clip(self.c, lo, hi)
        dmin2 = ((nearest - self.c) ** 2).sum(axis=1)
        farthest = np.where(np.abs(lo - self.c) > np.abs(hi - self.c), lo, hi)
        dmax2 = ((farthest - self.c) ** 2).sum(axis=1)
        return np.where(dmin2 > self.r2, self.DISJOINT, np.where(dmax2 <= self.r2, self.CONTAINED, self.PARTIAL))


class ConvexPolygonRegion(_Region):
    """CCW convex polygon, d=2 only. Separating-axis classification."""

    def __init__(self, verts: np.ndarray):
        self.v = np.asarray(verts, dtype=np.int64)  # (e, 2)
        self.e = np.roll(self.v, -1, axis=0) - self.v  # edges

    def classify_batch(self, lo, hi):
        m = lo.shape[0]
        # corners: (m, 4, 2)
        corners = np.stack(
            [
                np.stack([lo[:, 0], lo[:, 1]], axis=1),
                np.stack([lo[:, 0], hi[:, 1]], axis=1),
                np.stack([hi[:, 0], lo[:, 1]], axis=1),
                np.stack([hi[:, 0], hi[:, 1]], axis=1),
            ],
            axis=1,
        )
        # cross((v1-v0),(p-v0)): (e, m, 4)
        rel = corners[None, :, :, :] - self.v[:, None, None, :]
        cross = self.e[:, None, None, 0] * rel[:, :, :, 1] - self.e[:, None, None, 1] * rel[:, :, :, 0]
        contained = (cross >= 0).all(axis=(0, 2))
        disjoint = (cross < 0).all(axis=2).any(axis=0)  # box fully outside one edge
        # polygon-box SAT on the box axes
        vx, vy = self.v[:, 0], self.v[:, 1]
        disjoint |= (vx[None, :] < lo[:, [0]]).all(axis=1) | (vx[None, :] > hi[:, [0]]).all(axis=1)
        disjoint |= (vy[None, :] < lo[:, [1]]).all(axis=1) | (vy[None, :] > hi[:, [1]]).all(axis=1)
        return np.where(disjoint, self.DISJOINT, np.where(contained, self.CONTAINED, self.PARTIAL))


def _cover_regions_vec(
    qids: np.ndarray,
    classify,
    d: int,
    L: int,
    cb: int,
    budget: int,
) -> pd.DataFrame:
    """Level-synchronous cover descent vectorized ACROSS QUERIES: one
    frontier array for the whole batch, one classify call per level.
    ``classify(qsel, lo, hi)`` classifies frontier rows against their own
    query's region (qsel indexes the per-query parameter arrays). Emits
    exactly the same cover as the per-query loop: contained cells emit as
    interior; a query stops (emitting its partial cells as boundary) at
    level L or when emitted + partials*2^d would exceed the budget."""
    nq = len(qids)
    f_q = np.arange(nq, dtype=np.int64)
    f_c = np.zeros(nq, dtype=np.int64)
    emitted = np.zeros(nq, dtype=np.int64)
    child = np.arange(1 << d, dtype=np.int64)
    q_out, l_out, c_out, i_out = [], [], [], []

    def emit(qsel: np.ndarray, level: int, cells: np.ndarray, interior: bool):
        if cells.size:
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
        cls = classify(f_q, lo, hi)
        cont = cls == _Region.CONTAINED
        part = cls == _Region.PARTIAL
        emit(f_q[cont], level, f_c[cont], True)
        emitted += np.bincount(f_q[cont], minlength=nq)
        pcnt = np.bincount(f_q[part], minlength=nq)
        if level == L:
            stop = np.ones(nq, dtype=bool)
        else:
            stop = emitted + pcnt * (1 << d) > budget
        pm = part & stop[f_q]
        emit(f_q[pm], level, f_c[pm], False)
        cm = part & ~stop[f_q]
        f_q = np.repeat(f_q[cm], 1 << d)
        f_c = ((f_c[cm][:, None] << d) | child[None, :]).reshape(-1)
    if not q_out:
        return pd.DataFrame(columns=["qid", "level", "cell", "interior"]).astype(
            {"qid": "int64", "level": "int32", "cell": "int64", "interior": "bool"}
        )
    return pd.DataFrame(
        {
            "qid": np.concatenate(q_out),
            "level": np.concatenate(l_out),
            "cell": np.concatenate(c_out),
            "interior": np.concatenate(i_out),
        }
    )


def cover_regions(
    regions: list[tuple[int, _Region]],
    cfg: EngineConfig = DEFAULT_CONFIG,
    budget: int = 512,
) -> pd.DataFrame:
    """Hierarchical cell cover per query region (data-independent).

    Returns DataFrame columns (qid, level, cell, interior) where cells are
    pairwise disjoint per qid; ``interior`` cells are fully inside the
    region (answered from metadata counts alone — the `within_box ->
    T->size` shortcut, range_count.hpp:79-80), boundary cells need an exact
    row filter. Level-synchronous quadtree descent, vectorized over the
    whole frontier per query, with a budget: once the emitted+frontier size
    would exceed ``budget`` cells, remaining PARTIAL cells are emitted as
    boundary at their current level (correct, just scans a few more rows).

    At cluster scale with millions of queries this same function runs
    inside mapInPandas over the query DataFrame (it is data-independent and
    embarrassingly parallel per query); driver-side suffices for the
    benchmark query counts.
    """
    d, L, cb = cfg.dims, cfg.index_level, cfg.coord_bits

    # homogeneous batches take the across-queries vectorized descent (one
    # classify per level for the whole batch — the per-query loop was
    # 0.6s of driver time per 1000-box bench call, and runs inside
    # mapInPandas tasks for distributed covers at scale)
    if regions and all(isinstance(r, BoxRegion) for _, r in regions):
        qids = np.array([q for q, _ in regions], dtype=np.int64)
        qlo = np.stack([r.qlo for _, r in regions])
        qhi = np.stack([r.qhi for _, r in regions])

        def _classify_boxes(qsel, lo, hi):
            disjoint = ((hi < qlo[qsel]) | (lo > qhi[qsel])).any(axis=1)
            contained = ((lo >= qlo[qsel]) & (hi <= qhi[qsel])).all(axis=1)
            return np.where(
                disjoint, _Region.DISJOINT, np.where(contained, _Region.CONTAINED, _Region.PARTIAL)
            )

        return _cover_regions_vec(qids, _classify_boxes, d, L, cb, budget)
    if regions and all(isinstance(r, BallRegion) for _, r in regions):
        qids = np.array([q for q, _ in regions], dtype=np.int64)
        qc = np.stack([r.c for _, r in regions])
        qr2 = np.array([r.r2 for _, r in regions], dtype=np.int64)

        def _classify_balls(qsel, lo, hi):
            c = qc[qsel]
            nearest = np.clip(c, lo, hi)
            dmin2 = ((nearest - c) ** 2).sum(axis=1)
            farthest = np.where(np.abs(lo - c) > np.abs(hi - c), lo, hi)
            dmax2 = ((farthest - c) ** 2).sum(axis=1)
            r2 = qr2[qsel]
            return np.where(
                dmin2 > r2, _Region.DISJOINT, np.where(dmax2 <= r2, _Region.CONTAINED, _Region.PARTIAL)
            )

        return _cover_regions_vec(qids, _classify_balls, d, L, cb, budget)

    child_offsets = np.arange(1 << d, dtype=np.int64)
    q_out, l_out, c_out, i_out = [], [], [], []

    def emit(qid: int, level: int, cells: np.ndarray, interior: bool):
        if cells.size == 0:
            return
        q_out.append(np.full(cells.size, qid, dtype=np.int64))
        l_out.append(np.full(cells.size, level, dtype=np.int32))
        c_out.append(cells)
        i_out.append(np.full(cells.size, interior, dtype=bool))

    for qid, region in regions:
        cells = np.zeros(1, dtype=np.int64)  # the level-0 root cell
        emitted = 0
        for level in range(L + 1):
            if cells.size == 0:
                break
            g = morton_decode_np(cells, d, bits=level) if level else np.zeros((1, d), dtype=np.int64)
            w = 1 << (cb - level)
            lo = g * w
            hi = lo + (w - 1)
            cls = region.classify_batch(lo, hi)
            cont = cells[cls == _Region.CONTAINED]
            emit(qid, level, cont, True)
            emitted += cont.size
            partial = cells[cls == _Region.PARTIAL]
            if level == L or emitted + partial.size * (1 << d) > budget:
                emit(qid, level, partial, False)
                break
            cells = ((partial[:, None] << d) | child_offsets[None, :]).reshape(-1)
    if not q_out:
        return pd.DataFrame(columns=["qid", "level", "cell", "interior"]).astype(
            {"qid": "int64", "level": "int32", "cell": "int64", "interior": "bool"}
        )
    return pd.DataFrame(
        {
            "qid": np.concatenate(q_out),
            "level": np.concatenate(l_out),
            "cell": np.concatenate(c_out),
            "interior": np.concatenate(i_out),
        }
    )
