"""Batch k-nearest-neighbor via expanding-ring candidate joins.

Reference operators reproduced (SURVEY.md §2.3): Q1 k_nearest DFS with
lower-bound pruning (query_op/nn_search.hpp:81-126), Q2 bounded top-k
(nn_search_helpers.h:18-93), Q4 batch harness (testFramework.h:470-520).

Distributed formulation: each query scans, round by round, the cells in
the Chebyshev SHELL (r_prev, r] around its home cell at a per-query grid
level g (cell width w = 2^(coord_bits - g)); r doubles each round, so the
shells are disjoint and their union is the full radius-r disk. The running
top-k is CARRIED on the pending-query row and merged with each shell's
candidates — a cell is scanned at most once per query (the reference
visits each tree node once; round 2 of this engine re-scanned the whole
disk every round). After ring r any unscanned point is at distance
>= r*w + 1, so a query terminates once kth_dist^2 <= (r*w)^2 — exactly the
`p2b_min_distance > bq.top()` prune of nn_search.hpp:121-123 lifted to
ring granularity.

High-d / large-ring escape: when a round's offset mesh (2r+1)^d would
exceed MESH_CAP cells (d=7 at r>=4, d=16 immediately — the reference
instantiates kNN up to d=16, tests/test.cpp:569-617), the query switches
to an EXHAUSTIVE round: one filtered scan of the points table restricted
to cells beyond the already-scanned radius (Chebyshev cell distance >
r_prev, pure column arithmetic). That round is definitionally complete, so
the query finishes — the distributed analog of the kd-tree degenerating to
a near-full traversal under the curse of dimensionality. Termination is
therefore unconditional in O(log grid) rounds with bounded per-round work.

The query set is a DataFrame END-TO-END (the reference's headline batch is
10^7 queries, testFramework.h:470-520 with batchQueryRatio=0.01 at n=10^9):
ring-cell generation runs inside mapInPandas; per-round termination is a
join + column expressions; the engine issues O(1) driver actions per round
independent of query count.

Skew adaptivity (the kd-tree's density-adaptive depth, which a fixed grid
lacks): a per-query level is chosen from the index's DENSITY LADDER — see
SpatialIndex.density_ladder(): an exact rollup of the per-cell metadata
for levels <= index_level plus a sampled fine extension under hot cells
only, computed ONCE per index (it is index state, like the reference's
tree depth — round 2 recomputed it per kNN call, the round's one bench
regression). Uniformly-occupied indexes (gated on BOTH max/avg cell count
AND occupancy, so a dense subregion doesn't spoof the test) skip the
per-query ladder join entirely and take a closed-form level from the mean
occupied-cell density.

Physical plan per round: ONE equi-join of the shell cells against the
candidate table exploded over the (few) levels present this round, then a
row_number() WINDOW top-k per qid: Spark's WindowGroupLimit rewrites the
rank filter into a Tungsten map-side partial top-k (<= k rows per qid per
input partition cross the shuffle), so no per-entry objects are ever
materialized — r4's collect_list ObjectHashAggregate pushed ~143M
three-long structs through allocation at 38.4M varden and was THE
measured bottleneck (181s). The <= k survivors per qid then merge with
the carried top-k. This is the bounded queue of nn_search_helpers.h as a
window-group limit; no full candidate shuffle. All distances are exact
int64 squared-L2.

Duplicate collapse (dummy leaves, build_tree.hpp:183-186 /
tree_node.hpp:40-44): on duplicate-heavy inputs the candidate table is
the index's PRUNED table (SpatialIndex.pruned_points) — per distinct
coordinate position only the min(cap, multiplicity) rows with the
smallest (key, span_idx) survive, which is provably sufficient for any
top-k with k <= cap because same-position rows share every query
distance. At 153.6M varden ~235 stacked rows per lattice position scan
as <= k rows.

V3 introspection (validation.hpp:72-124, visited counter nn_search.hpp:85):
with return_stats=True the result is accompanied by a per-query stats
DataFrame (qid, rounds, cand_rows) — ring rounds taken and TOTAL candidate
rows scanned across all rounds (cumulative, carried on the pending row).
Queries in an empty index produce no result row and no stats row.
"""

from __future__ import annotations

import math
import os
import sys
import time as _time

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .config import EngineConfig
from .index import SpatialIndex, leaf_scan_pred
from .zorder import morton_encode_np

__all__ = ["auto_knn_level", "knn", "knn_join"]

# broadcast thresholds are BYTES-based (a 4M-row pending table at d=16 is
# ~0.5GB; the same rows at d=2 are ~100MB — one row-count constant cannot
# serve both). cells rows are 2 longs; qside rows are (d+1) longs + level/r.
BROADCAST_BYTES = 128 << 20
HIST_SAMPLE_ROWS = 2_000_000
# a round whose offset mesh (2r+1)^d exceeds this switches to an exhaustive
# filtered scan (see module docstring); 2^18 cells * 8B = 2MB per query mesh
MESH_CAP_LOG2 = 18.0
# each round collects the shells' DISTINCT leaf ancestors (bounded by the
# skeleton size, not the shell-cell count) and pre-filters each branch's
# points scan by their Morton intervals where index.leaf_scan_pred finds
# that worth it — cached-batch min/max pruning skips cold regions in round
# 1 on skewed inputs and ~the whole table in straggler rounds. Skipped if
# the distinct set somehow exceeds this cap.
LEAF_COLLECT_CAP = 100_000
# pending sets at or below this many queries generate + resolve their shell
# cells ON THE DRIVER (one small Arrow collect, numpy resolution, local
# relations broadcast without a job) instead of mapInPandas on executors:
# the executor path costs a Python-worker round plus a separate
# cells-distribution collect job per round, pure overhead at bench-query
# counts (and every straggler round >= 2 is tiny). Large query batches
# (the 1%-of-n harness at 38.4M+) keep the distributed path.
DRIVER_CELLS_MAX_QUERIES = 20_000
# round-1 cell relations above this row count take a SHUFFLED join against
# the points (planner's choice, sort-merge at these shapes) instead of a
# broadcast. A multi-million-row broadcast relation is built serially on
# the driver and probed cold by every task; the interleaved same-JVM A/B
# at 38.4M varden (413k queries, ~3.7M cell rows) measured broadcast
# 46.4/47.8/65.1s vs shuffled 37.1-44.0s per knn call — every pair 20-30%
# better shuffled — while uniform (smaller relation) was neutral, and a
# forced shuffle-hash variant was no better than sort-merge at either
# scale (153.6M varden: SMJ 42.6/43.0 vs SHJ 43.9/49.4 interleaved), so no
# join-strategy hint is pinned. 153.6M already exceeded the old
# BROADCAST_BYTES gate, which is WHY its 1.5M-query varden round posted
# eff 0.84 while 38.4M sat at 0.42: the serial relation build didn't scale
# with cores. 1M rows ≈ 24MB of relation — comfortably broadcastable when
# under; straggler rounds and bench-sized batches stay broadcast/local.
CELLS_BCAST_ROWS = int(os.environ.get("PKD_CELLS_BCAST_ROWS", "1000000"))

# phase profiler (diagnostic only): PKD_PROF=1 prints per-phase walls to
# stderr — zero overhead when unset beyond a clock read per phase
_PROF = os.environ.get("PKD_PROF") == "1"


def _prof(label: str, t0: float) -> float:
    t1 = _time.time()
    if _PROF:
        print(f"[knn-prof] {label}: {t1 - t0:.3f}s", file=sys.stderr, flush=True)
    return t1


RESULT_SCHEMA = "qid long, rn long, key long, doc_id string, span_idx long, dist2 long"
STATS_SCHEMA = "qid long, rounds int, cand_rows long"

# top-k entries are THREE LONGS — no doc_id string: (key, span_idx) is the
# unique PointID, so (dist2, key, span_idx) is the same total order the
# reference's bounded queue uses, and ~10^8 candidate entries per round
# carry 24 bytes instead of a heap string each (the string made the agg
# allocation-bound at 38.4M pts: 300M candidate structs -> GC, not compute).
# doc_id is joined back onto the final nq*k result rows only.
_ENTRY_ARR = "array<struct<dist2:bigint,key:bigint,span_idx:bigint>>"


def auto_knn_level(n: int, d: int, target_per_cell: int = 128, grid_bits: int = 20) -> int:
    """Global fallback level: a cell holds ~target rows under uniformity."""
    if n <= target_per_cell:
        return 1
    level = int(math.floor(math.log2(max(2, n / target_per_cell)) / d))
    return max(1, min(grid_bits, level))


def _assign_levels(
    index: SpatialIndex,
    qdf: DataFrame,
    k: int,
    level_floor: int,
    level_cap: int,
    target: int,
) -> DataFrame:
    """Append a per-query grid ``level`` column from the index's density
    ladder (SpatialIndex.density_ladder — index state, computed once).

    The descent — deepen while the home cell's 3^d-neighborhood estimate
    exceeds the candidate target — is one explode of the query's (rung,
    home cell) pairs, one left join against the ladder histogram, and one
    CASE aggregate: fully distributed, two shuffles on the QUERY table
    only, nothing per-query on the driver.
    """
    d, cb = index.cfg.dims, index.cfg.coord_bits
    thresh = max(target, 3 * k)

    # occupancy-gated uniform shortcut: only when the hottest cell is near
    # the mean AND most level-L cells are occupied (a uniform subregion —
    # e.g. the duplicate lattice — passes the max/avg test but fails
    # occupancy, and must take the ladder) does every query get one
    # closed-form level from the mean occupied-cell density.
    s = index.meta.agg(
        F.max("cnt").alias("mx"), F.avg("cnt").alias("av"), F.count(F.lit(1)).alias("cells")
    ).collect()[0]
    L = index.cfg.index_level
    full_cells = float(1 << (d * L)) if d * L < 62 else float("inf")
    occupied = float(s["cells"] or 0)
    if (
        s["mx"] is not None
        and s["av"]
        and float(s["mx"]) <= 4.0 * float(s["av"])
        and occupied >= 0.5 * full_cells
    ):
        av = float(s["av"])
        lvl0 = L + int(round(math.log2(max(1.0, av * (3**d) / thresh)) / d))
        lvl0 = max(level_floor, min(level_cap, lvl0))
        return qdf.withColumn("level", F.lit(lvl0).cast("int"))

    neigh = 3**d  # 3^d-neighborhood upper bound under local uniformity

    # --- stage 1: exact coarse pick (levels <= index_level) from the
    # metadata rollup — min rung whose home-cell estimate fits the target;
    # the (dense-cells-only) histogram broadcasts, queries never shuffle
    # against the points.
    # EVEN rungs only: the round's probe pass costs n x DISTINCT-LEVELS
    # (measured at 38.4M varden: 25.3s over 6 levels vs 14.4s over 3,
    # while the candidate join + full top-k agg add ~nothing), so level
    # granularity is the wrong place to spend a 2x probe multiplier —
    # a one-coarser level only grows the (nearly free) candidate set.
    hist, levels = index.density_ladder(target=target)
    rungs = [lvl for lvl in levels if level_floor <= lvl <= level_cap and lvl % 2 == 0]
    out = qdf
    if rungs:
        homes = F.explode(
            F.array(
                *[
                    F.struct(F.lit(lvl).cast("int").alias("lvl"), _home_cell_expr(d, cb, lvl).alias("c"))
                    for lvl in rungs
                ]
            )
        ).alias("s")
        qx = qdf.select("qid", homes).select("qid", F.col("s.lvl").alias("lvl"), F.col("s.c").alias("c"))
        pick = (
            qx.join(F.broadcast(hist), ["lvl", "c"], "left")
            .groupBy("qid")
            .agg(
                F.min(
                    F.when(F.coalesce(F.col("hcnt"), F.lit(0)) * neigh <= thresh, F.col("lvl"))
                ).alias("_lv")
            )
        )
        out = qdf.join(pick, "qid", "left")
    else:
        out = qdf.withColumn("_lv", F.lit(None).cast("int"))

    # --- stage 2: closed-form DEEP level for queries whose every coarse
    # rung is too dense (they sit in a hot index cell). The meta row's
    # count + occupied bbox give the local density directly — the varden
    # generator (and most real clusters) is uniform INSIDE a cluster, so
    # pick the width w where a 3^d neighborhood holds ~thresh points:
    #   w = bbox_side * (thresh/cnt)^(1/d) / 3  ->  level = cb - log2(w).
    # A query OUTSIDE the occupied bbox is clamped so that one ring spans
    # its gap to the bbox (else an OOD query next to a tight cluster would
    # ring many rounds across empty fine cells). Replaces round 2's
    # per-call sampled fine histogram: zero passes over the points.
    L = index.cfg.index_level
    home_L = _home_cell_expr(d, cb, L)
    m = F.broadcast(index.meta)
    out = out.join(m, home_L == F.col("cell"), "left")
    bbox = F.greatest(*[F.col(f"mx{j}") - F.col(f"mn{j}") + 1 for j in range(d)]) if d > 1 else (
        F.col("mx0") - F.col("mn0") + 1
    )
    # NOTE (r4, measured): halving the pre-snap target here to compensate
    # the even-lattice coarsening cut avg candidates only 408->372 at
    # 38.4M varden (no time change) while pushing sf0.1 ring rounds
    # 1.11->1.28 (each extra round pays the per-action floor) — the
    # overshoot comes from cluster-edge geometry, not the density model,
    # so the full target stays.
    w_dens = bbox * F.pow(F.lit(float(thresh)) / F.col("cnt"), 1.0 / d) / 3.0
    lvl_dens = F.lit(cb) - F.floor(F.log2(F.greatest(w_dens, F.lit(1.0))))
    gap = F.greatest(
        *[
            F.greatest(F.col(f"mn{j}") - F.col(f"q{j}"), F.col(f"q{j}") - F.col(f"mx{j}"), F.lit(0))
            for j in range(d)
        ],
        F.lit(0),
    )
    lvl_gap = F.lit(cb) - F.ceil(F.log2(F.greatest(gap.cast("double"), F.lit(1.0))))
    lvl_deep_raw = F.least(
        F.greatest(F.least(lvl_dens, lvl_gap), F.lit(level_floor)), F.lit(level_cap)
    ).cast("int")
    # snap DOWN to the even lattice (coarser: candidates grow <=4x at d=2,
    # cheap per the probe-vs-agg measurement; deeper would risk empty
    # neighborhoods and extra rounds)
    lvl_deep = F.greatest(
        (lvl_deep_raw - lvl_deep_raw % 2).cast("int"), F.lit(level_floor).cast("int")
    )
    fallback = F.coalesce(lvl_deep, F.lit(max(level_floor, min(level_cap, L))))
    return out.select(
        *qdf.columns, F.coalesce(F.col("_lv"), fallback).cast("int").alias("level")
    )


def _assign_levels_np(
    index: SpatialIndex,
    qpd: pd.DataFrame,
    k: int,
    level_floor: int,
    level_cap: int,
    target: int,
) -> np.ndarray:
    """Numpy twin of _assign_levels over the memoized meta — same rung
    rule (min even rung whose 3^d-neighborhood estimate fits the target),
    same closed-form deep level (density + OOD-gap clamp, snapped to the
    even lattice), zero Spark jobs. Level choice never affects exactness
    (the ring bound does); this port keeps the same choices so ring-round
    behavior matches the distributed assignment."""
    cfg = index.cfg
    d, cb, L = cfg.dims, cfg.coord_bits, cfg.index_level
    mnp = index.meta_np()
    thresh = max(target, 3 * k)
    neigh = 3 ** d
    nq = len(qpd)
    clampL = max(level_floor, min(level_cap, L))
    cells = mnp["cells"]
    if not len(cells):
        return np.full(nq, clampL, dtype=np.int64)
    cnt = np.diff(mnp["cum"]).astype(np.int64)
    occupied = float(len(cells))
    av = float(cnt.mean())
    mx = float(cnt.max())
    full_cells = float(1 << (d * L)) if d * L < 62 else float("inf")
    if mx <= 4.0 * av and occupied >= 0.5 * full_cells:
        lvl0 = L + int(round(math.log2(max(1.0, av * neigh / thresh)) / d))
        return np.full(nq, max(level_floor, min(level_cap, lvl0)), dtype=np.int64)
    q = np.stack([qpd[f"q{j}"].to_numpy(dtype=np.int64) for j in range(d)], axis=1)
    rungs = [lvl for lvl in range(1, L + 1) if level_floor <= lvl <= level_cap and lvl % 2 == 0]
    lv_pick = np.full(nq, -1, dtype=np.int64)
    for lvl in rungs:  # ascending: the first qualifying rung is the min
        pref = cells >> (d * (L - lvl))  # sorted (prefix of sorted keys)
        upref, starts = np.unique(pref, return_index=True)
        hsum = np.add.reduceat(cnt, starts)
        home = morton_encode_np(q >> (cb - lvl), bits=lvl)
        i = np.searchsorted(upref, home)
        safe = np.minimum(i, len(upref) - 1)
        hc = np.where((i < len(upref)) & (upref[safe] == home), hsum[safe], 0)
        ok = (lv_pick < 0) & (hc * neigh <= thresh)
        lv_pick[ok] = lvl
    need = lv_pick < 0
    if need.any():
        qn = q[need]
        homeL = morton_encode_np(qn >> (cb - L), bits=L)
        i = np.searchsorted(cells, homeL)
        safe = np.minimum(i, len(cells) - 1)
        hit = (i < len(cells)) & (cells[safe] == homeL)
        cntL = np.maximum(cnt[safe].astype(np.float64), 1.0)
        mn, mxa = mnp["mn"][safe], mnp["mx"][safe]
        bbox = (mxa - mn + 1).max(axis=1).astype(np.float64)
        w_dens = bbox * (float(thresh) / cntL) ** (1.0 / d) / 3.0
        lvl_dens = cb - np.floor(np.log2(np.maximum(w_dens, 1.0)))
        gap = np.maximum(np.maximum(mn - qn, qn - mxa), 0).max(axis=1).astype(np.float64)
        lvl_gap = cb - np.ceil(np.log2(np.maximum(gap, 1.0)))
        raw = np.clip(np.minimum(lvl_dens, lvl_gap), level_floor, level_cap).astype(np.int64)
        deep = np.maximum(raw - raw % 2, level_floor)
        lv_pick[np.flatnonzero(need)] = np.where(hit, deep, clampL)
    return lv_pick


def _home_cell_expr(d: int, cb: int, lvl: int):
    """Morton home cell of a query at a grid level — pure JVM expression."""
    from .zorder import morton_col

    gcols = [f"shiftrightunsigned(q{j}, {cb - lvl})" for j in range(d)]
    return morton_col(gcols, d, lvl)


def _empty_cells_pdf() -> pd.DataFrame:
    return pd.DataFrame({"qid": pd.Series(dtype="int64"),
                         "lvl": pd.Series(dtype="int32"),
                         "cell": pd.Series(dtype="int64")})


def _resolved_cells(
    qpd: pd.DataFrame, d: int, coord_bits: int, L: int, meta: dict | None
) -> pd.DataFrame:
    """Shell cells for each query's Chebyshev SHELL (r_prev, r] at its grid
    ``level`` (r_prev = r//2; round 1 includes the home cell), RESOLVED
    against the index skeleton ``meta`` (see SpatialIndex.meta_np):

      * COARSE shells (level <= index_level L): each cell is replaced by
        the OCCUPIED level-L leaf cells beneath it -> rows (qid, -1, leaf).
        The points side then joins on its single leaf column — no explode —
        and the row count is occupancy-bounded (<= points under the shell).
      * FINE shells (level > L): the cell itself survives as (qid, level,
        cell), but only if its level-L ancestor is occupied AND its
        geometric box intersects the ancestor's occupied bbox (meta mn/mx)
        — both checks are exact emptiness proofs, so dropped cells can
        contain no points and shell-disjoint exactness is preserved.

    Vectorized per (level, r) group; out-of-grid cells are DROPPED (no
    points live there), so shells never collide across rounds and the
    carried top-k merge stays multiset-exact. With meta=None (skeleton too
    big to memoize) all cells pass through unresolved as (qid, level,
    cell) — the r3 behavior."""
    from .index import expand_ranges

    frames = []
    for (level, r), grp in qpd.groupby(["level", "r"]):
        level, r = int(level), int(r)
        # callers route meshes past MESH_CAP to the exhaustive branch
        assert d * math.log2(2 * r + 1) <= MESH_CAP_LOG2 + 1e-9
        r_lo = 0 if r == 1 else r // 2  # exclusive inner radius of the shell
        w_shift = coord_bits - level
        gmax = (1 << level) - 1
        g = np.stack([grp[f"q{j}"].to_numpy(dtype=np.int64) >> w_shift for j in range(d)], axis=1)
        rng = np.arange(-r, r + 1)
        mesh = np.stack(np.meshgrid(*([rng] * d), indexing="ij"), axis=-1).reshape(-1, d)
        cheb = np.abs(mesh).max(axis=1)
        mesh = mesh[(cheb > r_lo) | (r == 1)] if r > 1 else mesh
        cells = g[:, None, :] + mesh[None, :, :]  # (m, c, d)
        ok = ((cells >= 0) & (cells <= gmax)).all(axis=2)  # drop, don't clip
        m, c, _ = cells.shape
        qid_rep = np.repeat(grp["qid"].to_numpy(), c).reshape(m, c)
        flat = cells.reshape(-1, d)[ok.reshape(-1)]
        if not len(flat):
            continue
        qids = qid_rep.reshape(-1)[ok.reshape(-1)]
        enc = morton_encode_np(flat, bits=level)
        if meta is None:
            frames.append(pd.DataFrame({"qid": qids, "lvl": np.int32(level), "cell": enc}))
            continue
        mcells = meta["cells"]
        if level <= L:
            s = d * (L - level)
            i0 = np.searchsorted(mcells, enc << s)
            i1 = np.searchsorted(mcells, (enc + 1) << s)
            idx, counts = expand_ranges(i0, i1)
            if idx.size:
                frames.append(
                    pd.DataFrame(
                        {"qid": np.repeat(qids, counts), "lvl": np.int32(-1),
                         "cell": mcells[idx]}
                    )
                )
        else:
            if not len(mcells):
                # empty index: no occupied ancestors, nothing to keep (and
                # meta["mn"]/["mx"] are (0, d) — indexing them would raise)
                continue
            anc = enc >> (d * (level - L))
            pos = np.searchsorted(mcells, anc)
            safe = np.minimum(pos, max(0, len(mcells) - 1))
            occ = (pos < len(mcells)) & (mcells[safe] == anc) if len(mcells) else np.zeros(len(anc), dtype=bool)
            w = 1 << w_shift
            lo_c = flat * w
            hi_c = lo_c + (w - 1)
            keep = occ & (lo_c <= meta["mx"][safe]).all(axis=1) & (hi_c >= meta["mn"][safe]).all(axis=1)
            if keep.any():
                frames.append(
                    pd.DataFrame({"qid": qids[keep], "lvl": np.int32(level), "cell": enc[keep]})
                )
    if not frames:
        return _empty_cells_pdf()
    return pd.concat(frames, ignore_index=True)


def _exh_cond(d: int):
    """Column predicate: this round's offset mesh would exceed MESH_CAP —
    the query takes the exhaustive branch (shared by the branch split and
    the termination expression; both sides must agree row-for-row)."""
    return F.lit(float(d)) * F.log2(F.lit(2.0) * F.col("r") + F.lit(1.0)) > F.lit(MESH_CAP_LOG2)


def _resolve_cells_spark(index, cells: DataFrame, d: int, L: int) -> DataFrame:
    """Spark-side shell resolution for indexes whose meta exceeds the
    driver memo (META_MEMO_CELLS) — the kNN mirror of the general path in
    ranges._boundary_candidates (the reference routes through its skeleton
    at every n, inner_tree.hpp:42-55; r4 instead fell back to the full
    points explode here, re-creating the r3 scale-killer exactly at the
    scale the memo gives up).

    Coarse shell cells (lvl <= L) resolve to their OCCUPIED level-L leaf
    descendants via a per-level ancestor explode join against the meta
    table -> (qid, -1, leaf), feeding the no-generate leaf equi-join.
    Fine cells (lvl > L) survive as (qid, lvl, cell) only if their leaf
    ancestor is occupied (exact emptiness proof — same check as the
    memoized path minus the bbox refinement, which is an optimization
    only). The meta side explodes, never the points side; its broadcast
    is ROW-GATED (this path only engages when the meta already exceeds
    the driver memo, so the exploded meta can reach 10^7+ rows — an
    unconditional broadcast is exactly wrong here; oversized metas take
    a shuffled join of the two small-ish sides instead)."""
    lvls = sorted(
        int(r["lvl"]) for r in cells.select("lvl").distinct().collect()
    )
    n_meta = index.meta_n_cells()
    meta_bcast_rows = BROADCAST_BYTES // 24
    coarse = [l for l in lvls if 0 <= l <= L]
    parts: list[DataFrame] = []
    if coarse:
        m = (
            index.meta.select("cell")
            .select(
                F.col("cell").alias("leaf"),
                F.explode(F.array(*[F.lit(int(l)).cast("int") for l in coarse])).alias("lvl"),
            )
            .withColumn(
                "cell", F.expr(f"shiftrightunsigned(leaf, CAST({d} * ({L} - lvl) AS INT))")
            )
        )
        if n_meta * len(coarse) <= meta_bcast_rows:
            m = F.broadcast(m)
        parts.append(
            cells.where(F.col("lvl").isin(coarse))
            .join(m, ["lvl", "cell"])
            .select("qid", F.lit(-1).cast("int").alias("lvl"), F.col("leaf").alias("cell"))
        )
    if any(l > L for l in lvls):
        fine = cells.where(F.col("lvl") > L).withColumn(
            "anc", F.expr(f"shiftrightunsigned(cell, CAST({d} * (lvl - {L}) AS INT))")
        )
        occ = index.meta.select(F.col("cell").alias("anc"))
        if n_meta <= meta_bcast_rows:
            occ = F.broadcast(occ)
        parts.append(
            fine.join(occ, "anc", "leftsemi").select("qid", "lvl", "cell")
        )
    if not parts:
        return cells.where(F.lit(False))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# raw-collect cap for the driver-loop: rounds whose exact-from-metadata
# candidate estimate exceeds this reduce per-query top-k in Spark (window
# group limit) before collecting, instead of pulling raw candidates
DRIVER_COLLECT_MAX_ROWS = 3_000_000


def _mesh_parts_local(
    spark,
    cells_pdf: pd.DataFrame,
    qcols: list[str],
    pts_narrow: DataFrame,
    d: int,
    kb: int,
    L: int,
    mnp: dict,
) -> tuple[list[DataFrame], dict[int, int]]:
    """Candidate-join parts from DRIVER-resolved shell cells (small pending
    sets). The cell relations are LOCAL (broadcast without an executor
    exchange or a Spark job) and carry the query coordinates, so the
    candidate join needs no separate qside join; per-level leaf sets and
    counts come from pandas instead of a dedicated per-round collect job.
    Scan pruning uses the same rule as the distributed path
    (``leaf_scan_pred``). ``cells_pdf`` columns: qid, lvl, cell,
    q0..q{d-1} (lvl == -1 rows are resolved level-L leaves; lvl > L rows
    are fine cells)."""
    if not len(cells_pdf):
        return [], {}
    leaf_shift = d * (kb - L)
    cells_bcast_rows = BROADCAST_BYTES // (8 * (len(qcols) + 3))
    qschema = ", ".join(f"{q} long" for q in qcols)
    lvlv = cells_pdf["lvl"].to_numpy().astype(np.int64)
    cellv = cells_pdf["cell"].to_numpy().astype(np.int64)
    sh = np.where(lvlv > L, d * (lvlv - L), 0).astype(np.int64)
    ancv = np.where(lvlv < 0, cellv, cellv >> sh)
    uls, ucnts = np.unique(lvlv, return_counts=True)
    lvl_counts = {int(lv): int(c) for lv, c in zip(uls, ucnts)}
    per_level_leaves = {int(lv): np.unique(ancv[lvlv == lv]) for lv in uls}

    def _local_cl(mask, rename: dict, cols: list[str], schema: str) -> DataFrame:
        sub = cells_pdf.loc[mask]
        if rename:
            sub = sub.rename(columns=rename)
        return spark.createDataFrame(sub[cols], schema=schema)

    # AT MOST TWO parts — one coarse leaf equi-join, one consolidated
    # fine-levels join (points interval-filtered by the UNION of all fine
    # levels' leaves, then exploded over the levels present). Per-level
    # scans would prune slightly tighter, but each extra part is one more
    # filtered scan per round. The ~2s measured in a 2.3s straggler round
    # at sf0.1 was not plan/compile overhead: the 64-term interval filter
    # made a generated method past HotSpot's huge-method limit, which then
    # ran interpreted per row (see SCAN_PRED_MAX_INTERVALS in index.py).
    mesh_parts: list[DataFrame] = []
    n_coarse = lvl_counts.get(-1, 0)
    if n_coarse:
        cl = _local_cl(
            cells_pdf["lvl"] < 0, {"cell": "leaf"},
            ["qid", "leaf", *qcols], f"qid long, leaf long, {qschema}",
        )
        if n_coarse <= cells_bcast_rows:
            cl = F.broadcast(cl)
        p = pts_narrow
        pred = leaf_scan_pred(mnp, per_level_leaves[-1], leaf_shift)
        if pred is not None:
            p = p.where(pred)
        p = p.withColumn("pcell", F.shiftrightunsigned("morton", leaf_shift))
        mesh_parts.append(p.join(cl, F.col("pcell") == F.col("leaf")).drop("leaf", "morton"))
    fine_levels = sorted(l for l in lvl_counts if l >= 0)
    if fine_levels:
        cl = _local_cl(
            cells_pdf["lvl"].isin(fine_levels), {"lvl": "clvl"},
            ["qid", "clvl", "cell", *qcols], f"qid long, clvl int, cell long, {qschema}",
        )
        if sum(lvl_counts[lv] for lv in fine_levels) <= cells_bcast_rows:
            cl = F.broadcast(cl)
        p = pts_narrow
        all_leaves = np.unique(
            np.concatenate([per_level_leaves[lv] for lv in fine_levels])
        )
        pred = leaf_scan_pred(mnp, all_leaves, leaf_shift)
        if pred is not None:
            p = p.where(pred)
        # foldable literal level array (codegen hoists it); the cell is
        # column arithmetic AFTER the explode — an array-of-structs here
        # allocates per ROW (GC-bound floor at 38.4M pts)
        p = p.select(
            "*",
            F.explode(F.array(*[F.lit(int(lvl)).cast("int") for lvl in fine_levels])).alias("plvl"),
        ).withColumn(
            "pcell", F.expr(f"shiftrightunsigned(morton, CAST({d} * ({kb} - plvl) AS INT))")
        )
        mesh_parts.append(
            p.join(
                cl, (F.col("plvl") == F.col("clvl")) & (F.col("pcell") == F.col("cell"))
            ).drop("clvl", "cell", "plvl", "morton")
        )
    return mesh_parts, lvl_counts


def _cand_estimate(cells_pdf: pd.DataFrame, mnp: dict, d: int, cb: int, L: int) -> int:
    """Estimated candidate rows under resolved shell cells, from the
    memoized meta alone: EXACT leaf occupancy for coarse (lvl == -1) rows;
    fine (lvl > L) rows take their ancestor's occupancy scaled by the
    cell's share of the ancestor's occupied bbox (the same uniform-inside-
    cluster model _assign_levels uses for level choice). The raw ancestor
    bound was uselessly loose on skewed data — every fine cell under a hot
    leaf charged the entire cluster, 150x over the true volume — and
    pushed the driver loop into a needless count-then-reduce round."""
    cells = mnp["cells"]
    if not len(cells_pdf) or not len(cells):
        return 0
    lvlv = cells_pdf["lvl"].to_numpy().astype(np.int64)
    cellv = cells_pdf["cell"].to_numpy().astype(np.int64)
    sh = np.where(lvlv > L, d * (lvlv - L), 0).astype(np.int64)
    anc = np.where(lvlv < 0, cellv, cellv >> sh)
    i = np.searchsorted(cells, anc)
    safe = np.minimum(i, len(cells) - 1)
    hit = (i < len(cells)) & (cells[safe] == anc)
    occ = np.where(hit, mnp["cum"][safe + 1] - mnp["cum"][safe], 0).astype(np.float64)
    fine = lvlv > L
    if fine.any():
        vol = np.prod((mnp["mx"][safe] - mnp["mn"][safe] + 1).astype(np.float64), axis=1)
        cell_vol = np.exp2(d * (cb - lvlv).astype(np.float64))
        share = np.minimum(1.0, cell_vol / np.maximum(vol, 1.0))
        occ = np.where(fine, occ * share, occ)
    return int(occ.sum())


def _knn_driver(
    index: SpatialIndex,
    st: pd.DataFrame,
    k: int,
    max_rounds: int,
    return_stats: bool,
    plan_log: list | None,
):
    """Small-batch kNN loop: shell resolution, top-k merge and ring
    termination run ON THE DRIVER; Spark contributes exactly ONE
    candidate-collection job per ring round (scan + local-relation
    broadcast join + Arrow collect). Rounds whose metadata-estimated
    candidate volume exceeds DRIVER_COLLECT_MAX_ROWS reduce per-query
    top-k with the same WindowGroupLimit plan the distributed loop uses
    before collecting, so the driver never holds more than ~pend*k rows
    from such a round.

    Semantics are identical to the distributed loop by construction: the
    candidate multiset per round is the same join, the merge order is
    (dist2, key, span_idx), and the termination rule is the same ring
    lower bound ((r*w)^2 vs kth distance) plus the covered-mesh rule."""
    spark = index.points.sparkSession
    cfg: EngineConfig = index.cfg
    d, kb, cb, L = cfg.dims, cfg.grid_bits, cfg.coord_bits, cfg.index_level
    qcols = [f"q{j}" for j in range(d)]
    xcols = [f"x{j}" for j in range(d)]
    qschema = ", ".join(f"{q} long" for q in qcols)
    mnp = index.meta_np()
    total_pts = int(mnp["cum"][-1]) if len(mnp["cells"]) else 0

    st = st.copy()
    st["r"] = np.int64(1)
    st["cnt"] = np.int64(0)
    t0 = _time.time()

    dist2 = None
    for j in range(d):
        t = (F.col(f"x{j}") - F.col(f"q{j}")) * (F.col(f"x{j}") - F.col(f"q{j}"))
        dist2 = t if dist2 is None else dist2 + t
    pts_base = index.pruned_points(k) or index.points
    pts_narrow = pts_base.select("key", "span_idx", *xcols, "morton")

    carried = pd.DataFrame(
        {c: pd.Series(dtype="int64") for c in ("qid", "dist2", "key", "span_idx")}
    )
    res_frames: list[pd.DataFrame] = []
    stats_frames: list[pd.DataFrame] = []

    for rnd in range(1, max_rounds + 1):
        if not len(st):
            break
        rv = st["r"].to_numpy(np.int64)
        lv = st["level"].to_numpy(np.int64)
        exh = (d * np.log2(2.0 * rv + 1.0)) > MESH_CAP_LOG2
        parts: list[DataFrame] = []
        lvl_counts: dict[int, int] = {}
        est = 0
        if (~exh).any():
            sub = st.loc[~exh, ["qid", *qcols, "level", "r"]]
            cells_pdf = _resolved_cells(sub, d, cb, L, mnp)
            cells_pdf = cells_pdf.merge(sub[["qid", *qcols]], on="qid")
            est += _cand_estimate(cells_pdf, mnp, d, cb, L)
            parts, lvl_counts = _mesh_parts_local(
                spark, cells_pdf, qcols, pts_narrow, d, kb, L, mnp
            )
        if bool(exh.any()):
            ex = st.loc[exh, ["qid", *qcols, "level", "r"]]
            exq = F.broadcast(
                spark.createDataFrame(ex, schema=f"qid long, {qschema}, level int, r long")
            )
            cheb = None
            for j in range(d):
                t = F.abs(
                    F.expr(f"shiftrightunsigned(x{j}, CAST({cb} - level AS INT))")
                    - F.expr(f"shiftrightunsigned(q{j}, CAST({cb} - level AS INT))")
                )
                cheb = t if cheb is None else F.greatest(cheb, t)
            r_prev = F.when(F.col("r") == 1, F.lit(-1)).otherwise(F.col("r") / 2).cast("long")
            parts.append(
                pts_narrow.crossJoin(exq)
                .where(cheb > r_prev)
                .withColumn(
                    "pcell",
                    F.expr(f"shiftrightunsigned(morton, CAST({d} * ({kb} - level) AS INT))"),
                )
                .drop("level", "r", "morton")  # mesh parts drop morton too
            )
            est += int(exh.sum()) * total_pts
        new_sizes = None
        if parts:
            cand = parts[0]
            for p in parts[1:]:
                cand = cand.unionByName(p)
            if plan_log is not None:
                plan_log.append(
                    {
                        "plan": str(cand._jdf.queryExecution().optimizedPlan()),
                        "lvl_counts": dict(lvl_counts) if bool((~exh).any()) else {},
                    }
                )
            sel = cand.select(
                "qid",
                dist2.cast("long").alias("dist2"),
                F.col("key").cast("long").alias("key"),
                F.col("span_idx").cast("long").alias("span_idx"),
            )
            if est > DRIVER_COLLECT_MAX_ROWS:
                # the ancestor-occupancy bound is very loose on skewed data
                # (fine cells under a hot leaf each charge the whole
                # cluster): spend one cheap map-side-combined count to learn
                # the EXACT volume — it doubles as the stats sizes — and
                # only fall back to the WindowGroupLimit reduction when the
                # volume is genuinely too large to collect raw
                new_sizes = (
                    sel.groupBy("qid").agg(F.count(F.lit(1)).alias("c"))
                    .toPandas().set_index("qid")["c"]
                )
                t0 = _prof(f"r{rnd}_count_job(total={int(new_sizes.sum())})", t0)
                if int(new_sizes.sum()) <= DRIVER_COLLECT_MAX_ROWS:
                    cand_pd = sel.toPandas()
                else:
                    w = Window.partitionBy("qid").orderBy("dist2", "key", "span_idx")
                    cand_pd = (
                        sel.withColumn("rn", F.row_number().over(w))
                        .where(F.col("rn") <= k).drop("rn").toPandas()
                    )
            else:
                cand_pd = sel.toPandas()
                new_sizes = cand_pd.groupby("qid").size()
        else:
            cand_pd = carried.iloc[0:0]
        t0 = _prof(f"r{rnd}_driver_collect(est={est})", t0)

        # ---- driver-side merge + termination (exact int64 throughout) ----
        if new_sizes is not None:
            st["cnt"] = (
                st["cnt"].to_numpy(np.int64)
                + st["qid"].map(new_sizes).fillna(0).to_numpy(np.int64)
            )
        allv = pd.concat([carried, cand_pd], ignore_index=True) if len(cand_pd) else carried
        if len(allv):
            order = np.lexsort(
                (
                    allv["span_idx"].to_numpy(np.int64),
                    allv["key"].to_numpy(np.int64),
                    allv["dist2"].to_numpy(np.int64),
                    allv["qid"].to_numpy(np.int64),
                )
            )
            allv = allv.iloc[order].reset_index(drop=True)
            qv = allv["qid"].to_numpy(np.int64)
            newg = np.r_[True, qv[1:] != qv[:-1]]
            gstart = np.flatnonzero(newg)
            gid = np.cumsum(newg) - 1
            pos = np.arange(len(qv)) - gstart[gid]
            keep = pos < k
            allv = allv.loc[keep].reset_index(drop=True)
            pos = pos[keep]
        else:
            pos = np.zeros(0, dtype=np.int64)
        if len(allv):
            kq = allv["qid"].to_numpy(np.int64)
            uq, cq = np.unique(kq, return_counts=True)
            size_ser = pd.Series(cq, index=uq)
            kmask = pos == (k - 1)
            kth_ser = pd.Series(
                allv.loc[kmask, "dist2"].to_numpy(np.int64),
                index=allv.loc[kmask, "qid"].to_numpy(np.int64),
            )
        else:
            size_ser = pd.Series(dtype="int64")
            kth_ser = pd.Series(dtype="int64")
        sizes = st["qid"].map(size_ser).fillna(0).to_numpy(np.int64)
        kth = st["qid"].map(kth_ser).fillna(-1).to_numpy(np.int64)
        ring = (rv << (cb - lv)).astype(np.int64) ** 2
        covered = exh | ((2 * rv + 1) >= (np.int64(2) << lv))
        done = ((sizes >= k) & (kth >= 0) & (kth <= ring)) | (covered & (sizes > 0))
        dropm = covered & (sizes == 0)
        done_q = st.loc[done, "qid"].to_numpy(np.int64)
        if done_q.size and len(allv):
            dmask = np.isin(allv["qid"].to_numpy(np.int64), done_q)
            resf = allv.loc[dmask, ["qid", "key", "span_idx", "dist2"]].copy()
            resf["rn"] = (pos[dmask] + 1).astype(np.int64)
            res_frames.append(resf)
            if return_stats:
                stf = st.loc[done, ["qid", "cnt"]].copy()
                stf["rounds"] = np.int32(rnd)
                stats_frames.append(stf)
        st = st.loc[~done & ~dropm].copy()
        if not len(st):
            break
        keep_q = st["qid"].to_numpy(np.int64)
        if len(allv):
            cmask = np.isin(allv["qid"].to_numpy(np.int64), keep_q)
            carried = allv.loc[cmask, ["qid", "dist2", "key", "span_idx"]].reset_index(drop=True)
        st["r"] = st["r"].to_numpy(np.int64) * 2

    if not res_frames:
        empty = spark.createDataFrame([], schema=RESULT_SCHEMA)
        return (empty, spark.createDataFrame([], schema=STATS_SCHEMA)) if return_stats else empty
    allres = pd.concat(res_frames, ignore_index=True)
    final = spark.createDataFrame(
        allres[["qid", "rn", "key", "span_idx", "dist2"]].astype("int64"),
        schema="qid long, rn long, key long, span_idx long, dist2 long",
    )
    res_keys = spark.createDataFrame(
        pd.DataFrame({"key": np.unique(allres["key"].to_numpy(np.int64))}), schema="key long"
    )
    ids = (
        index.points.select("key", "doc_id")
        .join(F.broadcast(res_keys), "key", "leftsemi")
        .dropDuplicates(["key"])
    )
    out = final.hint("shuffle_hash").join(ids, "key").select(
        "qid", "rn", "key", "doc_id", "span_idx", "dist2"
    )
    if return_stats:
        if stats_frames:
            spd = pd.concat(stats_frames, ignore_index=True)
            spd = spd.rename(columns={"cnt": "cand_rows"})[["qid", "rounds", "cand_rows"]]
            stats = spark.createDataFrame(
                spd.astype({"qid": "int64", "rounds": "int32", "cand_rows": "int64"}),
                schema=STATS_SCHEMA,
            )
        else:
            stats = spark.createDataFrame([], schema=STATS_SCHEMA)
        return out, stats
    return out


def knn(
    index: SpatialIndex,
    queries: pd.DataFrame | DataFrame,
    k: int = 10,
    level: int | None = None,
    max_rounds: int = 64,
    adaptive: bool = True,
    target_candidates: int = 64,
    return_stats: bool = False,
    reliable_checkpoints: bool = False,
    plan_log: list | None = None,
):
    """Exact batch kNN. queries: pandas OR Spark DataFrame (qid, q0..q{d-1})
    int64 — the DataFrame path is the scale path (queries never touch the
    driver).

    Returns (qid, rn, key, doc_id, span_idx, dist2), rn in 1..k, ordered by
    (dist2, key, span_idx); duplicate points count as distinct neighbors
    (multiset semantics — dummy-leaf multiplicity, build_tree.hpp:183-186).
    With return_stats=True returns (result, stats) where stats is a
    per-query (qid, rounds, cand_rows) DataFrame (V3 introspection;
    cand_rows is cumulative across rounds).

    With return_stats the per-round candidate counts run as ONE extra
    narrow hash-count pass over the candidate join (the window top-k can't
    produce exact group counts without forfeiting its map-side limit);
    without stats kNN is single-pass. ``plan_log``, if a list, collects the
    optimized plan text of each round's candidate join (test/diagnostic
    hook — lets callers assert plan shape, e.g. no points-side Generate).

    Round frames are localCheckpoint'ed by default (fast; blocks release
    when the result is GC'd). localCheckpoint is NOT fault-tolerant: on a
    real cluster an executor loss mid-batch fails the job. For long
    multi-round batches set reliable_checkpoints=True with
    spark.sparkContext.setCheckpointDir(...) — round frames then persist
    to reliable storage (falls back to localCheckpoint if no dir is set).
    Reliable checkpoint files are NOT deleted by this function; enable
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (or clean the
    checkpoint dir between batches) or long-lived sessions accumulate one
    round-frame directory per round per call.
    """
    spark = index.points.sparkSession
    cfg: EngineConfig = index.cfg
    d, kb, cb = cfg.dims, cfg.grid_bits, cfg.coord_bits
    qcols = [f"q{j}" for j in range(d)]

    t0 = _time.time()
    if level is None:
        level = cfg.knn_level
    level = min(level, kb)

    # small-batch dispatch: with a memoized skeleton and a bounded query
    # count, level assignment, shell resolution, top-k merge and ring
    # termination all run ON THE DRIVER at one Spark job per ring round —
    # see _knn_driver. pandas query sets dispatch directly; Spark query
    # frames are probed with one LIMIT collect (complete iff it returns
    # fewer rows than the cap). Large batches (the 1%-of-n harness at
    # 38.4M+) and over-memo metas keep the distributed loop below.
    qpd0 = None
    if index.meta_np() is not None:
        if isinstance(queries, pd.DataFrame):
            if len(queries) <= DRIVER_CELLS_MAX_QUERIES:
                qpd0 = queries[["qid"] + qcols].reset_index(drop=True)
        else:
            probe = (
                queries.select("qid", *qcols).limit(DRIVER_CELLS_MAX_QUERIES + 1).toPandas()
            )
            if len(probe) <= DRIVER_CELLS_MAX_QUERIES:
                qpd0 = probe
        t0 = _prof("driver_probe", t0)
    if qpd0 is not None:
        if qpd0.empty:
            empty = spark.createDataFrame([], schema=RESULT_SCHEMA)
            return (empty, spark.createDataFrame([], schema=STATS_SCHEMA)) if return_stats else empty
        st = qpd0.astype("int64")
        if adaptive:
            st["level"] = _assign_levels_np(
                index, st, k, level, min(kb, level + 10), target_candidates
            )
        else:
            st["level"] = np.int64(level)
        t0 = _prof("assign_levels_np", t0)
        return _knn_driver(index, st, k, max_rounds, return_stats, plan_log)

    if isinstance(queries, pd.DataFrame):
        if queries.empty:
            empty = spark.createDataFrame([], schema=RESULT_SCHEMA)
            return (empty, spark.createDataFrame([], schema=STATS_SCHEMA)) if return_stats else empty
        qdf = spark.createDataFrame(queries[["qid"] + qcols])
    else:
        qdf = queries.select("qid", *qcols)

    if adaptive:
        cap = min(kb, level + 10)
        qdf = _assign_levels(index, qdf, k, level, cap, target_candidates)
    else:
        qdf = qdf.withColumn("level", F.lit(level).cast("int"))
    t0 = _prof("assign_levels", t0)

    def _ckpt(df: DataFrame) -> DataFrame:
        if reliable_checkpoints and spark.sparkContext._jsc.sc().getCheckpointDir().isDefined():
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    empty_tk = F.expr(f"CAST(array() AS {_ENTRY_ARR})")
    pend = _ckpt(
        qdf.withColumn("r", F.lit(1).cast("long"))
        .withColumn("tk", empty_tk)
        .withColumn("cnt", F.lit(0).cast("long"))
    )
    row = pend.agg(
        F.count(F.lit(1)).alias("n"), F.sum(_exh_cond(d).cast("long")).alias("ne")
    ).collect()[0]
    n_pend, n_exh = int(row["n"]), int(row["ne"] or 0)
    t0 = _prof("pend_init", t0)

    dist2 = None
    for j in range(d):
        t = (F.col(f"x{j}") - F.col(f"q{j}")) * (F.col(f"x{j}") - F.col(f"q{j}"))
        dist2 = t if dist2 is None else dist2 + t
    # narrow candidate source: the join/top-k hot path never touches doc_id.
    # Duplicate-heavy indexes swap in the pruned (position-collapsed) table
    # — multiset-exact for this k (see SpatialIndex.pruned_points).
    xcols = [f"x{j}" for j in range(d)]
    pts_base = index.pruned_points(k) or index.points
    pts_narrow = pts_base.select("key", "span_idx", *xcols, "morton")
    t0 = _prof("pruned_points", t0)

    L = cfg.index_level
    mnp = index.meta_np()
    # ship the skeleton once per batch (not per task closure): rounds share it
    bc_meta = spark.sparkContext.broadcast(mnp) if mnp is not None else None

    def _gen_cells(batches):
        meta = bc_meta.value if bc_meta is not None else None
        for pdf in batches:
            if len(pdf):
                yield _resolved_cells(pdf, d, cb, L, meta)

    # bytes-aware broadcast limits (rows): see BROADCAST_BYTES / CELLS_BCAST_ROWS notes above
    cells_bcast_rows = min(CELLS_BCAST_ROWS, BROADCAST_BYTES // 24)
    qside_bcast_rows = BROADCAST_BYTES // (8 * (d + 3))
    leaf_shift = d * (kb - L)

    result_parts: list[DataFrame] = []
    stats_parts: list[DataFrame] = []

    for rnd in range(1, max_rounds + 1):
        if n_pend == 0:
            break
        exh = _exh_cond(d)
        branches: list[DataFrame] = []
        cnt_parts: list[DataFrame] = []  # stats-only: candidate rows per qid
        cells = None

        # --- mesh branch: shells resolved against the skeleton, then
        # (a) coarse rows: ONE leaf equi-join, no points-side generate;
        # (b) fine rows: (lvl, cell) equi-join with the points exploded
        #     over the (few, even-quantized) fine levels only.
        # r3 exploded ALL points over every distinct shell level each round
        # and re-scanned the full table for rounds >= 2 stragglers — the
        # measured scale-killer (25.3s of a ~70s varden round at 38.4M).
        raw_cells = None
        cells_pdf = None  # driver-resolved shell cells (small pending sets)
        if n_exh < n_pend:
            mesh_pend = pend.where(~exh)
            use_driver = mnp is not None and (n_pend - n_exh) <= DRIVER_CELLS_MAX_QUERIES
            if use_driver:
                # driver path: ONE small Arrow collect of the pending slice,
                # numpy shell resolution, and local-relation broadcasts —
                # no executor Python workers, no cells persist, and the
                # per-level leaf/count stats come from pandas instead of a
                # dedicated collect job per round
                qpd = mesh_pend.select("qid", *qcols, "level", "r").toPandas()
                cells_pdf = _resolved_cells(qpd, d, cb, L, mnp)
                # attach the query coordinates here so the candidate join
                # needs no separate qside join at all
                cells_pdf = cells_pdf.merge(qpd[["qid", *qcols]], on="qid")
            else:
                cells = mesh_pend.select("qid", *qcols, "level", "r").mapInPandas(
                    _gen_cells, schema="qid long, lvl int, cell long"
                )
                if mnp is None:
                    # meta too large for the driver memo: resolve shells via
                    # the meta-side join instead of reverting to the full
                    # points explode (r4's at-scale fallback defect)
                    raw_cells = cells.persist()
                    cells = _resolve_cells_spark(index, raw_cells, d, L)
                cells = cells.persist()
            # Per-LEVEL scan pruning: collect each level's DISTINCT leaf
            # ancestors (bounded by the skeleton size, never the shell-cell
            # count) and, where the level's capped Morton intervals exclude
            # most of the points (leaf_scan_pred: exact from the memoized
            # prefix sums), give that level its OWN filtered scan —
            # cached-batch min/max skipping then reads only the touched
            # regions. On skewed inputs the cluster queries' deep levels
            # touch only hot leaves, so their scans are nearly free; only
            # levels whose leaves span most of the table share one full
            # explode scan. Straggler rounds >= 2 prune the same way. r3
            # instead exploded ALL n rows over EVERY distinct level.
            # ONE driver action serves both the per-level shell-cell
            # counts and the leaf sets: group by (lvl, leaf-ancestor) —
            # bounded by skeleton x levels, never by shell-cell count —
            # and sum the counts per lvl on the driver (r5 ran a second
            # full distinct+collect over the shell table every round).
            mesh_parts: list[DataFrame] = []
            lvl_counts: dict[int, int] = {}
            if cells_pdf is not None:
                # driver-resolved straggler round: local cell relations with
                # coords folded in, no Spark stats job (shared helper with
                # the small-batch loop)
                mesh_parts, lvl_counts = _mesh_parts_local(
                    spark, cells_pdf, qcols, pts_narrow, d, kb, L, mnp
                )
                t0 = _prof(f"r{rnd}_cells_collect", t0)
            else:
                per_level_leaves: dict[int, np.ndarray] | None = None
                grouped = None
                if mnp is not None:
                    anc = F.when(F.col("lvl") < 0, F.col("cell")).otherwise(
                        F.expr(f"shiftrightunsigned(cell, CAST({d} * (lvl - {L}) AS INT))")
                    )
                    grouped = (
                        cells.groupBy("lvl", anc.alias("leaf"))
                        .agg(F.count(F.lit(1)).alias("n"))
                        .limit(LEAF_COLLECT_CAP + 1)
                        .collect()
                    )
                    if len(grouped) <= LEAF_COLLECT_CAP:
                        acc: dict[int, list] = {}
                        for r2 in grouped:
                            lv = int(r2["lvl"])
                            lvl_counts[lv] = lvl_counts.get(lv, 0) + int(r2["n"])
                            acc.setdefault(lv, []).append(r2["leaf"])
                        per_level_leaves = {
                            lv: np.array(ls, dtype=np.int64) for lv, ls in acc.items()
                        }
                    else:
                        grouped = None  # overflow: fall through to the lvl-only agg
                if grouped is None:
                    lvl_counts = {
                        int(r2["lvl"]): int(r2["n"])
                        for r2 in cells.groupBy("lvl").agg(F.count(F.lit(1)).alias("n")).collect()
                    }
                t0 = _prof(f"r{rnd}_cells_collect", t0)
                n_coarse = lvl_counts.get(-1, 0)
                fine_levels = sorted(l for l in lvl_counts if l >= 0)

                def _scan_pred(lvl: int) -> Column | None:
                    if per_level_leaves is None or lvl not in per_level_leaves:
                        return None
                    return leaf_scan_pred(mnp, per_level_leaves[lvl], leaf_shift)

                if n_coarse:
                    cl = cells.where(F.col("lvl") < 0).select("qid", F.col("cell").alias("leaf"))
                    if n_coarse <= cells_bcast_rows:
                        cl = F.broadcast(cl)
                    pred = _scan_pred(-1)
                    p = pts_narrow if pred is None else pts_narrow.where(pred)
                    p = p.withColumn("pcell", F.shiftrightunsigned("morton", leaf_shift))
                    mesh_parts.append(p.join(cl, F.col("pcell") == F.col("leaf")).drop("leaf", "morton"))
                shared_levels: list[int] = []
                for lvl in fine_levels:
                    pred = _scan_pred(lvl)
                    if pred is None:
                        shared_levels.append(lvl)
                        continue
                    cl = cells.where(F.col("lvl") == lvl).select("qid", "cell")
                    if lvl_counts[lvl] <= cells_bcast_rows:
                        cl = F.broadcast(cl)
                    p = pts_narrow.where(pred).withColumn(
                        "pcell", F.shiftrightunsigned("morton", d * (kb - lvl))
                    )
                    mesh_parts.append(p.join(cl, F.col("pcell") == F.col("cell")).drop("cell", "morton"))
                if shared_levels:
                    cl = cells.where(F.col("lvl").isin(shared_levels)).select(
                        "qid", F.col("lvl").alias("clvl"), "cell"
                    )
                    if sum(lvl_counts[lv] for lv in shared_levels) <= cells_bcast_rows:
                        cl = F.broadcast(cl)
                    # foldable literal level array (codegen hoists it); the
                    # cell is column arithmetic AFTER the explode — an
                    # array-of-structs here allocates per ROW (GC-bound
                    # floor at 38.4M pts)
                    p = pts_narrow.select(
                        "*",
                        F.explode(
                            F.array(*[F.lit(int(lvl)).cast("int") for lvl in shared_levels])
                        ).alias("plvl"),
                    ).withColumn(
                        "pcell",
                        F.expr(f"shiftrightunsigned(morton, CAST({d} * ({kb} - plvl) AS INT))"),
                    )
                    mesh_parts.append(
                        p.join(
                            cl, (F.col("plvl") == F.col("clvl")) & (F.col("pcell") == F.col("cell"))
                        ).drop("clvl", "cell", "plvl", "morton")
                    )
            if mesh_parts:
                mesh_cand = mesh_parts[0]
                for mp in mesh_parts[1:]:
                    mesh_cand = mesh_cand.unionByName(mp)
                # count BEFORE the 1:1 qside attach (same cardinality per qid)
                cnt_parts.append(mesh_cand.select("qid"))
                if cells_pdf is None:
                    # distributed path: query coords arrive via a qside join;
                    # the driver path folded them into the cell relations
                    qside = mesh_pend.select("qid", *qcols)
                    if n_pend - n_exh <= qside_bcast_rows:
                        qside = F.broadcast(qside)
                    mesh_cand = mesh_cand.join(qside, "qid")
                branches.append(mesh_cand)

        # --- exhaustive branch: filtered full scan for over-mesh queries ---
        if n_exh > 0:
            exh_pend = pend.where(exh).select("qid", *qcols, "level", "r")
            if n_exh <= qside_bcast_rows:
                exh_pend = F.broadcast(exh_pend)
            else:
                # an over-broadcast query side on a predicate-only join must
                # become a partitioned CartesianProduct, never a Broadcast
                # NestedLoop with a multi-GB build side (VERDICT r6 #5)
                exh_pend = exh_pend.hint("shuffle_replicate_nl")
            # Chebyshev cell distance beyond the already-scanned radius
            # r_prev = r//2 (shells stay disjoint + exhaustive)
            cheb = None
            for j in range(d):
                t = F.abs(
                    F.expr(f"shiftrightunsigned(x{j}, CAST({cb} - level AS INT))")
                    - F.expr(f"shiftrightunsigned(q{j}, CAST({cb} - level AS INT))")
                )
                cheb = t if cheb is None else F.greatest(cheb, t)
            r_prev = F.when(F.col("r") == 1, F.lit(-1)).otherwise(F.col("r") / 2).cast("long")
            exh_cand = (
                pts_narrow.crossJoin(exh_pend)
                .where(cheb > r_prev)
                .withColumn("pcell", F.expr(f"shiftrightunsigned(morton, CAST({d} * ({kb} - level) AS INT))"))
                .drop("level", "r", "morton")  # mesh parts drop morton too: union schemas must agree
            )
            branches.append(exh_cand)
            cnt_parts.append(exh_cand.select("qid"))

        if branches:
            cand = branches[0]
            for b in branches[1:]:
                cand = cand.unionByName(b)
            if plan_log is not None:
                # lvl_counts is the structural evidence: lvl==-1 rows take
                # the no-generate leaf equi-join; only lvl>=0 shared levels
                # ever explode the candidate table
                plan_log.append(
                    {
                        "plan": str(cand._jdf.queryExecution().optimizedPlan()),
                        "lvl_counts": dict(lvl_counts) if n_exh < n_pend else {},
                    }
                )

            # WINDOW top-k (nn_search_helpers.h:18-93 as a window-group
            # limit): the rn<=k filter on a rank-only window lets Spark
            # insert WindowGroupLimit(Partial) below the shuffle — a
            # Tungsten map-side partial top-k per qid, so at most k rows
            # per qid per input partition cross the exchange and NO
            # per-entry objects are built. r4's two-level collect_list
            # ObjectHashAggregate materialized every candidate as a struct
            # (143M at 38.4M varden) and was the measured bottleneck.
            ecand = cand.select(
                "qid",
                dist2.cast("long").alias("dist2"),
                "key",
                F.col("span_idx").cast("long").alias("span_idx"),
            )
            w = Window.partitionBy("qid").orderBy("dist2", "key", "span_idx")
            lvl2 = (
                ecand.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") <= k)
                .groupBy("qid")
                .agg(F.collect_list(F.struct("dist2", "key", "span_idx")).alias("tk_new"))
            )
            if return_stats:
                # V3 exact candidate counts: one extra NARROW hash-count
                # pass over the qid-only candidate projections (the mesh
                # side counts BEFORE its 1:1 query join; only qid crosses
                # the shuffle after map-side combine). Fused into the
                # window pass it would disable WindowGroupLimit — a worse
                # trade at every scale.
                csrc = cnt_parts[0]
                for cp in cnt_parts[1:]:
                    csrc = csrc.unionByName(cp)
                cnts = csrc.groupBy("qid").agg(F.count(F.lit(1)).alias("c_new"))
                lvl2 = lvl2.join(cnts, "qid")
            else:
                lvl2 = lvl2.withColumn("c_new", F.lit(None).cast("long"))
            jbase = pend.join(lvl2, "qid", "left")
        else:
            # every pending shell resolved to zero occupied cells (fully
            # off-grid, or over empty space) and no exhaustive queries: the
            # termination columns must STILL run this round so _covered
            # queries finish as done/drop — r3 broke the loop here, and
            # queries whose round-2+ shell fell entirely off-grid silently
            # produced no result row at all
            jbase = pend.withColumn("tk_new", F.lit(None).cast(_ENTRY_ARR)).withColumn(
                "c_new", F.lit(None).cast("long")
            )

        # termination as COLUMN expressions over pend ⋈ round-stats: merge
        # the carried top-k with this shell's, then apply the ring lower
        # bound (r*w)^2 vs kth distance (nn_search.hpp:121-123). ONE eager
        # checkpoint materializes the round; results and the next pending
        # set derive from it lazily (heavy join runs once; 3 driver
        # actions/round independent of query count).
        merged = F.slice(
            F.array_sort(F.concat(F.col("tk"), F.coalesce(F.col("tk_new"), empty_tk))), 1, k
        )
        j = (
            jbase
            .withColumn("tk_m", merged)
            .withColumn("cnt_m", F.col("cnt") + F.coalesce(F.col("c_new"), F.lit(0)))
            .withColumn("kth", F.try_element_at(F.col("tk_m"), F.lit(k)).getField("dist2"))
            .withColumn(
                "_covered",
                _exh_cond(d)
                | (F.expr("2 * r + 1") >= F.expr("shiftleft(CAST(2 AS BIGINT), level)")),
            )
            .withColumn(
                # termination on the MERGED top-k size, not the carried
                # count: size(tk_m) == min(candidates_seen, k) exactly, so
                # size >= k <=> count >= k and size == 0 <=> count == 0 —
                # and the count column stays stats-only (null without
                # return_stats)
                "_done",
                (
                    (F.size("tk_m") >= k)
                    & (
                        F.col("kth")
                        <= F.expr(
                            f"shiftleft(r, CAST({cb} - level AS INT)) * shiftleft(r, CAST({cb} - level AS INT))"
                        )
                    )
                )
                | (F.col("_covered") & (F.size("tk_m") > 0)),
            )
            .withColumn("_drop", F.col("_covered") & (F.size("tk_m") == 0))
        )
        j = _ckpt(j)
        t0 = _prof(f"r{rnd}_round_ckpt", t0)

        res_round = j.where("_done").select(
            "qid", F.col("tk_m").alias("tk"), F.lit(rnd).cast("int").alias("rounds"),
            F.col("cnt_m").alias("cand_rows"),
        )
        result_parts.append(res_round)
        if return_stats:
            stats_parts.append(res_round.select("qid", "rounds", "cand_rows"))

        pend = j.where("NOT _done AND NOT _drop").select(
            "qid", *qcols, "level", (F.col("r") * 2).alias("r"),
            F.col("tk_m").alias("tk"), F.col("cnt_m").alias("cnt"),
        )
        row = pend.agg(
            F.count(F.lit(1)).alias("n"), F.sum(_exh_cond(d).cast("long")).alias("ne")
        ).collect()[0]  # cheap: scans the checkpointed round frame
        n_pend, n_exh = int(row["n"]), int(row["ne"] or 0)
        t0 = _prof(f"r{rnd}_pend_agg", t0)
        if cells is not None:
            cells.unpersist()
        if raw_cells is not None:
            raw_cells.unpersist()

    if not result_parts:
        empty = spark.createDataFrame([], schema=RESULT_SCHEMA)
        return (empty, spark.createDataFrame([], schema=STATS_SCHEMA)) if return_stats else empty
    allres = result_parts[0]
    for p in result_parts[1:]:
        allres = allres.unionByName(p)
    # doc_id re-attach: key -> doc_id is FUNCTIONAL by construction (the
    # loader derives key from doc_id, documents.py:162; update batches
    # shift unique keys, preserving the dependence), but (key, span_idx)
    # is NOT a unique row id — fixtures carry duplicate spans — so the
    # join is on key against the DISTINCT (key, doc_id) projection,
    # NARROWED first by a broadcast semi-join on the <= nq*k result keys:
    # r4 ran dropDuplicates over the FULL points table per batch (a
    # full-table shuffle to decorate a tiny result — 2.6s at 38.4M); now
    # only the semi-filtered handful of rows reaches the distinct.
    final = allres.select("qid", F.posexplode("tk").alias("pos", "s")).select(
        "qid",
        (F.col("pos") + 1).cast("long").alias("rn"),
        F.col("s.key").alias("key"),
        F.col("s.span_idx").cast("long").alias("span_idx"),
        F.col("s.dist2").alias("dist2"),
    )
    res_keys = final.select("key").distinct()
    ids = (
        index.points.select("key", "doc_id")
        .join(F.broadcast(res_keys), "key", "leftsemi")
        .dropDuplicates(["key"])
    )
    out = final.hint("shuffle_hash").join(ids, "key").select(
        "qid", "rn", "key", "doc_id", "span_idx", "dist2"
    )
    if return_stats:
        stats = stats_parts[0]
        for p in stats_parts[1:]:
            stats = stats.unionByName(p)
        return out, stats
    return out


def knn_join(index: SpatialIndex, k: int = 10, sample_mod: int = 100, sample_val: int = 3) -> DataFrame:
    """kNN-graph builder (S5 analog, testFramework.h:742-815): kNN of a
    deterministic 1%-style sample of the points against the index; output
    edges (src=qid, rn, dst=key, dist2) writeable as a weighted adjacency
    list via edges.write.parquet(...). The query sample stays a DataFrame —
    no driver round-trip, so the 1% ratio holds at any n."""
    qdf = (
        index.points.where(F.col("key") % sample_mod == sample_val)
        .select(F.col("key").alias("qid"), *[F.col(f"x{j}").alias(f"q{j}") for j in range(index.cfg.dims)])
        .dropDuplicates(["qid"])
    )
    return knn(index, qdf, k=k)
