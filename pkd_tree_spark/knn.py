"""Batch k-nearest-neighbor via expanding-ring candidate joins.

Reference operators reproduced (SURVEY.md §2.3): Q1 k_nearest DFS with
lower-bound pruning (query_op/nn_search.hpp:81-126), Q2 bounded top-k
(nn_search_helpers.h:18-93), Q4 batch harness (testFramework.h:470-520).

Distributed formulation: each query scans, round by round, the cells in
the Chebyshev SHELL (r_prev, r] around its home cell at a per-query grid
level g (cell width w = 2^(coord_bits - g)); r doubles each round, so the
shells are disjoint and their union is the full radius-r disk. The running
top-k is CARRIED with the pending query and merged with each shell's
candidates — a cell is scanned at most once per query (the reference
visits each tree node once; round 2 of this engine re-scanned the whole
disk every round). After ring r the scanned region is the radius-r BLOCK
of cells [lo, hi] per dimension, and every unscanned point lies outside it
in some dimension, so its distance is at least
gap = min_j min(q_j - lo_j, hi_j - q_j) + 1 — the exact point-to-box
distance from the query to the unscanned space. A query terminates once
kth_dist^2 < gap^2 (_block_gap2): the `p2b_min_distance > bq.top()` prune
of nn_search.hpp:121-123 with the block as the box. The inequality is
strict, so an unscanned point tied with the k-th distance (and possibly a
smaller key) is never missed; gap >= r*w + 1, so no query takes more
rounds than under the worst-placement bound (r*w)^2.

High-d / large-ring escape: when a round's offset mesh (2r+1)^d would
exceed MESH_CAP cells (d=7 at r>=4, d=16 immediately — the reference
instantiates kNN up to d=16, tests/test.cpp:569-617), the query switches
to an EXHAUSTIVE round: one filtered scan of the points table restricted
to cells beyond the already-scanned radius (Chebyshev cell distance >
r_prev, pure column arithmetic). That round is definitionally complete, so
the query finishes — the distributed analog of the kd-tree degenerating to
a near-full traversal under the curse of dimensionality. Termination is
therefore unconditional in O(log grid) rounds with bounded per-round work.

ONE ring loop, whatever the batch size (the reference runs one traversal,
nn_search.hpp:81-126). Its state is the pending queries (qid, coordinates,
level, r, cnt) plus their carried top-k; only where a round runs varies:
  * while more than DRIVER_CELLS_MAX_QUERIES queries are pending a round
    runs DISTRIBUTED — the query set is a checkpointed DataFrame (the
    reference's headline batch is 10^7 queries, testFramework.h:470-520
    with batchQueryRatio=0.01 at n=10^9), shell cells are generated
    inside mapInPandas, per-round termination is a join + column
    expressions, and the engine issues O(1) driver actions per round
    independent of query count;
  * once the pending set is at or below that size it is collected ONCE
    (carried top-k exploded into rows) and the remaining rounds run on the
    DRIVER (_knn_driver): numpy shells and merge, ONE candidate collection
    per round. Small batches start there. While a round's scan rows plus
    the (row, query) pairs it must test fit index.DRIVER_FINISH_MAX_ROWS,
    that collection is one pre-filtered scan of the candidate table, and
    the shells meet their rows in numpy (_scan_candidates: the reference
    visiting a leaf and computing its distances in place,
    nn_search.hpp:81-126): one Spark job, no join. Larger rounds, and
    rounds holding an exhaustive query, collect the candidate join.
Every round yields its shell cells' rows (the candidate join's multiset,
_candidate_join), and all share the exhaustive branch and termination
rule, so rows and per-query stats do not depend on where the handoff
happens or on which side of the bound a round runs.

Size gates, each with a test that takes both sides: where a round runs
(DRIVER_CELLS_MAX_QUERIES); whether a driver round meets its shells in
numpy from one scan or joins them (index.DRIVER_FINISH_MAX_ROWS, shared
with the range count); broadcast or shuffled cell relations
(CELLS_BCAST_ROWS, BROADCAST_BYTES) and exhaustive query sides
(BROADCAST_BYTES); and how a joined driver round collects
(DRIVER_COLLECT_MAX_ROWS: raw, exact count then raw, or a per-query top-k
in Spark first). None changes a row or a stat.

Skew adaptivity (the kd-tree's density-adaptive depth, which a fixed grid
lacks): a per-query level is chosen from the driver-memoized skeleton
(SpatialIndex.meta_np — index state, like the reference's tree depth) by
_assign_levels_np: the coarsest even level whose home-cell 3^d
neighborhood fits the candidate target, or a closed-form deep level from
the hot leaf's count and occupied bbox. Small batches run it on the
driver; large batches run it inside mapInPandas against the broadcast
skeleton. With adaptive=False every query takes the fixed ``level``:
level choice never affects exactness, only the ring count.

Physical plan per distributed round: the shell-cell equi-joins against
the candidate table (see _candidate_join), then a row_number() WINDOW
top-k per qid: Spark's WindowGroupLimit rewrites the rank filter into a
Tungsten map-side partial top-k (<= k rows per qid per input partition
cross the shuffle), so no per-entry objects are ever materialized — r4's
collect_list ObjectHashAggregate pushed ~143M three-long structs through
allocation at 38.4M varden and was THE measured bottleneck (181s). The
<= k survivors per qid then merge with the carried top-k. This is the
bounded queue of nn_search_helpers.h as a window-group limit; no full
candidate shuffle. All distances are exact int64 squared-L2.

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
rows scanned across all rounds (cumulative, carried with the pending query).
Queries in an empty index produce no result row and no stats row. Tests and
tools/gen_plans.py read a round's plan by wrapping _candidate_join.
"""

from __future__ import annotations

import functools
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from .config import EngineConfig
from . import index as I
from .index import SpatialIndex, leaf_rows, leaf_scan, leaf_scan_pred, morton_runs
from .zorder import morton_encode_np

__all__ = ["auto_knn_level", "knn", "knn_join"]

# broadcast thresholds are BYTES-based (a 4M-row pending table at d=16 is
# ~0.5GB; the same rows at d=2 are ~100MB — one row-count constant cannot
# serve both). cells rows are 2 longs; qside rows are (d+1) longs + level/r.
BROADCAST_BYTES = 128 << 20
# a round whose offset mesh (2r+1)^d exceeds this switches to an exhaustive
# filtered scan (see module docstring); 2^18 cells * 8B = 2MB per query mesh
MESH_CAP_LOG2 = 18.0
# pending sets at or below this many queries run their rounds ON THE
# DRIVER (one small Arrow collect of the pending set, numpy shell
# resolution, local cell relations) instead of mapInPandas on executors:
# the distributed round costs a Python-worker round, a cells-distribution
# collect, a round checkpoint and a pending count per round — pure
# overhead at bench-query counts, and every straggler round of a large
# batch is small. Large query batches (the 1%-of-n harness at 38.4M+) run
# their first rounds distributed and hand the stragglers over.
DRIVER_CELLS_MAX_QUERIES = 20_000
# cell relations above this row count take a SHUFFLED join against the
# points (planner's choice, sort-merge at these shapes) instead of a
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
CELLS_BCAST_ROWS = 1_000_000
# raw-collect cap for the joined driver rounds (past
# index.DRIVER_FINISH_MAX_ROWS, or holding an exhaustive query): rounds
# whose exact-from-metadata candidate estimate exceeds this reduce
# per-query top-k in Spark (window group limit) before collecting, instead
# of pulling raw candidates
DRIVER_COLLECT_MAX_ROWS = 3_000_000

RESULT_SCHEMA = "qid long, rn long, key long, doc_id string, span_idx long, dist2 long"
STATS_SCHEMA = "qid long, rounds int, cand_rows long"
_RESULT_COLS = ["qid", "rn", "key", "doc_id", "span_idx", "dist2"]
_ROWS_COLS = ["qid", "rn", "key", "span_idx", "dist2"]
_ROWS_SCHEMA = "qid long, rn long, key long, span_idx long, dist2 long"
_ENTRY_COLS = ["dist2", "key", "span_idx"]

# distributed top-k entries are THREE LONGS — no doc_id string: (dist2,
# key, span_idx) is the total order the reference's bounded queue uses.
# (key, span_idx) is not a unique row id, but rows sharing it are full
# duplicates (same doc_id and coordinates, from repeated lineitem keys), so
# ties among them are unobservable. ~10^8 candidate entries per round
# carry 24 bytes instead of a heap string each (the
# string made the agg allocation-bound at 38.4M pts: 300M candidate structs
# -> GC, not compute). The driver rounds collect doc_id with their (small)
# candidates; rows finished or carried out of distributed rounds get it
# from _finish's one key join.
_ENTRY_ARR = "array<struct<dist2:bigint,key:bigint,span_idx:bigint>>"


def auto_knn_level(n: int, d: int, target_per_cell: int = 128, grid_bits: int = 20) -> int:
    """Global fallback level: a cell holds ~target rows under uniformity."""
    if n <= target_per_cell:
        return 1
    level = int(math.floor(math.log2(max(2, n / target_per_cell)) / d))
    return max(1, min(grid_bits, level))


def _assign_levels_np(
    meta: dict,
    qpd: pd.DataFrame,
    d: int,
    cb: int,
    L: int,
    k: int,
    level_floor: int,
    level_cap: int,
    target: int,
) -> np.ndarray:
    """Per-query grid level from the memoized skeleton ``meta`` (see
    SpatialIndex.meta_np) — zero Spark jobs, so it runs on the driver for
    small batches and inside mapInPandas (against the broadcast skeleton)
    for large ones. Level choice never affects exactness (the termination bound
    does), only the candidate volume and the ring count."""
    thresh = max(target, 3 * k)
    neigh = 3**d  # 3^d-neighborhood upper bound under local uniformity
    nq = len(qpd)
    clampL = max(level_floor, min(level_cap, L))
    cells = meta["cells"]
    if not len(cells):
        return np.full(nq, clampL, dtype=np.int64)
    cnt = np.diff(meta["cum"]).astype(np.int64)
    # occupancy-gated uniform shortcut: only when the hottest cell is near
    # the mean AND most level-L cells are occupied (a uniform subregion —
    # e.g. the duplicate lattice — passes the max/avg test but fails
    # occupancy, and must take the rungs) does every query get one
    # closed-form level from the mean occupied-cell density.
    av = float(cnt.mean())
    full_cells = float(1 << (d * L)) if d * L < 62 else float("inf")
    if float(cnt.max()) <= 4.0 * av and len(cells) >= 0.5 * full_cells:
        lvl0 = L + int(round(math.log2(max(1.0, av * neigh / thresh)) / d))
        return np.full(nq, max(level_floor, min(level_cap, lvl0)), dtype=np.int64)
    q = np.stack([qpd[f"q{j}"].to_numpy(dtype=np.int64) for j in range(d)], axis=1)
    # coarse pick (levels <= index_level): the min rung whose home-cell
    # estimate fits the target, exact from the skeleton's counts. EVEN
    # rungs only: the round's probe pass costs n x DISTINCT-LEVELS
    # (measured at 38.4M varden: 25.3s over 6 levels vs 14.4s over 3,
    # while the candidate join + full top-k agg add ~nothing), so level
    # granularity is the wrong place to spend a 2x probe multiplier — a
    # one-coarser level only grows the (nearly free) candidate set.
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
        # closed-form DEEP level for queries whose every coarse rung is
        # too dense (they sit in a hot index cell). The leaf's count +
        # occupied bbox give the local density directly — the varden
        # generator (and most real clusters) is uniform INSIDE a cluster,
        # so pick the width w where a 3^d neighborhood holds ~thresh
        # points: w = bbox_side * (thresh/cnt)^(1/d) / 3 -> level =
        # cb - log2(w). A query OUTSIDE the occupied bbox is clamped so
        # that one ring spans its gap to the bbox (else an OOD query next
        # to a tight cluster would ring many rounds across empty fine
        # cells). Zero passes over the points.
        # NOTE (r4, measured): halving the target here to compensate the
        # even-lattice coarsening cut avg candidates only 408->372 at 38.4M
        # varden (no time change) while pushing sf0.1 ring rounds
        # 1.11->1.28 (each extra round pays the per-action floor) — the
        # overshoot comes from cluster-edge geometry, not the density
        # model, so the full target stays.
        qn = q[need]
        homeL = morton_encode_np(qn >> (cb - L), bits=L)
        i = np.searchsorted(cells, homeL)
        safe = np.minimum(i, len(cells) - 1)
        hit = (i < len(cells)) & (cells[safe] == homeL)
        cntL = np.maximum(cnt[safe].astype(np.float64), 1.0)
        mn, mxa = meta["mn"][safe], meta["mx"][safe]
        bbox = (mxa - mn + 1).max(axis=1).astype(np.float64)
        w_dens = bbox * (float(thresh) / cntL) ** (1.0 / d) / 3.0
        lvl_dens = cb - np.floor(np.log2(np.maximum(w_dens, 1.0)))
        gap = np.maximum(np.maximum(mn - qn, qn - mxa), 0).max(axis=1).astype(np.float64)
        lvl_gap = cb - np.ceil(np.log2(np.maximum(gap, 1.0)))
        raw = np.clip(np.minimum(lvl_dens, lvl_gap), level_floor, level_cap).astype(np.int64)
        # snap DOWN to the even lattice (coarser: candidates grow <=4x at
        # d=2, cheap per the probe-vs-agg measurement; deeper would risk
        # empty neighborhoods and extra rounds)
        deep = np.maximum(raw - raw % 2, level_floor)
        lv_pick[np.flatnonzero(need)] = np.where(hit, deep, clampL)
    return lv_pick


def _resolved_cells(qpd: pd.DataFrame, d: int, coord_bits: int, L: int, meta: dict) -> pd.DataFrame:
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
    carried top-k merge stays multiset-exact."""
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
            occ = (pos < len(mcells)) & (mcells[safe] == anc)
            w = 1 << w_shift
            lo_c = flat * w
            hi_c = lo_c + (w - 1)
            keep = occ & (lo_c <= meta["mx"][safe]).all(axis=1) & (hi_c >= meta["mn"][safe]).all(axis=1)
            if keep.any():
                frames.append(
                    pd.DataFrame({"qid": qids[keep], "lvl": np.int32(level), "cell": enc[keep]})
                )
    if not frames:
        return pd.DataFrame({"qid": pd.Series(dtype="int64"), "lvl": pd.Series(dtype="int32"),
                             "cell": pd.Series(dtype="int64")})
    return pd.concat(frames, ignore_index=True)


def _exh_cond(d: int, r=None):
    """Column predicate: the offset mesh at ring ``r`` (default: the ``r``
    column) would exceed MESH_CAP — the query takes the exhaustive branch
    (shared by the branch split, the termination expression and the
    pending-set count; all must agree row-for-row)."""
    r = F.col("r") if r is None else r
    return F.lit(float(d)) * F.log2(F.lit(2.0) * r + F.lit(1.0)) > F.lit(MESH_CAP_LOG2)


def _union(frames: list[DataFrame]) -> DataFrame:
    return functools.reduce(DataFrame.unionByName, frames)


def _candidate_source(index: SpatialIndex, k: int, d: int):
    """(narrow candidate table, dist2 column), built once per loop;
    duplicate-heavy indexes swap in the pruned (position-collapsed) table —
    multiset-exact for this k (see SpatialIndex.pruned_points). doc_id is
    in the table for the driver rounds' collect; the distributed rounds
    project three longs, so their scans prune it. dist2 is the exact int64
    squared-L2 between a candidate (x*) and its query (q*)."""
    xcols = [f"x{j}" for j in range(d)]
    dist2 = functools.reduce(
        lambda a, b: a + b, [(F.col(x) - F.col(f"q{j}")) * (F.col(x) - F.col(f"q{j}")) for j, x in enumerate(xcols)]
    )
    pts = (index.pruned_points(k) or index.points).select("key", "doc_id", "span_idx", *xcols, "morton")
    return pts, dist2.cast("long").alias("dist2")


def _block_gap2(q: np.ndarray, level: np.ndarray, r: np.ndarray, cb: int) -> np.ndarray:
    """Squared distance from each query q (m, d) to the space outside its
    scanned radius-r block at ``level`` (see module docstring); a query is
    done once kth_dist^2 < this. _knn_rounds states the same rule as
    columns (_block_gap_col)."""
    s, rr = (cb - level)[:, None], r[:, None]
    g = q >> s
    gap = np.minimum(q - ((g - rr) << s), ((g + rr + 1) << s) - 1 - q).min(axis=1) + 1
    return gap * gap


def _block_gap_col(d: int, cb: int):
    """_block_gap2's gap (unsquared) as a column over (q*, level, r)."""
    sh = f"CAST({cb} - level AS INT)"
    return functools.reduce(F.least, [F.expr(
        f"least(q{j} - shiftleft(shiftright(q{j}, {sh}) - r, {sh}), "
        f"shiftleft(shiftright(q{j}, {sh}) + r + 1, {sh}) - 1 - q{j})"
    ) for j in range(d)]) + F.lit(1)


def _empty_result(spark, return_stats: bool):
    empty = spark.createDataFrame([], schema=RESULT_SCHEMA)
    return (empty, spark.createDataFrame([], schema=STATS_SCHEMA)) if return_stats else empty


def _leaf_ancestors(lvl: np.ndarray, cell: np.ndarray, d: int, L: int) -> np.ndarray:
    """Level-L ancestor of each resolved shell cell (lvl == -1 rows already
    are level-L leaves; lvl > L rows are fine cells)."""
    return np.where(lvl < 0, cell, cell >> np.where(lvl > L, d * (lvl - L), 0))


def _level_stats(
    lvl: np.ndarray, n: np.ndarray, leaf: np.ndarray
) -> tuple[dict[int, int], dict[int, np.ndarray]]:
    """(cell rows per lvl, distinct leaf ancestors per lvl) of one round's
    resolved shell cells, from (lvl, leaf, n) group rows."""
    counts: dict[int, int] = {}
    leaves: dict[int, np.ndarray] = {}
    for lv in np.unique(lvl):
        m = lvl == lv
        counts[int(lv)] = int(n[m].sum())
        leaves[int(lv)] = np.unique(leaf[m])
    return counts, leaves


def _candidate_join(
    pts_narrow: DataFrame,
    cell_rel,
    lvl_counts: dict[int, int],
    leaves: dict[int, np.ndarray],
    mnp: dict,
    d: int,
    kb: int,
    L: int,
    rel_cols: int,
    batch_rows: int,
) -> list[DataFrame]:
    """Candidate-join parts for one round's resolved shell cells, for the
    driver rounds (local cell relations that carry the query coordinates)
    and the distributed rounds (the persisted cells frame) alike.

    ``cell_rel(levels)`` returns the (qid, lvl, cell, ...) rows at those
    levels, ``rel_cols`` columns wide (the broadcast gate is rows- and
    bytes-based, see CELLS_BCAST_ROWS / BROADCAST_BYTES); ``lvl_counts``
    and ``leaves`` come from _level_stats; ``batch_rows`` is the index's
    SpatialIndex.scan_batch_rows.

    AT MOST TWO parts: coarse rows (lvl == -1, resolved level-L leaves)
    take ONE leaf equi-join — no points-side generate; all fine levels
    share ONE scan exploded over the fine levels present only. Each part's
    scan is pre-filtered by leaf_scan_pred over its levels' leaves (exact
    from the memoized prefix sums; cached-batch min/max skipping then
    reads only the touched regions). A filtered scan per fine level prunes
    slightly tighter, but each extra part is one more scan and one more
    cell relation per round: at sf0.1 it cost knn10_varden 5.3 -> 6.7s
    (local[4] on 4 cores, 3 interleaved pairs). r3 instead exploded ALL n
    rows over EVERY distinct level and re-scanned the full table for
    rounds >= 2 stragglers — the measured scale-killer (25.3s of a ~70s
    varden round at 38.4M)."""
    leaf_shift = d * (kb - L)
    bcast_rows = min(CELLS_BCAST_ROWS, BROADCAST_BYTES // (8 * rel_cols))

    def rel(levels: list[int]) -> DataFrame:
        cl = cell_rel(levels)
        return F.broadcast(cl) if sum(lvl_counts[lv] for lv in levels) <= bcast_rows else cl

    parts: list[DataFrame] = []
    fine = sorted(lv for lv in lvl_counts if lv >= 0)
    for levels in ([-1] if -1 in lvl_counts else [], fine):
        if not levels:
            continue
        pred = leaf_scan_pred(mnp, np.unique(np.concatenate([leaves[lv] for lv in levels])), leaf_shift, batch_rows)
        p = pts_narrow if pred is None else pts_narrow.where(pred)
        if levels == [-1]:
            p = p.withColumn("pcell", F.shiftrightunsigned("morton", leaf_shift))
            parts.append(p.join(rel(levels), F.col("pcell") == F.col("cell")))
            continue
        # foldable literal level array (codegen hoists it); the cell is
        # column arithmetic AFTER the explode — an array-of-structs here
        # allocates per ROW (GC-bound floor at 38.4M pts)
        p = p.select(
            "*", F.explode(F.array(*[F.lit(lv).cast("int") for lv in levels])).alias("plvl")
        ).withColumn("pcell", F.expr(f"shiftrightunsigned(morton, CAST({d} * ({kb} - plvl) AS INT))"))
        parts.append(
            p.join(rel(levels), (F.col("plvl") == F.col("lvl")) & (F.col("pcell") == F.col("cell")))
            .drop("plvl")
        )
    return [p.drop("lvl", "cell", "pcell", "morton") for p in parts]


def _exhaustive_part(pts_narrow: DataFrame, exq: DataFrame, n_exq: int, d: int, cb: int) -> DataFrame:
    """Candidates of the over-mesh queries ``exq`` (qid, q*, level, r): one
    filtered scan of every point at Chebyshev cell distance beyond the
    already-scanned radius r_prev = r//2 (shells stay disjoint and the
    round is exhaustive)."""
    if n_exq <= BROADCAST_BYTES // (8 * (d + 3)):
        exq = F.broadcast(exq)
    else:
        # an over-broadcast query side on a predicate-only join must
        # become a partitioned CartesianProduct, never a Broadcast
        # NestedLoop with a multi-GB build side (VERDICT r6 #5)
        exq = exq.hint("shuffle_replicate_nl")
    cheb = functools.reduce(F.greatest, [
        F.abs(
            F.expr(f"shiftrightunsigned(x{j}, CAST({cb} - level AS INT))")
            - F.expr(f"shiftrightunsigned(q{j}, CAST({cb} - level AS INT))")
        )
        for j in range(d)
    ])
    r_prev = F.when(F.col("r") == 1, F.lit(-1)).otherwise(F.col("r") / 2).cast("long")
    return pts_narrow.crossJoin(exq).where(cheb > r_prev).drop("level", "r", "morton")


def _cand_estimate(lvl: np.ndarray, anc: np.ndarray, mnp: dict, d: int, cb: int, L: int) -> int:
    """Estimated candidate rows under resolved shell cells (``anc``: their
    leaf ancestors), from the memoized meta alone: EXACT leaf occupancy for
    coarse (lvl == -1) rows; fine (lvl > L) rows take their ancestor's
    occupancy scaled by the cell's share of the ancestor's occupied bbox
    (the same uniform-inside-cluster model _assign_levels_np uses for
    level choice). The raw ancestor bound was uselessly loose on skewed
    data — every fine cell under a hot leaf charged the entire cluster,
    150x over the true volume — and pushed the driver rounds into a
    needless count-then-reduce."""
    cells = mnp["cells"]
    if not len(lvl) or not len(cells):
        return 0
    i = np.searchsorted(cells, anc)
    safe = np.minimum(i, len(cells) - 1)
    hit = (i < len(cells)) & (cells[safe] == anc)
    occ = np.where(hit, mnp["cum"][safe + 1] - mnp["cum"][safe], 0).astype(np.float64)
    fine = lvl > L
    if fine.any():
        vol = np.prod((mnp["mx"][safe] - mnp["mn"][safe] + 1).astype(np.float64), axis=1)
        cell_vol = np.exp2(d * (cb - lvl).astype(np.float64))
        share = np.minimum(1.0, cell_vol / np.maximum(vol, 1.0))
        occ = np.where(fine, occ * share, occ)
    return int(occ.sum())


def _scan_candidates(tbl, st: pd.DataFrame, cells: pd.DataFrame, d: int, kb: int, L: int) -> pd.DataFrame:
    """One driver round's candidates from ONE collected scan ``tbl`` (an
    Arrow table of the candidate table's rows): the rows of each resolved
    shell cell ``cells`` (qid, lvl, cell) are one Morton run of the scanned
    rows (index.morton_runs; a cell at lvl > L is a prefix of its own
    level, lvl == -1 a level-L leaf), and their exact int64 dist2 to the
    cell's query in ``st`` is computed in numpy: the multiset the candidate
    join yields. Returns (qid, dist2, key, span_idx, doc_id, row) with
    doc_id unset and ``row`` the candidate's position in ``tbl``: strings
    are made only for the rows that enter a top-k."""

    def col(c: str) -> np.ndarray:
        return tbl.column(c).to_numpy().astype(np.int64, copy=False)

    lvl = cells["lvl"].to_numpy(np.int64)
    shifts = d * (kb - np.where(lvl < 0, L, lvl))
    rows, n = morton_runs(col("morton"), cells["cell"].to_numpy(np.int64), shifts)
    qi = np.repeat(pd.Index(st["qid"]).get_indexer(cells["qid"]), n)
    dist2 = np.zeros(len(rows), dtype=np.int64)
    for j in range(d):
        t = col(f"x{j}")[rows] - st[f"q{j}"].to_numpy(np.int64)[qi]
        dist2 += t * t
    return pd.DataFrame({
        "qid": st["qid"].to_numpy(np.int64)[qi], "dist2": dist2, "key": col("key")[rows],
        "span_idx": col("span_idx")[rows], "doc_id": None, "row": rows,
    })


def _knn_driver(
    index: SpatialIndex,
    st: pd.DataFrame,
    carried: pd.DataFrame,
    k: int,
    rnd0: int,
    max_rounds: int,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Driver rounds rnd0..max_rounds of the ring loop, for a pending set
    ``st`` (qid, q*, level, r, cnt) with carried top-k entries ``carried``
    (qid, dist2, key, span_idx, doc_id). Shell resolution, top-k merge and
    ring termination run ON THE DRIVER; Spark contributes ONE candidate
    collection per ring round.

    A round of mesh queries whose scan rows plus (row, query) pairs stay
    within index.DRIVER_FINISH_MAX_ROWS — both from the skeleton before
    any job: leaf_scan's rows, and the leaf occupancy under the resolved
    cells (exact for coarse cells, an upper bound for fine ones) — is ONE
    Spark job: one pre-filtered scan of the candidate table collected
    through Arrow, matched to its shell cells in numpy (_scan_candidates).
    Other rounds (past the bound, or holding an exhaustive query) collect
    the candidate join (a local cell relation broadcast against the scan)
    instead. Those whose metadata-estimated candidate volume exceeds
    DRIVER_COLLECT_MAX_ROWS reduce per-query top-k with the same
    WindowGroupLimit plan the distributed rounds use before collecting, so
    the driver never holds more than ~pend*k rows from such a round.

    The candidate multiset per round is the distributed round's (same
    shell cells, _exhaustive_part), the merge order is (dist2, key,
    span_idx), and the termination rule is the same exact block bound
    (_block_gap2) plus the covered-mesh rule.

    Returns (rows (qid, rn, key, doc_id, span_idx, dist2), stats (qid,
    rounds, cand_rows)) of the queries finished here, as pandas."""
    spark = index.points.sparkSession
    cfg: EngineConfig = index.cfg
    d, kb, cb, L = cfg.dims, cfg.grid_bits, cfg.coord_bits, cfg.index_level
    qcols = [f"q{j}" for j in range(d)]
    qschema = ", ".join(f"{q} long" for q in qcols)
    mnp = index.meta_np()
    batch_rows = index.scan_batch_rows()
    total_pts = int(mnp["cum"][-1])
    pts_narrow, dist2 = _candidate_source(index, k, d)

    res_frames: list[pd.DataFrame] = []
    stats_frames: list[pd.DataFrame] = []

    for rnd in range(rnd0, max_rounds + 1):
        if not len(st):
            break
        rv = st["r"].to_numpy(np.int64)
        lv = st["level"].to_numpy(np.int64)
        exh = (d * np.log2(2.0 * rv + 1.0)) > MESH_CAP_LOG2
        parts: list[DataFrame] = []
        est = 0
        cand_pd = new_sizes = None
        if (~exh).any():
            sub = st.loc[~exh, ["qid", *qcols, "level", "r"]]
            cells_pdf = _resolved_cells(sub, d, cb, L, mnp)
            lvlv = cells_pdf["lvl"].to_numpy(np.int64)
            anc = _leaf_ancestors(lvlv, cells_pdf["cell"].to_numpy(np.int64), d, L)
            scan = None
            if len(anc) and not exh.any():
                pred, rows = leaf_scan(mnp, anc, d * (kb - L), batch_rows)
                if rows + leaf_rows(mnp, anc) <= I.DRIVER_FINISH_MAX_ROWS:
                    scan = pts_narrow if pred is None else pts_narrow.where(pred)
            if scan is not None:
                tbl = scan.toArrow()
                cand_pd = _scan_candidates(tbl, sub, cells_pdf, d, kb, L)
            else:
                est += _cand_estimate(lvlv, anc, mnp, d, cb, L)
                lvl_counts, leaves = _level_stats(lvlv, np.ones(len(lvlv), dtype=np.int64), anc)
                # the cell relations carry the query coordinates, so the
                # candidate join needs no separate query-side join
                cells_q = cells_pdf.merge(sub[["qid", *qcols]], on="qid")

                def cell_rel(levels: list[int]) -> DataFrame:
                    return spark.createDataFrame(
                        cells_q.loc[cells_q["lvl"].isin(levels), ["qid", "lvl", "cell", *qcols]],
                        schema=f"qid long, lvl int, cell long, {qschema}",
                    )

                parts = _candidate_join(pts_narrow, cell_rel, lvl_counts, leaves, mnp, d, kb, L, 3 + d, batch_rows)
        if exh.any():
            ex = st.loc[exh, ["qid", *qcols, "level", "r"]]
            exq = spark.createDataFrame(ex, schema=f"qid long, {qschema}, level int, r long")
            parts.append(_exhaustive_part(pts_narrow, exq, int(exh.sum()), d, cb))
            est += int(exh.sum()) * total_pts
        if cand_pd is None and parts:
            sel = _union(parts).select(
                "qid",
                dist2,
                F.col("key").cast("long").alias("key"),
                F.col("span_idx").cast("long").alias("span_idx"),
                "doc_id",
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
                if int(new_sizes.sum()) <= DRIVER_COLLECT_MAX_ROWS:
                    cand_pd = sel.toPandas()
                else:
                    w = Window.partitionBy("qid").orderBy(*_ENTRY_COLS)
                    cand_pd = (
                        sel.withColumn("rn", F.row_number().over(w))
                        .where(F.col("rn") <= k).drop("rn").toPandas()
                    )
            else:
                cand_pd = sel.toPandas()
        elif cand_pd is None:
            cand_pd = carried.iloc[0:0]
        if new_sizes is None:
            new_sizes = cand_pd.groupby("qid").size()

        # ---- driver-side merge + termination (exact int64 throughout) ----
        st["cnt"] = st["cnt"].to_numpy(np.int64) + st["qid"].map(new_sizes).fillna(0).to_numpy(np.int64)
        allv = pd.concat([carried, cand_pd], ignore_index=True) if len(cand_pd) else carried
        allv = allv.iloc[np.lexsort([allv[c].to_numpy(np.int64) for c in ("span_idx", "key", "dist2", "qid")])]
        # rank within each qid group of the sorted rows
        qv = allv["qid"].to_numpy(np.int64)
        row = np.arange(len(qv))
        pos = row - np.maximum.accumulate(np.where(np.diff(qv, prepend=qv[:1] - 1) != 0, row, 0))
        allv, pos = allv.loc[pos < k].reset_index(drop=True), pos[pos < k]
        if "row" in allv:  # this round's scanned rows: doc_id for the top-k only
            src = allv.pop("row").to_numpy(np.float64)  # NaN: a carried entry
            new = ~np.isnan(src)
            allv.loc[new, "doc_id"] = tbl.column("doc_id").take(src[new].astype(np.int64)).to_pylist()
        sizes = st["qid"].map(allv.groupby("qid").size()).fillna(0).to_numpy(np.int64)
        kth_ser = allv.loc[pos == k - 1].set_index("qid")["dist2"]
        kth = st["qid"].map(kth_ser).fillna(-1).to_numpy(np.int64)
        gap2 = _block_gap2(st[qcols].to_numpy(np.int64), lv, rv, cb)
        covered = exh | ((2 * rv + 1) >= (np.int64(2) << lv))
        done = ((sizes >= k) & (kth >= 0) & (kth < gap2)) | (covered & (sizes > 0))
        dropm = covered & (sizes == 0)
        if done.any():  # done queries hold >= 1 entry
            dmask = allv["qid"].isin(st.loc[done, "qid"]).to_numpy()
            resf = allv.loc[dmask, ["qid", "key", "doc_id", "span_idx", "dist2"]].copy()
            resf["rn"] = (pos[dmask] + 1).astype(np.int64)
            res_frames.append(resf)
            stf = st.loc[done, ["qid", "cnt"]].rename(columns={"cnt": "cand_rows"})
            stf["rounds"] = np.int32(rnd)
            stats_frames.append(stf)
        st = st.loc[~done & ~dropm].copy()
        if not len(st):
            break
        carried = allv.loc[allv["qid"].isin(st["qid"]), ["qid", *_ENTRY_COLS, "doc_id"]].reset_index(drop=True)
        st["r"] = st["r"].to_numpy(np.int64) * 2

    if not res_frames:
        return pd.DataFrame(), pd.DataFrame()
    return pd.concat(res_frames, ignore_index=True), pd.concat(stats_frames, ignore_index=True)


def _finish(
    index: SpatialIndex,
    tk_parts: list[DataFrame],
    res_pd: pd.DataFrame,
    stats_pd: pd.DataFrame,
    return_stats: bool,
):
    """The batch result from the distributed rounds' finished rows
    ``tk_parts`` (qid, tk, rounds, cand_rows) and the driver rounds' rows
    ``res_pd`` / ``stats_pd``. Driver rows hold the doc_id their candidate
    collect brought, so a batch finished on the driver runs no Spark query
    here. Rows without one (finished in distributed rounds, or entries
    carried across the handoff) get it from ONE key join: key -> doc_id is
    FUNCTIONAL (the loader derives key from doc_id, documents.py:162) but
    (key, span_idx) is NOT a unique row id, so the join is on key against
    the DISTINCT (key, doc_id) projection, NARROWED first by a broadcast
    semi-join on the rows' keys (r4's full-table dropDuplicates: 2.6s)."""
    spark = index.points.sparkSession
    finals: list[DataFrame] = []
    stats: list[DataFrame] = []
    lack: list[DataFrame] = []
    if tk_parts:
        done = _union(tk_parts)
        lack.append(done.select("qid", F.posexplode("tk").alias("pos", "s")).select(
            "qid",
            (F.col("pos") + 1).cast("long").alias("rn"),
            F.col("s.key").alias("key"),
            F.col("s.span_idx").cast("long").alias("span_idx"),
            F.col("s.dist2").alias("dist2"),
        ))
        stats.append(done.select("qid", "rounds", "cand_rows"))
    if len(res_pd):
        miss = res_pd["doc_id"].isna()
        if miss.any():
            lack.append(spark.createDataFrame(res_pd.loc[miss, _ROWS_COLS], schema=_ROWS_SCHEMA))
        finals.append(spark.createDataFrame(res_pd.loc[~miss, _RESULT_COLS], schema=RESULT_SCHEMA))
        if return_stats:  # a local relation costs a driver round trip: only on request
            stats.append(spark.createDataFrame(stats_pd[["qid", "rounds", "cand_rows"]], schema=STATS_SCHEMA))
    if lack:
        rows = _union(lack)
        ids = (
            index.points.select("key", "doc_id")
            .join(F.broadcast(rows.select("key").distinct()), "key", "leftsemi")
            .dropDuplicates(["key"])
        )
        finals.append(rows.hint("shuffle_hash").join(ids, "key").select(*_RESULT_COLS))
    if not finals:
        return _empty_result(spark, return_stats)
    out = _union(finals)
    return (out, _union(stats)) if return_stats else out


def knn(
    index: SpatialIndex,
    queries: pd.DataFrame | DataFrame,
    k: int = 10,
    level: int | None = None,
    max_rounds: int = 64,
    adaptive: bool = True,
    target_candidates: int = 64,
    return_stats: bool = False,
):
    """Exact batch kNN. queries: pandas OR Spark DataFrame (qid, q0..q{d-1})
    int64 — the DataFrame path is the scale path (a large query set never
    touches the driver until its pending set is small).

    Returns (qid, rn, key, doc_id, span_idx, dist2), rn in 1..k, ordered by
    (dist2, key, span_idx); duplicate points count as distinct neighbors
    (multiset semantics — dummy-leaf multiplicity, build_tree.hpp:183-186).
    With return_stats=True returns (result, stats) where stats is a
    per-query (qid, rounds, cand_rows) DataFrame (V3 introspection;
    cand_rows is cumulative across rounds). Rows finished in driver rounds
    (every row of a small batch) are computed before knn returns, doc_id
    included, and come back as a local relation; reading one costs one job.
    A driver round within index.DRIVER_FINISH_MAX_ROWS costs one Spark job
    (its collected scan), a joined one two or more.

    With return_stats a distributed round's candidate counts run as ONE
    extra narrow hash-count pass over the candidate join (the window top-k
    can't produce exact group counts without forfeiting its map-side
    limit); without stats such a round is single-pass.
    """
    spark = index.points.sparkSession
    cfg: EngineConfig = index.cfg
    d, kb, cb, L = cfg.dims, cfg.grid_bits, cfg.coord_bits, cfg.index_level
    qcols = [f"q{j}" for j in range(d)]
    qschema = ", ".join(f"{q} long" for q in qcols)
    if level is None:
        level = cfg.knn_level
    level = min(level, kb)
    cap = min(kb, level + 10)
    if isinstance(queries, pd.DataFrame) and queries.empty:
        return _empty_result(spark, return_stats)
    mnp = index.meta_np()

    # small batches run every round on the driver (see _knn_driver):
    # pandas query sets dispatch directly; Spark query frames are probed
    # with one LIMIT collect (complete iff it returns fewer rows than the
    # cap). Large batches take the distributed rounds.
    st = None
    if isinstance(queries, pd.DataFrame):
        if len(queries) <= DRIVER_CELLS_MAX_QUERIES:
            st = queries[["qid", *qcols]].reset_index(drop=True).astype("int64")
    else:
        probe = queries.select("qid", *qcols).limit(DRIVER_CELLS_MAX_QUERIES + 1).toPandas()
        if len(probe) <= DRIVER_CELLS_MAX_QUERIES:
            st = probe.astype("int64")
    if st is not None:
        if adaptive:
            st["level"] = _assign_levels_np(mnp, st, d, cb, L, k, level, cap, target_candidates)
        else:
            st["level"] = np.int64(level)
        st["r"] = np.int64(1)
        st["cnt"] = np.int64(0)
        carried = pd.DataFrame({c: pd.Series(dtype="int64") for c in ("qid", *_ENTRY_COLS)})
        carried["doc_id"] = pd.Series(dtype=object)
        res_pd, stats_pd = _knn_driver(index, st, carried, k, 1, max_rounds)
        return _finish(index, [], res_pd, stats_pd, return_stats)

    if isinstance(queries, pd.DataFrame):
        qdf = spark.createDataFrame(queries[["qid", *qcols]].astype("int64"), schema=f"qid long, {qschema}")
    else:
        qdf = queries.select(*[F.col(c).cast("long").alias(c) for c in ("qid", *qcols)])

    # ship the skeleton once per batch (not per task closure): level
    # assignment and every round's shell resolution share it
    bc_meta = spark.sparkContext.broadcast(mnp)
    try:
        return _knn_rounds(
            index, qdf, bc_meta, k, level, cap, max_rounds, adaptive, target_candidates, return_stats
        )
    finally:
        # every frame the result derives from is checkpointed: the lazy
        # result no longer reads the skeleton broadcast
        bc_meta.destroy()


def _knn_rounds(
    index: SpatialIndex,
    qdf: DataFrame,
    bc_meta,
    k: int,
    level: int,
    cap: int,
    max_rounds: int,
    adaptive: bool,
    target_candidates: int,
    return_stats: bool,
):
    """The ring loop's distributed rounds over the query frame ``qdf``
    (qid, q*), until the pending set is small enough for _knn_driver."""
    spark = index.points.sparkSession
    cfg: EngineConfig = index.cfg
    d, kb, cb, L = cfg.dims, cfg.grid_bits, cfg.coord_bits, cfg.index_level
    qcols = [f"q{j}" for j in range(d)]
    qschema = ", ".join(f"{q} long" for q in qcols)
    mnp = index.meta_np()
    batch_rows = index.scan_batch_rows()
    if adaptive:
        def _levels(batches):
            meta = bc_meta.value
            for pdf in batches:
                if len(pdf):
                    lv = _assign_levels_np(meta, pdf, d, cb, L, k, level, cap, target_candidates)
                    yield pdf.assign(level=lv.astype(np.int32))

        qdf = qdf.mapInPandas(_levels, schema=f"qid long, {qschema}, level int")
    else:
        qdf = qdf.withColumn("level", F.lit(level).cast("int"))

    def _ckpt(df: DataFrame, pending, exh) -> tuple[DataFrame, int, int]:
        """Materialize a round frame in ONE job; the pending-set size and
        how many pending rows take the exhaustive branch next round ride
        along as observed metrics of that job (no separate count pass)."""
        obs = Observation()
        df = df.observe(
            obs,
            F.sum(pending.cast("long")).alias("n"),
            F.sum((pending & exh).cast("long")).alias("ne"),
        ).localCheckpoint(eager=True)
        m = obs.get
        return df, int(m["n"] or 0), int(m["ne"] or 0)

    empty_tk = F.expr(f"CAST(array() AS {_ENTRY_ARR})")
    pend, n_pend, n_exh = _ckpt(
        qdf.withColumn("r", F.lit(1).cast("long"))
        .withColumn("tk", empty_tk)
        .withColumn("cnt", F.lit(0).cast("long")),
        F.lit(True),
        _exh_cond(d),
    )

    pts_narrow, dist2 = _candidate_source(index, k, d)

    def _gen_cells(batches):
        meta = bc_meta.value
        for pdf in batches:
            if len(pdf):
                yield _resolved_cells(pdf, d, cb, L, meta)

    qside_bcast_rows = BROADCAST_BYTES // (8 * (d + 3))
    result_parts: list[DataFrame] = []
    res_pd = stats_pd = pd.DataFrame()

    for rnd in range(1, max_rounds + 1):
        if n_pend == 0:
            break
        if n_pend <= DRIVER_CELLS_MAX_QUERIES:
            # hand the small pending set to the driver rounds: ONE collect,
            # the carried top-k exploded into rows (a query with an empty
            # top-k keeps one row whose entry columns read -1; doc_id: _finish)
            flat = pend.select(
                "qid", *qcols, "level", "r", "cnt", F.explode_outer("tk").alias("e")
            ).select(
                "qid", *qcols, "level", "r", "cnt",
                *[F.coalesce(F.col(f"e.{c}"), F.lit(-1)).alias(c) for c in _ENTRY_COLS],
            ).toPandas().astype("int64")
            st = flat.drop_duplicates("qid")[["qid", *qcols, "level", "r", "cnt"]].reset_index(drop=True)
            carried = flat.loc[flat["dist2"] >= 0, ["qid", *_ENTRY_COLS]].assign(doc_id=None).reset_index(drop=True)
            res_pd, stats_pd = _knn_driver(index, st, carried, k, rnd, max_rounds)
            break

        exh = _exh_cond(d)
        branches: list[DataFrame] = []
        cnt_parts: list[DataFrame] = []  # stats-only: candidate rows per qid
        cells = None

        # --- mesh branch: shells resolved against the skeleton, joined by
        # _candidate_join; the query coordinates arrive by a qside join
        if n_exh < n_pend:
            mesh_pend = pend.where(~exh)
            cells = mesh_pend.select("qid", *qcols, "level", "r").mapInPandas(
                _gen_cells, schema="qid long, lvl int, cell long"
            ).persist()
            # ONE Arrow collect serves both the per-level shell-cell counts
            # and the leaf sets: group by (lvl, leaf-ancestor). Every
            # resolved cell's leaf ancestor is an occupied skeleton cell
            # (_resolved_cells), so the rows are at most the round's
            # distinct levels x META_MEMO_CELLS, never the shell-cell count
            # (r5 ran a second full distinct+collect over the shell table
            # every round)
            anc = F.when(F.col("lvl") < 0, F.col("cell")).otherwise(
                F.expr(f"shiftrightunsigned(cell, CAST({d} * (lvl - {L}) AS INT))")
            )
            g = cells.groupBy("lvl", anc.alias("leaf")).agg(F.count(F.lit(1)).alias("n")).toPandas()
            lvl_counts, leaves = _level_stats(*(g[c].to_numpy(np.int64) for c in ("lvl", "n", "leaf")))
            mesh_parts = _candidate_join(
                pts_narrow, lambda levels: cells.where(F.col("lvl").isin(levels)),
                lvl_counts, leaves, mnp, d, kb, L, 3, batch_rows,
            )
            if mesh_parts:
                mesh_cand = _union(mesh_parts)
                # count BEFORE the 1:1 qside attach (same cardinality per qid)
                cnt_parts.append(mesh_cand.select("qid"))
                qside = mesh_pend.select("qid", *qcols)
                if n_pend - n_exh <= qside_bcast_rows:
                    qside = F.broadcast(qside)
                branches.append(mesh_cand.join(qside, "qid"))

        # --- exhaustive branch: filtered full scan for over-mesh queries ---
        if n_exh > 0:
            exh_cand = _exhaustive_part(
                pts_narrow, pend.where(exh).select("qid", *qcols, "level", "r"), n_exh, d, cb
            )
            branches.append(exh_cand)
            cnt_parts.append(exh_cand.select("qid"))

        if branches:
            cand = _union(branches)
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
                dist2,
                "key",
                F.col("span_idx").cast("long").alias("span_idx"),
            )
            w = Window.partitionBy("qid").orderBy(*_ENTRY_COLS)
            lvl2 = (
                ecand.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") <= k)
                .groupBy("qid")
                .agg(F.collect_list(F.struct(*_ENTRY_COLS)).alias("tk_new"))
            )
            if return_stats:
                # V3 exact candidate counts: one extra NARROW hash-count
                # pass over the qid-only candidate projections (the mesh
                # side counts BEFORE its 1:1 query join; only qid crosses
                # the shuffle after map-side combine). Fused into the
                # window pass it would disable WindowGroupLimit — a worse
                # trade at every scale.
                cnts = _union(cnt_parts).groupBy("qid").agg(F.count(F.lit(1)).alias("c_new"))
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
        # the carried top-k with this shell's, then apply the exact block
        # bound kth < gap^2 (_block_gap2; nn_search.hpp:121-123). ONE eager
        # checkpoint materializes the round and observes the next pending
        # set's counts; results and that set derive from it lazily (heavy
        # join runs once; 2 driver actions/round independent of query count).
        merged = F.slice(
            F.array_sort(F.concat(F.col("tk"), F.coalesce(F.col("tk_new"), empty_tk))), 1, k
        )
        j = (
            jbase
            .withColumn("tk_m", merged)
            .withColumn("cnt_m", F.col("cnt") + F.coalesce(F.col("c_new"), F.lit(0)))
            .withColumn("kth", F.try_element_at(F.col("tk_m"), F.lit(k)).getField("dist2"))
            .withColumn("_gap", _block_gap_col(d, cb))
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
                ((F.size("tk_m") >= k) & (F.col("kth") < F.col("_gap") * F.col("_gap")))
                | (F.col("_covered") & (F.size("tk_m") > 0)),
            )
            .withColumn("_drop", F.col("_covered") & (F.size("tk_m") == 0))
        )
        still = F.expr("NOT _done AND NOT _drop")
        j, n_pend, n_exh = _ckpt(j, still, _exh_cond(d, F.col("r") * 2))

        result_parts.append(j.where("_done").select(
            "qid", F.col("tk_m").alias("tk"), F.lit(rnd).cast("int").alias("rounds"),
            F.col("cnt_m").alias("cand_rows"),
        ))
        pend = j.where("NOT _done AND NOT _drop").select(
            "qid", *qcols, "level", (F.col("r") * 2).alias("r"),
            F.col("tk_m").alias("tk"), F.col("cnt_m").alias("cnt"),
        )
        if cells is not None:
            cells.unpersist()

    return _finish(index, result_parts, res_pd, stats_pd, return_stats)


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
