r"""Range count / range report over the Z-order index.

Reference operators reproduced (SURVEY.md §2.4):
  R1 rectangle count  (query_op/range_count.hpp:8-96)
  R2 radius count     (range_count.hpp:98-131)
  R4/R5 range report  (query_op/range_query.hpp)
  + point-in-convex-polygon (north-star extension; no reference analog).

Physical plan per query batch (all JVM-side after the driver computes the
data-independent cell covers):

  covers (small, broadcast)         meta (per-cell counts)      points
      |  interior cells  \____________/                           |
      |                       per-level prefix equi-join          |
      |                       -> SUM(cnt)  [no data touched]      |
      |  boundary cells  ________________________________________/
      |                       per-level cell equi-join (broadcast)
      |                       -> exact predicate -> COUNT/rows
      +-> union -> groupBy(qid)

The interior branch is the reference's containment short-circuit
(`within_box -> return T->size`, range_count.hpp:79-80) expressed as
partition-pruned metadata aggregation; the boundary branch touches only
perimeter cells. Covers are disjoint per qid, so the union never double
counts.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import EngineConfig
from .index import (
    BallRegion,
    BoxRegion,
    ConvexPolygonRegion,
    SpatialIndex,
    cover_regions,
    interior_counts_np,
    leaf_scan_pred,
    resolve_covers_np,
)

__all__ = [
    "box_queries_df",
    "ball_queries_df",
    "range_count_boxes",
    "range_count_balls",
    "range_report_boxes",
    "range_report_balls",
    "range_count_polygons",
    "range_report_polygons",
    "range_cover_stats",
]


# ---------------------------------------------------------------------------
# query-set plumbing
# ---------------------------------------------------------------------------

def box_queries_df(spark: SparkSession, boxes: pd.DataFrame) -> DataFrame:
    """boxes: pandas with columns qid, lo0..lo{d-1}, hi0..hi{d-1} (int64)."""
    return spark.createDataFrame(boxes)


def ball_queries_df(spark: SparkSession, balls: pd.DataFrame) -> DataFrame:
    """balls: pandas with columns qid, c0..c{d-1}, r2 (int64)."""
    return spark.createDataFrame(balls)


DISTRIBUTED_COVER_THRESHOLD = 4000
# resolved (qid, leaf, interior) rows are ~24B: 5M rows ≈ 120MB broadcast
RESOLVED_BCAST_ROWS = 5_000_000


def _budget(cfg: EngineConfig, budget: int | None) -> int:
    """Default cover budget, dims-aware: at d=3 a split yields 8 children,
    so the 512-cell budget stopped the descent ~2 levels early and left
    only 32/146 cells interior (SCALING_38M_D3_r6: range-count eff 0.33 —
    the boundary branch dominated with too little work per query to
    parallelize). 4096 cells at d=3 restores the interior share; covers
    are generated by the vectorized descent, so the bigger frontier is
    driver-cheap. d=2 keeps 512; d>=5 grids are too shallow for the
    budget to bind meaningfully."""
    if budget is not None:
        return budget
    return 4096 if cfg.dims == 3 else 512


def _covers_distributed(spark, qpd: pd.DataFrame, kind: str, cfg, budget: int) -> DataFrame:
    """Compute cell covers INSIDE executors (mapInPandas over the query set)
    and keep them there: the result is a DataFrame that feeds the cell
    joins directly — covers are NEVER collected to the driver (10^7 queries
    x up-to-512 cells would not fit). The cover is data-independent and
    embarrassingly parallel per query; driver-side stays fine for hundreds
    of queries (the pandas branch below)."""
    d = cfg.dims

    def gen(batches):
        from pkd_tree_spark.index import BallRegion, BoxRegion, cover_regions

        for pdf in batches:
            if len(pdf) == 0:
                continue
            if kind == "box":
                regions = [
                    (int(r.qid), BoxRegion([getattr(r, f"lo{j}") for j in range(d)],
                                           [getattr(r, f"hi{j}") for j in range(d)]))
                    for r in pdf.itertuples()
                ]
            else:
                regions = [
                    (int(r.qid), BallRegion([getattr(r, f"c{j}") for j in range(d)], int(r.r2)))
                    for r in pdf.itertuples()
                ]
            yield cover_regions(regions, cfg, budget)

    qdf = spark.createDataFrame(qpd).repartition(cfg.partitions)
    # eager localCheckpoint: computed once, reused by every per-level branch
    # without re-running the cover generation (and no persist leak)
    return qdf.mapInPandas(gen, schema="qid long, level int, cell long, interior boolean").localCheckpoint(
        eager=True
    )


def _covers_for_boxes(spark, boxes: pd.DataFrame, cfg, budget: int):
    if len(boxes) > DISTRIBUTED_COVER_THRESHOLD:
        return _covers_distributed(spark, boxes, "box", cfg, budget)
    return cover_regions(_box_regions(boxes, cfg.dims), cfg, budget)


def _covers_for_balls(spark, balls: pd.DataFrame, cfg, budget: int):
    if len(balls) > DISTRIBUTED_COVER_THRESHOLD:
        return _covers_distributed(spark, balls, "ball", cfg, budget)
    return cover_regions(_ball_regions(balls, cfg.dims), cfg, budget)


def _cover_levels(covers) -> list[int]:
    """Distinct cover levels — from the pandas frame directly, or one tiny
    distinct-collect (<= index_level+1 rows, independent of query count)."""
    if isinstance(covers, pd.DataFrame):
        return sorted(int(v) for v in covers["level"].unique())
    return sorted(r["level"] for r in covers.select("level").distinct().collect())


def _cover_slice(spark, covers, interior: bool | None):
    """All cover cells (qid, lvl, c, interior) as ONE DataFrame, or None if
    provably empty. pandas covers (small) come back broadcast-hinted;
    DataFrame covers are left unhinted — the cell join shuffles and AQE
    picks the strategy (the large-batch path)."""
    if isinstance(covers, pd.DataFrame):
        sel = covers
        if interior is not None:
            sel = sel[sel.interior] if interior else sel[~sel.interior]
        if sel.empty:
            return None
        df = spark.createDataFrame(sel[["qid", "level", "cell", "interior"]])
        return F.broadcast(
            df.select("qid", F.col("level").alias("lvl"), F.col("cell").alias("c"), "interior")
        )
    sel = covers
    if interior is not None:
        sel = sel.where(F.col("interior") == interior)
    return sel.select("qid", F.col("level").alias("lvl"), F.col("cell").alias("c"), "interior")


def _box_regions(boxes: pd.DataFrame, d: int):
    return [
        (int(r.qid), BoxRegion([getattr(r, f"lo{j}") for j in range(d)], [getattr(r, f"hi{j}") for j in range(d)]))
        for r in boxes.itertuples()
    ]


def _ball_regions(balls: pd.DataFrame, d: int):
    return [
        (int(r.qid), BallRegion([getattr(r, f"c{j}") for j in range(d)], int(r.r2)))
        for r in balls.itertuples()
    ]


def _and_all(preds: list[Column]) -> Column:
    out = preds[0]
    for p in preds[1:]:
        out = out & p
    return out


def _ball_pred(d: int) -> Column:
    dist2 = None
    for j in range(d):
        t = (F.col(f"x{j}") - F.col(f"c{j}")) * (F.col(f"x{j}") - F.col(f"c{j}"))
        dist2 = t if dist2 is None else dist2 + t
    return dist2 <= F.col("r2")


def _polygon_pred() -> Column:
    """Point (x0,x1) inside CCW convex polygon (vx, vy arrays), d=2.

    Higher-order function (F.forall) — stays JVM-side, no Python in the
    row path. Cross products are exact int64 (coords < 2^20).
    """
    n = F.size("vx")

    def edge_ok(i: Column) -> Column:
        j = (i + F.lit(1)) % n
        ex = F.element_at("vx", j + 1) - F.element_at("vx", i + 1)
        ey = F.element_at("vy", j + 1) - F.element_at("vy", i + 1)
        px = F.col("x0") - F.element_at("vx", i + 1)
        py = F.col("x1") - F.element_at("vy", i + 1)
        return (ex * py - ey * px) >= 0

    return F.forall(F.sequence(F.lit(0), n - 1), edge_ok)


# ---------------------------------------------------------------------------
# core two-branch plan
# ---------------------------------------------------------------------------

def _with_lvl_cell(df: DataFrame, src_col: str, levels: list[int], d: int, top_bits_level: int) -> DataFrame:
    """Append (lvl, c): ``src_col``'s ancestor cell at each cover level —
    ONE explode instead of one scan per level. Applied ONLY to the small
    metadata table (leaf resolution): r3 exploded the full POINTS table
    over every distinct cover level, multiplying the 38.4M-row scan by
    6-8x and inverting 4->16-core scaling (alloc/bandwidth-bound generate);
    the points side now derives ONE leaf column and equi-joins resolved
    covers (see _boundary_candidates). ``top_bits_level`` is the level
    src_col itself is encoded at."""
    return df.select(
        "*", F.explode(F.array(*[F.lit(int(l)).cast("int") for l in levels])).alias("lvl")
    ).withColumn(
        "c", F.expr(f"shiftrightunsigned({src_col}, CAST({d} * ({int(top_bits_level)} - lvl) AS INT))")
    )


def _interior_counts(index: SpatialIndex, covers) -> DataFrame | None:
    """SUM per-cell metadata counts for fully-contained cover cells —
    answers without touching point rows (range_count.hpp:79-80 analog).
    ``covers`` is pandas (small batch) or a DataFrame (large batch).

    Small batches with a memoized meta skip Spark entirely: the interior
    branch is two searchsorteds over the driver-resident prefix sums
    (interior_counts_np) — zero jobs, zero shuffles. The general path is
    ONE join of the meta exploded over the interior cover levels."""
    spark = index.points.sparkSession
    d, L = index.cfg.dims, index.cfg.index_level
    if isinstance(covers, pd.DataFrame):
        mnp = index.meta_np()
        if mnp is not None:
            sel = covers[covers.interior]
            if sel.empty:
                return None
            pdf = interior_counts_np(mnp, sel, d, L)
            if pdf.empty:
                return None
            return spark.createDataFrame(pdf)
    cdf = _cover_slice(spark, covers, interior=True)
    if cdf is None:
        return None
    levels = _slice_levels(covers, cdf)
    m = _with_lvl_cell(index.meta.select("cell", "cnt"), "cell", levels, d, L).select("lvl", "c", "cnt")
    if not isinstance(covers, pd.DataFrame) and index.meta_n_cells() * max(1, len(levels)) <= RESOLVED_BCAST_ROWS:
        m = F.broadcast(m)  # covers may be huge; meta side gated by rows
    return m.join(cdf, ["lvl", "c"]).groupBy("qid").agg(F.sum("cnt").alias("cnt"))


def _slice_levels(covers, cdf) -> list[int]:
    """Distinct levels present in a cover SLICE (not the whole cover set —
    r3 exploded the points over interior-only levels too, multiplying the
    boundary scan for nothing)."""
    if isinstance(covers, pd.DataFrame):
        return _cover_levels(covers)
    return sorted(r["lvl"] for r in cdf.select("lvl").distinct().collect())


def _boundary_candidates(
    index: SpatialIndex, covers, interior_too: bool = False, cols: list[str] | None = None
) -> DataFrame | None:
    """Point rows inside cover cells, tagged with qid.

    Plan: cover cells are first RESOLVED to the occupied level-L leaf
    cells beneath them (driver-side numpy against the memoized meta for
    small batches; a meta-side explode join for huge query sets), then the
    points table — scanned ONCE, pre-filtered by the resolved leaves'
    Morton intervals when they exclude most rows (``leaf_scan_pred``),
    with ONE derived leaf column and NO generate — equi-joins the resolved
    (qid, leaf) pairs.
    r3 instead exploded all points over every distinct cover level
    (n x 6-8 generated rows at 38.4M: 35->38s NEGATIVE 4->16-core
    scaling); the resolved join scans n rows exactly once.

    Resolution is occupancy-bounded: a cover cell resolves to at most the
    occupied leaves beneath it (<= points beneath it), so the broadcast
    side stays small for bench-scale query sets and shuffles for huge
    ones. ``cols`` narrows the point columns carried through the hot join
    — counts pass the coordinate columns only."""
    spark = index.points.sparkSession
    cfg = index.cfg
    d, gb, L = cfg.dims, cfg.grid_bits, cfg.index_level
    shift = d * (gb - L)
    base = list(cols) if cols is not None else [c for c in index.points.columns if c != "morton"]

    if isinstance(covers, pd.DataFrame):
        mnp = index.meta_np()
        if mnp is not None:
            sel = covers if interior_too else covers[~covers.interior]
            if sel.empty:
                return None
            res = resolve_covers_np(mnp, sel, d, L)
            if res.empty:
                return None
            if len(res) <= RESOLVED_BCAST_ROWS:
                rdf = F.broadcast(spark.createDataFrame(res))
                pts = index.points.select(*base, "morton")
                pred = leaf_scan_pred(mnp, res["leaf"].to_numpy(), shift)
                if pred is not None:
                    pts = pts.where(pred)
                pts = pts.withColumn("pleaf", F.shiftrightunsigned("morton", shift))
                return pts.join(rdf, F.col("pleaf") == F.col("leaf")).drop("pleaf", "leaf", "morton")
            # region-spanning covers can resolve to ~n_queries x occupied
            # leaves — too big for a driver frame + unconditional broadcast
            # (OOM risk); fall through to the Spark-side resolution below,
            # which measures the resolved side before hinting (same gate)

    # general path: meta-side resolution join (huge query sets, or a meta
    # too large to memoize) — the points side is still ONE scan + equi-join
    cdf = _cover_slice(spark, covers, interior=None if interior_too else False)
    if cdf is None:
        return None
    levels = _slice_levels(covers, cdf)
    m = _with_lvl_cell(index.meta.select("cell"), "cell", levels, d, L).select(
        "lvl", "c", F.col("cell").alias("leaf")
    )
    # meta-side broadcast gated on rows (meta x levels): a meta past the
    # driver memo can reach 10^7+ exploded rows — broadcasting it is the
    # OOM-shaped mistake, and the two sides are then best left to a
    # shuffled join (both are far smaller than the points table)
    if index.meta_n_cells() * max(1, len(levels)) <= RESOLVED_BCAST_ROWS:
        m = F.broadcast(m)
    resolved = cdf.join(m, ["lvl", "c"]).select("qid", "leaf", "interior")
    # the resolved side is usually a few MB but can exceed AQE's broadcast
    # threshold (10k-box batches resolve to ~10^6 rows), which would fall
    # back to SHUFFLING the full points table on the leaf key — measure it
    # (cheap: covers x meta) and hint the broadcast explicitly when it fits
    resolved = resolved.localCheckpoint(eager=True)
    if resolved.count() <= RESOLVED_BCAST_ROWS:
        resolved = F.broadcast(resolved)
    pts = index.points.select(*base, F.shiftrightunsigned("morton", shift).alias("pleaf"))
    return pts.join(resolved, F.col("pleaf") == F.col("leaf")).drop("pleaf", "leaf")


def _finalize_counts(queries_df: DataFrame, branches: list[DataFrame | None], small: bool) -> DataFrame:
    live = [b for b in branches if b is not None]
    if not live:
        return queries_df.select("qid", F.lit(0).cast("long").alias("cnt"))
    u = live[0]
    for b in live[1:]:
        u = u.unionByName(b)
    agg = u.groupBy("qid").agg(F.sum("cnt").alias("cnt"))
    if small:
        agg = F.broadcast(agg)  # agg is <= one row per query
    return (
        queries_df.select("qid")
        .join(agg, "qid", "left")
        .select("qid", F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("cnt"))
    )


def _count_plan(index: SpatialIndex, queries_df: DataFrame, covers, exact_pred: Column, small: bool = True) -> DataFrame:
    interior = _interior_counts(index, covers)
    cand = _boundary_candidates(
        index, covers, cols=[f"x{j}" for j in range(index.cfg.dims)]
    )
    boundary = None
    if cand is not None:
        q = F.broadcast(queries_df) if small else queries_df
        boundary = (
            cand.join(q, "qid")
            .where(exact_pred)
            .groupBy("qid")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
    return _finalize_counts(queries_df, [interior, boundary], small)


def range_cover_stats(index: SpatialIndex, boxes: pd.DataFrame, budget: int | None = None) -> dict:
    """V3 introspection (validation.hpp:72-124 analog) for range queries:
    cells touched per query and the interior (metadata-answered, zero rows
    scanned) share — the distributed analog of nodes-visited counters.
    Works for both cover representations without collecting large covers."""
    spark = index.points.sparkSession
    covers = _covers_for_boxes(spark, boxes, index.cfg, _budget(index.cfg, budget))
    if isinstance(covers, pd.DataFrame):
        g = covers.groupby("qid").agg(cells=("cell", "size"), inter=("interior", "sum"))
        return {
            "n_queries": int(len(g)),
            "avg_cells_per_query": round(float(g.cells.mean()), 2),
            "avg_interior_cells": round(float(g.inter.mean()), 2),
        }
    agg = covers.groupBy("qid").agg(
        F.count(F.lit(1)).alias("cells"), F.sum(F.col("interior").cast("long")).alias("inter")
    )
    r = agg.agg(F.avg("cells").alias("c"), F.avg("inter").alias("i"), F.count(F.lit(1)).alias("n")).collect()[0]
    return {
        "n_queries": int(r["n"]),
        "avg_cells_per_query": round(float(r["c"]), 2),
        "avg_interior_cells": round(float(r["i"]), 2),
    }


# ---------------------------------------------------------------------------
# public operators
# ---------------------------------------------------------------------------

def range_count_boxes(index: SpatialIndex, boxes: pd.DataFrame, budget: int | None = None) -> DataFrame:
    """(qid, cnt) — rectangle range count (R1)."""
    spark = index.points.sparkSession
    d = index.cfg.dims
    covers = _covers_for_boxes(spark, boxes, index.cfg, _budget(index.cfg, budget))
    qdf = box_queries_df(spark, boxes)
    return _count_plan(index, qdf, covers, _and_all(
        [F.col(f"x{j}").between(F.col(f"lo{j}"), F.col(f"hi{j}")) for j in range(d)]
    ), small=len(boxes) <= DISTRIBUTED_COVER_THRESHOLD)


def range_count_balls(index: SpatialIndex, balls: pd.DataFrame, budget: int | None = None) -> DataFrame:
    """(qid, cnt) — radius range count (R2); exact squared-int arithmetic."""
    spark = index.points.sparkSession
    d = index.cfg.dims
    covers = _covers_for_balls(spark, balls, index.cfg, _budget(index.cfg, budget))
    qdf = ball_queries_df(spark, balls)
    return _count_plan(index, qdf, covers, _ball_pred(d),
                       small=len(balls) <= DISTRIBUTED_COVER_THRESHOLD)


def range_report_boxes(index: SpatialIndex, boxes: pd.DataFrame, budget: int = 512) -> DataFrame:
    """(qid, doc_id, span_idx, key, x0..) — rectangle range report (R4/R5).

    Interior-cell rows skip the predicate entirely (the bulk-flatten path,
    range_query.hpp:99-102); boundary rows get the exact filter.
    """
    spark = index.points.sparkSession
    d = index.cfg.dims
    covers = _covers_for_boxes(spark, boxes, index.cfg, budget)  # same dispatch as counts
    cand = _boundary_candidates(index, covers, interior_too=True)
    cols = ["qid", "doc_id", "span_idx", "key"] + [f"x{j}" for j in range(d)]
    if cand is None:
        return spark.createDataFrame([], schema="qid long, doc_id string, span_idx int, key long, "
                                      + ", ".join(f"x{j} long" for j in range(d)))
    small = len(boxes) <= DISTRIBUTED_COVER_THRESHOLD
    qdf = box_queries_df(spark, boxes)
    pred = _and_all([F.col(f"x{j}").between(F.col(f"lo{j}"), F.col(f"hi{j}")) for j in range(d)])
    return (
        cand.join(F.broadcast(qdf) if small else qdf, "qid")
        .where(F.col("interior") | pred)
        .select(*cols)
    )


def range_report_balls(index: SpatialIndex, balls: pd.DataFrame, budget: int = 512) -> DataFrame:
    """(qid, doc_id, span_idx, key, x0..) — radius range report (R2/R4
    combination: ball predicate, report semantics). Interior cells skip the
    predicate; exact int dist^2 filter on boundary cells."""
    spark = index.points.sparkSession
    d = index.cfg.dims
    covers = _covers_for_balls(spark, balls, index.cfg, budget)
    cand = _boundary_candidates(index, covers, interior_too=True)
    cols = ["qid", "doc_id", "span_idx", "key"] + [f"x{j}" for j in range(d)]
    if cand is None:
        return spark.createDataFrame([], schema="qid long, doc_id string, span_idx int, key long, "
                                      + ", ".join(f"x{j} long" for j in range(d)))
    small = len(balls) <= DISTRIBUTED_COVER_THRESHOLD
    qdf = ball_queries_df(spark, balls)
    return (
        cand.join(F.broadcast(qdf) if small else qdf, "qid")
        .where(F.col("interior") | _ball_pred(d))
        .select(*cols)
    )


def range_count_polygons(index: SpatialIndex, polys: pd.DataFrame, budget: int = 512) -> DataFrame:
    """(qid, cnt) — point-in-convex-polygon count, d=2.

    polys: pandas with columns qid, vx (list[int]), vy (list[int]), CCW.
    """
    spark = index.points.sparkSession
    assert index.cfg.dims == 2, "polygon queries are 2-D"
    regions = [
        (int(r.qid), ConvexPolygonRegion(np.stack([np.asarray(r.vx), np.asarray(r.vy)], axis=1)))
        for r in polys.itertuples()
    ]
    covers = cover_regions(regions, index.cfg, budget)
    qdf = spark.createDataFrame(polys)
    return _count_plan(index, qdf, covers, _polygon_pred())


def range_report_polygons(index: SpatialIndex, polys: pd.DataFrame, budget: int = 512) -> DataFrame:
    """(qid, doc_id, span_idx, key, x0, x1) — convex-polygon range report
    (R4 semantics over the polygon predicate; interior cover cells skip the
    exact test, boundary cells evaluate the JVM-side edge-cross forall)."""
    spark = index.points.sparkSession
    assert index.cfg.dims == 2, "polygon queries are 2-D"
    regions = [
        (int(r.qid), ConvexPolygonRegion(np.stack([np.asarray(r.vx), np.asarray(r.vy)], axis=1)))
        for r in polys.itertuples()
    ]
    covers = cover_regions(regions, index.cfg, budget)
    cand = _boundary_candidates(index, covers, interior_too=True)
    if cand is None:
        return spark.createDataFrame([], schema="qid long, doc_id string, span_idx int, key long, x0 long, x1 long")
    qdf = spark.createDataFrame(polys)
    return (
        cand.join(F.broadcast(qdf), "qid")
        .where(F.col("interior") | _polygon_pred())
        .select("qid", "doc_id", "span_idx", "key", "x0", "x1")
    )
