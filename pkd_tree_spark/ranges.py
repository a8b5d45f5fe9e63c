r"""Range count / range report over the Z-order index.

Reference operators reproduced (SURVEY.md §2.4):
  R1 rectangle count  (query_op/range_count.hpp:8-96)
  R2 radius count     (range_count.hpp:98-131)
  R4/R5 range report  (query_op/range_query.hpp)
  + point-in-convex-polygon (north-star extension; no reference analog).

Box, ball and convex polygon differ only in their region class (the cover
classifier, index.py) and their exact row predicate; one count plan and
one report plan serve all three. Per query batch:

  query frame --(cover_regions: data-independent cell cover per query)
      |   cells (qid, level, cell, interior), disjoint per qid
      |
      +-- resolve against the skeleton (SpatialIndex.meta_np):
      |     interior cells -> SUM of per-cell counts      [no row touched]
      |     boundary cells -> occupied leaves (qid, leaf, interior, region)
      |
      +-- points (ONE scan of x0.., morton, Morton pre-filter when it pays)
            +-- driver-resolved count, small: the index's driver-side rows
            |     if a kNN round collected them (no job), else collected
            |     once; each resolved leaf's rows by searchsorted on the
            |     Morton-sorted rows, numpy twin of the exact predicate,
            |     bincount per qid
            +-- otherwise: one derived leaf column == resolved leaves
                  [one join, broadcast if it fits] -> exact predicate
                  -> COUNT per qid / rows
  count: interior sums + the boundary counts, added per qid on the driver
  (covers are disjoint per qid: nothing double counts); report:
  interior-cell rows skip the predicate (range_query.hpp:99-102).

The driver-finished count is the reference's boundary-leaf point test
(range_count.hpp:77-96) on the driver: it runs one Spark job (the scan)
instead of four (a broadcast of the resolved rows, the join stages, the
qid aggregate), and none on an index that holds its rows on the driver
(SpatialIndex.local_rows, which only a kNN round collects: a count that
collected them would make the first reader of a generation pay for the
wider collect). It is taken only while the rows the scan returns plus
the (row, query) pairs it tests, both exact from the skeleton's prefix
sums before any job, stay within index.DRIVER_FINISH_MAX_ROWS.

The interior branch is the reference's containment short-circuit
(`within_box -> return T->size`, range_count.hpp:79-80). As there, a
count returns numbers: the count operators run their query when called
and return a local (qid, cnt) frame. Reports stay lazy.

Where resolution runs (`_resolve`, the one place that decides): batches
of at most DISTRIBUTED_COVER_THRESHOLD queries whose resolved rows fit
RESOLVED_BCAST_BYTES resolve on the driver — zero Spark jobs before the
one query or scan. Every other batch takes one mapInPandas pass over the
query frame that computes covers, interior sums and resolved leaves
inside the executors against a broadcast of the skeleton (covers are
never collected). The skeleton always exists: EngineConfig bounds it at
META_MEMO_CELLS cells. A repeated qid would multiply covers and join
rows, so every operator rejects it.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import index as I
from .config import EngineConfig
from .index import (
    BallRegion,
    BoxRegion,
    ConvexPolygonRegion,
    SpatialIndex,
    _Region,
    cover_regions,
    interior_counts_np,
    leaf_rows,
    leaf_scan,
    morton_runs,
    resolve_covers_np,
)

__all__ = [
    "range_count_boxes",
    "range_count_balls",
    "range_report_boxes",
    "range_report_balls",
    "range_count_polygons",
    "range_report_polygons",
    "range_cover_stats",
]

# query batches above this size compute and resolve their covers in the
# executors instead of on the driver
DISTRIBUTED_COVER_THRESHOLD = 4000
# broadcast budget of the resolved relation: bare (qid, leaf, interior)
# rows are ~24B (5M rows), the region columns each row carries widen them
RESOLVED_BCAST_BYTES = 120_000_000
# (row, query) pairs tested per numpy pass of a driver-finished count
PAIR_CHUNK = 1 << 20

_RESOLVED_SCHEMA = "qid long, leaf long, interior boolean, cnt long"


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


# ---------------------------------------------------------------------------
# region kinds: query frame -> regions, exact row predicate
# ---------------------------------------------------------------------------

def _regions(kind: str, q: pd.DataFrame, d: int) -> list:
    """(qid, Region) per row of a query frame: boxes carry lo0..hi{d-1},
    balls c0..c{d-1} and r2, polygons CCW vertex lists vx, vy (d=2)."""
    qid = q["qid"].tolist()
    if kind == "box":
        lo = q[[f"lo{j}" for j in range(d)]].to_numpy(dtype="int64")
        hi = q[[f"hi{j}" for j in range(d)]].to_numpy(dtype="int64")
        return [(i, BoxRegion(a, b)) for i, a, b in zip(qid, lo, hi)]
    if kind == "ball":
        c = q[[f"c{j}" for j in range(d)]].to_numpy(dtype="int64")
        return [(i, BallRegion(a, r2)) for i, a, r2 in zip(qid, c, q["r2"].tolist())]
    return [
        (i, ConvexPolygonRegion(list(zip(vx, vy)))) for i, vx, vy in zip(qid, q["vx"], q["vy"])
    ]


def _exact_pred(kind: str, d: int) -> Column:
    x = [F.col(f"x{j}") for j in range(d)]
    if kind == "box":
        out = x[0].between(F.col("lo0"), F.col("hi0"))
        for j in range(1, d):
            out = out & x[j].between(F.col(f"lo{j}"), F.col(f"hi{j}"))
        return out
    if kind == "ball":  # exact squared-int arithmetic
        dist2 = (x[0] - F.col("c0")) * (x[0] - F.col("c0"))
        for j in range(1, d):
            dist2 = dist2 + (x[j] - F.col(f"c{j}")) * (x[j] - F.col(f"c{j}"))
        return dist2 <= F.col("r2")
    # point inside the CCW convex polygon (vx, vy arrays): a higher-order
    # function (F.forall) stays JVM-side, no Python in the row path; the
    # cross products are exact int64 (coords < 2^20)
    n = F.size("vx")

    def edge_ok(i: Column) -> Column:
        j = (i + F.lit(1)) % n
        ex = F.element_at("vx", j + 1) - F.element_at("vx", i + 1)
        ey = F.element_at("vy", j + 1) - F.element_at("vy", i + 1)
        px = x[0] - F.element_at("vx", i + 1)
        py = x[1] - F.element_at("vy", i + 1)
        return (ex * py - ey * px) >= 0

    return F.forall(F.sequence(F.lit(0), n - 1), edge_ok)


# ---------------------------------------------------------------------------
# cover resolution: driver or executors, decided in _resolve
# ---------------------------------------------------------------------------

def _executor_pass(index: SpatialIndex, kind: str, qdf: DataFrame, budget: int, fn, schema: str,
                   meta: dict | None = None) -> DataFrame:
    """``fn(batch, covers, meta)`` over every batch of the query frame
    inside mapInPandas: covers are computed in the executors and never
    collected. The skeleton ships once as a broadcast; the output is
    checkpointed, so the broadcast is destroyed before this returns."""
    spark = index.points.sparkSession
    cfg = index.cfg
    bc = spark.sparkContext.broadcast(meta) if meta is not None else None

    def gen(batches):
        m = bc.value if bc is not None else None
        for pdf in batches:
            if len(pdf):
                yield fn(pdf, cover_regions(_regions(kind, pdf, cfg.dims), cfg, budget), m)

    try:
        return qdf.mapInPandas(gen, schema=schema).localCheckpoint(eager=True)
    finally:
        if bc is not None:
            bc.destroy()


def _resolve_batch(q: pd.DataFrame, cov: pd.DataFrame, meta: dict, d: int, L: int, count: bool) -> pd.DataFrame:
    """One executor batch resolved against the skeleton: (qid, leaf,
    interior, cnt) plus the batch's region columns. A count's interior
    cells arrive pre-summed, one row per qid with leaf -1; every resolved
    leaf row carries cnt 0."""
    res = resolve_covers_np(meta, cov[~cov.interior] if count else cov, d, L).assign(cnt=0)
    if count:
        inter = interior_counts_np(meta, cov[cov.interior], d, L).assign(leaf=-1, interior=True)
        res = pd.concat([res, inter[res.columns]], ignore_index=True)
    return res.merge(q, on="qid")


def _region_cols(kind: str, d: int) -> list[str]:
    """The query columns a region is made of: those _exact_pred reads."""
    if kind == "box":
        return [f"{b}{j}" for b in ("lo", "hi") for j in range(d)]
    return [f"c{j}" for j in range(d)] + ["r2"] if kind == "ball" else ["vx", "vy"]


def _resolve(index: SpatialIndex, kind: str, q: pd.DataFrame, budget: int | None, count: bool):
    """(interior sums (qid, cnt) | None, resolved rows | None) for a batch:
    a count resolves only its boundary cells, a report every cover cell.
    Rows resolved on the driver are a pandas (qid, leaf, interior) frame;
    the executors' are a DataFrame that also carries the region columns."""
    cfg = index.cfg
    if kind == "polygon" and cfg.dims != 2:
        raise ValueError("polygon queries are 2-D")
    if q["qid"].duplicated().any():
        raise ValueError(f"query frame repeats qids: {q['qid'][q['qid'].duplicated()].unique()[:10].tolist()}")
    if q.empty:
        return None, None
    spark = index.points.sparkSession
    d, L = cfg.dims, cfg.index_level
    budget = _budget(cfg, budget)
    mnp = index.meta_np()
    q = q[["qid", *_region_cols(kind, d)]]
    # 8B per qid, leaf, interior and region value (a polygon's longest list)
    vals = 2 * q["vx"].map(len).max() if kind == "polygon" else len(q.columns) - 1
    bcast_rows = RESOLVED_BCAST_BYTES // (8 * (3 + int(vals)))
    if len(q) <= DISTRIBUTED_COVER_THRESHOLD:
        cov = cover_regions(_regions(kind, q, d), cfg, budget)
        res = resolve_covers_np(mnp, cov[~cov.interior] if count else cov, d, L, bcast_rows)
        if res is not None:
            inter = interior_counts_np(mnp, cov[cov.interior], d, L) if count else None
            return inter, None if res.empty else res
        # region-spanning covers can resolve to ~n_queries x occupied leaves:
        # too big for a driver frame and a broadcast, so the executors
        # resolve them and the gate below measures the result
    qdf = spark.createDataFrame(q)
    schema = _RESOLVED_SCHEMA + "".join(f", {f.name} {f.dataType.simpleString()}" for f in qdf.schema.fields[1:])
    out = _executor_pass(index, kind, qdf, budget, partial(_resolve_batch, d=d, L=L, count=count), schema, mnp)
    res = (out.where(~F.col("interior")) if count else out).drop("cnt")
    # the resolved side is usually a few MB but can exceed AQE's broadcast
    # threshold (10k-box batches resolve to ~10^6 rows), which would fall
    # back to SHUFFLING the full points table on the leaf key — measure it
    # (a scan of the checkpoint) and hint the broadcast explicitly when it fits
    n_res = res.count()
    if n_res <= bcast_rows:
        res = F.broadcast(res)
    return out.where(F.col("interior")).select("qid", "cnt").toPandas() if count else None, res if n_res else None


# ---------------------------------------------------------------------------
# the boundary scan, finished in one join or on the driver
# ---------------------------------------------------------------------------

def _leaf_scan(index: SpatialIndex, res) -> tuple[Column | None, int]:
    """The boundary scan's ``morton`` pre-filter (None: the whole table,
    always so for executor-resolved rows) and the exact number of rows it
    returns (``leaf_scan``)."""
    if not isinstance(res, pd.DataFrame):
        return None, int(index.meta_np()["cum"][-1])
    cfg = index.cfg
    shift = cfg.dims * (cfg.grid_bits - cfg.index_level)
    return leaf_scan(index.meta_np(), res["leaf"].to_numpy(), shift, index.scan_batch_rows())


def _scan(index: SpatialIndex, pred: Column | None, cols: list[str]) -> DataFrame:
    """The points' ``cols`` and ``morton`` in ONE scan, filtered by ``pred``."""
    pts = index.points.select(*cols, "morton")
    return pts if pred is None else pts.where(pred)


def _join(index: SpatialIndex, kind: str, q: pd.DataFrame, res, pts: DataFrame) -> DataFrame:
    """Scanned rows tagged with qid, interior and the query's region
    columns: the plan's only join, on ONE derived leaf column (NO generate),
    against the resolved rows (broadcast when resolved on the driver)."""
    cfg = index.cfg
    if isinstance(res, pd.DataFrame):
        region = q[["qid", *_region_cols(kind, cfg.dims)]]
        res = F.broadcast(index.points.sparkSession.createDataFrame(res.merge(region, on="qid")))
    pts = pts.withColumn("pleaf", F.shiftrightunsigned("morton", cfg.dims * (cfg.grid_bits - cfg.index_level)))
    return pts.join(res, F.col("pleaf") == F.col("leaf")).drop("pleaf", "leaf", "morton")


def _plan(index: SpatialIndex, kind: str, q: pd.DataFrame, budget: int | None, count: bool):
    """(interior sums (qid, cnt) on the driver | None, candidate point rows
    tagged with qid, interior and the query's region columns | None); a
    count carries only the coordinates through the join."""
    inter, res = _resolve(index, kind, q, budget, count)
    if res is None:
        return inter, None
    d = index.cfg.dims
    cols = [f"x{j}" for j in range(d)] if count else [c for c in index.points.columns if c != "morton"]
    return inter, _join(index, kind, q, res, _scan(index, _leaf_scan(index, res)[0], cols))


def _inside_np(kind: str, q: pd.DataFrame, qsel: np.ndarray, x: np.ndarray) -> np.ndarray:
    """_exact_pred's numpy twin: whether point ``x[i]`` (int64, (m, d)) lies
    in the region of query row ``qsel[i]`` of ``q``. A region's ``classify``
    of the degenerate cell lo = hi = point is CONTAINED exactly then."""
    regions = [r for _, r in _regions(kind, q, x.shape[1])]
    cls = type(regions[0])
    params = cls.params(regions)
    out = np.zeros(len(qsel), dtype=bool)
    for a in range(0, len(qsel), PAIR_CHUNK):  # bounded temporaries (a polygon's are (m, 4) per edge)
        p = x[a:a + PAIR_CHUNK]
        out[a:a + PAIR_CHUNK] = cls.classify(params, qsel[a:a + PAIR_CHUNK], p, p) == _Region.CONTAINED
    return out


def _boundary_counts_np(index: SpatialIndex, kind: str, q: pd.DataFrame, res: pd.DataFrame,
                        pts: pd.DataFrame) -> pd.DataFrame:
    """(qid, cnt) of the scanned rows ``pts`` (x0.., morton) inside each
    query's region, over its resolved boundary leaves ``res`` (qid, leaf):
    each leaf's rows are one Morton run (index.morton_runs)."""
    cfg = index.cfg
    x = pts[[f"x{j}" for j in range(cfg.dims)]].to_numpy(np.int64)
    shift = cfg.dims * (cfg.grid_bits - cfg.index_level)
    idx, n = morton_runs(pts["morton"].to_numpy(np.int64), res["leaf"].to_numpy(np.int64), shift)
    qsel = np.repeat(pd.Index(q["qid"]).get_indexer(res["qid"]), n)
    hit = _inside_np(kind, q, qsel, x[idx])
    return pd.DataFrame({"qid": q["qid"].to_numpy(np.int64), "cnt": np.bincount(qsel[hit], minlength=len(q))})


def _count(index: SpatialIndex, kind: str, q: pd.DataFrame, budget: int | None) -> DataFrame:
    """(qid, cnt) for every row of q: interior sums plus exact boundary
    counts, added on the driver. Runs now and returns a local frame.

    A driver-resolved batch finishes its boundary on the driver while the
    scanned rows plus the (row, query) pairs to test, both exact from the
    prefix sums before any job, stay within index.DRIVER_FINISH_MAX_ROWS:
    from the index's driver-side rows (SpatialIndex.local_rows) when a kNN
    round has collected them, with no Spark job, else from ONE collected
    scan. A count never collects those rows itself: the first reader of a
    generation would pay for the wider collect. Otherwise its boundary
    runs as one Spark query (the leaf join, the exact predicate, a qid
    count)."""
    inter, res = _resolve(index, kind, q, budget, count=True)
    parts = [] if inter is None else [inter]
    if res is not None:
        xcols = [f"x{j}" for j in range(index.cfg.dims)]
        pred, rows = _leaf_scan(index, res)
        # the (row, query) pairs tested: each resolved leaf's rows, once per query
        if isinstance(res, pd.DataFrame) and (
            rows + leaf_rows(index.meta_np(), res["leaf"].to_numpy()) <= I.DRIVER_FINISH_MAX_ROWS
        ):
            local = index._rows
            if local is not None:
                pts = local.select([*xcols, "morton"]).to_pandas()
            else:
                pts = _scan(index, pred, xcols).toPandas()
            parts.append(_boundary_counts_np(index, kind, q, res, pts))
        else:
            cand = _join(index, kind, q, res, _scan(index, pred, xcols)).where(_exact_pred(kind, index.cfg.dims))
            parts.append(cand.groupBy("qid").agg(F.count("*").alias("cnt")).toPandas())
    qid = q["qid"].to_numpy(dtype="int64")
    cnt = pd.concat(parts).groupby("qid")["cnt"].sum() if parts else pd.Series(dtype="int64")
    out = pd.DataFrame({"qid": qid, "cnt": cnt.reindex(qid, fill_value=0).to_numpy(dtype="int64")})
    return index.points.sparkSession.createDataFrame(out, "qid long, cnt long")


def _report(index: SpatialIndex, kind: str, q: pd.DataFrame, budget: int | None) -> DataFrame:
    """(qid, doc_id, span_idx, key, x0..): interior-cell rows skip the
    predicate, boundary rows get the exact filter."""
    d = index.cfg.dims
    cols = ["qid", "doc_id", "span_idx", "key"] + [f"x{j}" for j in range(d)]
    _, cand = _plan(index, kind, q, budget, count=False)
    if cand is None:
        schema = "qid long, doc_id string, span_idx int, key long" + "".join(f", x{j} long" for j in range(d))
        return index.points.sparkSession.createDataFrame([], schema)
    return cand.where(F.col("interior") | _exact_pred(kind, d)).select(*cols)


def range_cover_stats(index: SpatialIndex, boxes: pd.DataFrame, budget: int | None = None) -> dict:
    """V3 introspection (validation.hpp:72-124 analog) for range queries:
    cells touched per query and the interior (metadata-answered, zero rows
    scanned) share — the distributed analog of nodes-visited counters.
    Summed per batch in the executors: covers are never collected."""

    def summary(_q, cov: pd.DataFrame, _meta) -> pd.DataFrame:
        return pd.DataFrame({"n": [cov["qid"].nunique()], "cells": [len(cov)], "inter": [int(cov["interior"].sum())]})

    qdf = index.points.sparkSession.createDataFrame(boxes)
    part = _executor_pass(index, "box", qdf, _budget(index.cfg, budget), summary, "n long, cells long, inter long")
    r = part.agg(F.sum("n").alias("n"), F.sum("cells").alias("c"), F.sum("inter").alias("i")).collect()[0]
    n = int(r["n"] or 0)
    return {
        "n_queries": n,
        "avg_cells_per_query": round(float(r["c"] or 0) / n, 2) if n else 0.0,
        "avg_interior_cells": round(float(r["i"] or 0) / n, 2) if n else 0.0,
    }


# ---------------------------------------------------------------------------
# public operators
# ---------------------------------------------------------------------------

def range_count_boxes(index: SpatialIndex, boxes: pd.DataFrame, budget: int | None = None) -> DataFrame:
    """(qid, cnt), computed when called — rectangle range count (R1).
    boxes: pandas with columns qid, lo0..lo{d-1}, hi0..hi{d-1} (int64)."""
    return _count(index, "box", boxes, budget)


def range_count_balls(index: SpatialIndex, balls: pd.DataFrame, budget: int | None = None) -> DataFrame:
    """(qid, cnt), computed when called — radius range count (R2). balls:
    pandas with columns qid, c0..c{d-1}, r2 (int64)."""
    return _count(index, "ball", balls, budget)


def range_count_polygons(index: SpatialIndex, polys: pd.DataFrame, budget: int | None = None) -> DataFrame:
    """(qid, cnt), computed when called — point-in-convex-polygon count,
    d=2. polys: pandas with columns qid, vx (list[int]), vy (list[int]), CCW."""
    return _count(index, "polygon", polys, budget)


def range_report_boxes(index: SpatialIndex, boxes: pd.DataFrame, budget: int | None = None) -> DataFrame:
    """(qid, doc_id, span_idx, key, x0..) — rectangle range report (R4/R5)."""
    return _report(index, "box", boxes, budget)


def range_report_balls(index: SpatialIndex, balls: pd.DataFrame, budget: int | None = None) -> DataFrame:
    """(qid, doc_id, span_idx, key, x0..) — radius range report (ball
    predicate, report semantics)."""
    return _report(index, "ball", balls, budget)


def range_report_polygons(index: SpatialIndex, polys: pd.DataFrame, budget: int | None = None) -> DataFrame:
    """(qid, doc_id, span_idx, key, x0, x1) — convex-polygon range report."""
    return _report(index, "polygon", polys, budget)
