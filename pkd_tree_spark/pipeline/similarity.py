"""Similarity search over the ``embeddings`` table.

  topk_dot  — exact brute-force top-k by integer dot product (MIPS) on
              fixed-point-quantized vectors: the correctness baseline,
              broadcast queries x full scan, deterministic tie-break.
  ann_lsh   — random-hyperplane LSH buckets (deterministic +/-1 planes),
              candidates = corpus rows sharing a probed bucket (multi-probe
              over all tables) with a query, found and exactly re-ranked in
              ONE partition-local pass over the corpus against a broadcast
              probe table: the scale path. Approximate by construction ->
              no SQL oracle; recall is pytest-checked.
"""

from __future__ import annotations

from typing import Iterable, Iterator, NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import A1, A2
from ..index import expand_ranges
from .dedup import quantized_embeddings

__all__ = ["topk_dot", "ann_lsh", "ann_rerank", "lsh_bucket_col", "lsh_table_keys", "auto_planes"]


def _dot(qcol: str, vcol: str):
    return F.aggregate(
        F.zip_with(qcol, vcol, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def topk_dot(emb: DataFrame, n_queries: int = 16, k: int = 10) -> DataFrame:
    """Exact top-k inner-product neighbors for the first ``n_queries``
    vec_ids. (qid, rn, vec_id, dot), rn ordered by (-dot, vec_id), self
    excluded. Plan: broadcast tiny query side -> one scan, window top-k."""
    q = quantized_embeddings(emb)
    queries = q.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), F.col("qv").alias("qq")
    )
    cand = (
        q.join(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", _dot("qq", "qv").alias("dot"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("dot").desc(), F.col("vec_id"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", F.col("rn").cast("long").alias("rn"), "vec_id", "dot")
    )


def lsh_bucket_col(qv_col, n_planes: int = 8, plane_offset: int = 0):
    """Deterministic random-hyperplane bucket id: plane p has weight
    s_ip = +1 if ((i*A1 + p*A2) >> 7) % 2 == 0 else -1 on dim i; bit p of
    the bucket = (sum_i s_ip * qv_i) >= 0. Pure JVM higher-order exprs.
    ``plane_offset`` selects an independent plane family (hash tables)."""
    def _signed_fn(p: int):
        def fn(x, i):
            plane = F.floor((i.cast("long") * F.lit(A1) + F.lit(p) * F.lit(A2)) / F.lit(128)) % 2 == 0
            return F.when(plane, x).otherwise(-x)

        return fn

    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        signed = F.transform(qv_col, _signed_fn(p + plane_offset))
        tot = F.aggregate(signed, F.lit(0).cast("long"), lambda acc, x: acc + x)
        bucket = bucket + F.when(tot >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


# corpus stats memo keyed by the quantized plan's semantic hash PLUS a
# cheap data fingerprint (the sorted input-file listing — no Spark job): the
# augmentation constant is corpus state (like the quantized table itself),
# not per-call work — r4 re-ran the full-corpus max aggregate every ann_lsh
# call. The semantic hash alone is PLAN-level: a parquet path that gains
# files within a session (or two colliding plans) would silently reuse a
# stale m2 and shift the MIPS augmentation. Non-file sources (in-memory
# frames) fingerprint as the empty listing — those plans differ per corpus
# anyway. Bounded: the cache only ever holds a handful of corpora.
_M2_CACHE: dict[tuple, tuple[int, int]] = {}


def _corpus_stats(base: DataFrame) -> tuple[int, int]:
    """(max norm2, row count) of the quantized corpus — ONE aggregate pass,
    memoized together (the r7 plane-count adaptivity needs the count on
    exactly the frames that already paid the max-norm scan)."""
    try:
        h = (base.semanticHash(), tuple(sorted(base.inputFiles())))
    except Exception:  # noqa: BLE001 — hash unavailable: compute uncached
        h = None
    if h is not None and h in _M2_CACHE:
        return _M2_CACHE[h]
    row = base.agg(F.max("norm2").alias("m2"), F.count(F.lit(1)).alias("n")).collect()[0]
    m2, n = int(row["m2"] or 0), int(row["n"])
    if h is not None:
        if len(_M2_CACHE) > 64:
            _M2_CACHE.clear()
        _M2_CACHE[h] = (m2, n)
    return m2, n


# ~rows per LSH bucket the plane count aims for: buckets must TRACK the
# corpus size or the bucket equi-join degenerates toward all-pairs — at
# n_planes=6 a 1M-vector corpus packs ~16k vectors per bucket and a
# 4096-query Hamming-2 probe join emits ~10^10 candidate pairs (measured:
# wedged >45min at 16c before this round made the count adaptive; the r6
# plan audit's "bucketed equi-join, never all-pairs" only holds when bucket
# occupancy is bounded). 128 keeps per-(query,table) candidates ~10^4 at
# Hamming-2 probe depth while recall floors are held by the 8 independent
# tables (1-(1-r)^8).
LSH_BUCKET_TARGET_ROWS = 128


def auto_planes(n_corpus: int) -> int:
    """Plane count so 2^planes ≈ n/LSH_BUCKET_TARGET_ROWS, floored at the
    historical 6 (small corpora — the sf gate/bench sizes — are unchanged
    bit-for-bit: every plane family with the same offset hashes the same)."""
    import math

    if n_corpus <= 0:
        return 6
    return max(6, math.ceil(math.log2(max(2.0, n_corpus / LSH_BUCKET_TARGET_ROWS))))


def lsh_table_keys(V: np.ndarray, aug: np.ndarray, n_planes: int, n_tables: int) -> np.ndarray:
    """All ``n_tables`` bucket keys of each row of ``V`` (b, d) in ONE
    integer matmul against the ±1 plane matrix: (b, n_tables) int64.

    Bit-identical to ``lsh_bucket_col`` per table (same sign rule
    ((i*A1 + pg*A2) >> 7) % 2, same >= 0 bit test, exact int64 sums); the
    table id sits above the plane bits, so keys of different tables never
    collide. ``aug`` is the appended asymmetric-augmentation coordinate:
    floor(sqrt(m2 - norm2)) for data vectors (``mips_aug``), 0 for queries.
    The driver (query side) and the executors (corpus side) share it."""
    P = n_planes * n_tables
    Va = np.concatenate([V.astype(np.int64, copy=False), aug.astype(np.int64)[:, None]], axis=1)
    idx = np.arange(Va.shape[1], dtype=np.int64)
    pg = np.arange(P, dtype=np.int64)
    S = np.where(((idx[:, None] * A1 + pg[None, :] * A2) >> 7) % 2 == 0, np.int64(1), np.int64(-1))
    bits = ((Va @ S) >= 0).reshape(len(Va), n_tables, n_planes).astype(np.int64)
    keys = (bits << np.arange(n_planes, dtype=np.int64)).sum(axis=2)
    return keys | (np.arange(n_tables, dtype=np.int64) << n_planes)


def mips_aug(norm2: np.ndarray, m2: int) -> np.ndarray:
    """Data-side augmentation floor(sqrt(m2 - norm2)); float64 sqrt matches
    F.floor(F.sqrt(...)) IEEE-exactly."""
    return np.floor(np.sqrt(np.maximum(0.0, float(m2) - norm2.astype(np.float64)))).astype(np.int64)


class LshProbes(NamedTuple):
    """Probe side of ann_lsh, built on the driver from one collect of the
    query rows and shipped to every corpus partition: the (bucket, query
    index) probe table sorted by bucket, the query vec_ids and the query
    matrix (index i of the table <-> qids[i] <-> Q[i])."""

    n_planes: int
    n_tables: int
    m2: int
    bucket: np.ndarray
    qi: np.ndarray
    qids: np.ndarray
    Q: np.ndarray


def lsh_probes(qids: np.ndarray, Q: np.ndarray, n_planes: int, n_tables: int, m2: int) -> LshProbes:
    """Multi-probe table of the queries (Q, qids): each query probes its
    own bucket and every bucket one or two plane flips away (Hamming-0/1/2
    XOR masks), in every table."""
    nq = len(qids)
    masks = np.array(
        [0]
        + [1 << p for p in range(n_planes)]
        + [(1 << p) | (1 << p2) for p in range(n_planes) for p2 in range(p + 1, n_planes)],
        dtype=np.int64,
    )
    keys = lsh_table_keys(Q, np.zeros(nq, dtype=np.int64), n_planes, n_tables)
    bucket = (keys[:, :, None] ^ masks).ravel()
    qi = np.repeat(np.arange(nq, dtype=np.int64), n_tables * len(masks))
    order = np.lexsort((qi, bucket))
    return LshProbes(n_planes, n_tables, int(m2), bucket[order], qi[order], np.asarray(qids, dtype=np.int64), Q)


# Candidate (row, query) pairs the re-rank holds at once: bounds a task's
# memory at ~2 * ANN_TILE_PAIRS * d int64 (the gathered rows of both
# sides) however many corpus rows share a bucket; duplicate-heavy corpora
# pile any number of identical vectors into one bucket at every plane
# count. A single row adds at most n_queries * n_tables pairs, so a tile
# never exceeds ANN_TILE_PAIRS + that.
ANN_TILE_PAIRS = 1 << 15


class _RunningTopK:
    """Per-query top-k by (-dot, vec_id) over a stream of candidate tiles.
    Holds the current top-k (<= nq * k rows) plus a buffer of at most
    ``limit`` rows that beat or tie each query's current k-th dot."""

    def __init__(self, nq: int, k: int, limit: int):
        self.k, self.limit = k, limit
        self.kth = np.full(nq, np.iinfo(np.int64).min, dtype=np.int64)
        e = np.zeros(0, dtype=np.int64)
        self.parts = [(e, e, e)]
        self.n_top = self.n = 0

    def push(self, q: np.ndarray, v: np.ndarray, d: np.ndarray) -> None:
        keep = d >= self.kth[q]
        if keep.any():
            self.parts.append((q[keep], v[keep], d[keep]))
            self.n += int(keep.sum())
        if self.n - self.n_top > self.limit:
            self._compact()

    def _compact(self) -> None:
        q, v, d = (np.concatenate(c) for c in zip(*self.parts))
        o = np.lexsort((v, -d, q))
        q, v, d = q[o], v[o], d[o]
        start = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
        rank = np.arange(len(q)) - np.repeat(start, np.diff(np.r_[start, len(q)]))
        keep = rank < self.k
        q, v, d, rank = q[keep], v[keep], d[keep], rank[keep]
        full = rank == self.k - 1
        self.kth[q[full]] = d[full]
        self.parts = [(q, v, d)]
        self.n_top = self.n = len(q)

    def result(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        self._compact()
        return self.parts[0]


def ann_rerank(
    batches: Iterable[pd.DataFrame], pr: LshProbes, k: int, tile: int = ANN_TILE_PAIRS
) -> Iterator[pd.DataFrame]:
    """mapInPandas body of ann_lsh over one corpus partition of (vec_id, qv,
    norm2) batches: each row's table keys, its candidate queries found by
    ``searchsorted`` in the probe table (any shared probed bucket in any
    table, self excluded, each pair once), exact int64 dots, and a running
    per-query top-k by (-dot, vec_id). Yields one (qid, vec_id, dot) frame
    with <= k rows per query. Rows are keyed in blocks of tile // n_tables
    and their candidates expanded and dotted in tiles of ~``tile`` pairs,
    so memory is bounded by the tile and the query side, never by bucket
    occupancy."""
    T, nq = pr.n_tables, len(pr.qids)
    top = _RunningTopK(nq, int(k), tile)
    block = max(1, tile // T)
    for pdf in batches:
        vids = pdf["vec_id"].to_numpy(dtype=np.int64)
        qvs = pdf["qv"].to_numpy()
        norm2 = pdf["norm2"].to_numpy(dtype=np.int64)
        for r0 in range(0, len(pdf), block):
            V = np.stack(qvs[r0 : r0 + block]).astype(np.int64)
            keys = lsh_table_keys(V, mips_aug(norm2[r0 : r0 + block], pr.m2), pr.n_planes, T)
            i0 = np.searchsorted(pr.bucket, keys, side="left")
            i1 = np.searchsorted(pr.bucket, keys, side="right")
            cnt = (i1 - i0).sum(axis=1)
            if not cnt.any():
                continue
            # rows whose first pair falls in the same tile-sized window share a tile
            tid = (np.cumsum(cnt) - cnt) // tile
            cuts = np.r_[0, np.flatnonzero(np.diff(tid)) + 1, len(V)]
            for a, b in zip(cuts[:-1], cuts[1:]):
                idx, per = expand_ranges(i0[a:b].ravel(), i1[a:b].ravel())
                row = np.repeat(np.repeat(np.arange(a, b, dtype=np.int64), T), per)
                pair = np.unique(row * nq + pr.qi[idx])  # a pair found via several tables/probes counts once
                row, q = pair // nq, pair % nq
                vid = vids[r0 + row]
                ok = vid != pr.qids[q]
                row, q, vid = row[ok], q[ok], vid[ok]
                # exact: |qv| <= ~2^12, so d-term int64 sums stay far below 2^63
                top.push(q, vid, np.einsum("ij,ij->i", V[row], pr.Q[q]))
    q, v, d = top.result()
    yield pd.DataFrame({"qid": pr.qids[q], "vec_id": v, "dot": d})


def ann_lsh(emb: DataFrame, n_queries: int = 16, k: int = 10, n_planes: int | None = None) -> DataFrame:
    """Approximate top-k MIPS: asymmetric norm augmentation + hyperplane
    LSH buckets + exact integer re-rank.

    Three standard recall mechanisms compose (each one dials recall vs
    candidates scanned):
      1. ASYMMETRIC norm augmentation (Shrivastava & Li): hyperplane LSH
         hashes by angle but topk_dot ranks by raw inner product — append
         sqrt(max_norm^2 - ||x||^2) to every DATA vector and 0 to every
         QUERY, so angular similarity in the augmented space IS
         inner-product order (a no-op for pre-normalized corpora);
      2. MULTI-PROBE: each query probes its own bucket plus all Hamming-1
         and Hamming-2 flips (vectors near a hyperplane land on either
         side; probes live in the small driver-built probe table, so
         deeper probing costs nothing on the corpus);
      3. MULTIPLE TABLES: n_tables independent plane families; a true
         neighbor is found if ANY table collides — recall 1-(1-r)^L.
    ``n_planes=None`` (default) sizes the plane count off the corpus row
    count (auto_planes) so bucket occupancy stays ~LSH_BUCKET_TARGET_ROWS
    at any scale; corpora up to ~8k rows get the historical 6.
    The re-rank uses the ORIGINAL vectors' exact integer dot. Output shape
    == topk_dot (rn may be < k if buckets are small). At 100TB the
    bucketed probe replaces topk_dot's full scan; recall is pytest-checked
    AND logged per bench run (ann_recall_at_10).

    Plan shape: the query rows are collected ONCE; their table keys (the
    same numpy key function the executors run), the sorted Hamming-0/1/2
    probe table and the query matrix are built from that one frame and
    broadcast. The corpus then makes ONE mapInPandas pass in its own
    partitioning (ann_rerank: keys, probe-table lookup, exact dots in
    bounded tiles, running per-query top-k) — no corpus explode, no
    shuffle of the corpus. Only <= k rows per query per partition reach
    the row_number window; every vector lives in one partition, so no
    dedup is needed. The <= n_queries * k result is materialized inside
    the call and the broadcast destroyed: nothing the call creates
    outlives it, and the returned frame is a local relation."""
    base = quantized_embeddings(emb)
    m2, n_corpus = _corpus_stats(base)
    if n_planes is None:
        n_planes = auto_planes(n_corpus)
    # 8 tables at every scale. More tables were MEASURED and rejected at
    # the 1.024M/13-plane study: 12 tables moved recall@10 only
    # 0.8458 -> 0.8538 for +67% wall (66.9 -> 111.8s) — the 1-(1-r)^L
    # independence model fails because the missed neighbors sit at angles
    # where the per-bit collision probability is low for EVERY plane
    # family, so extra tables mostly re-find the already-found.
    n_tables = 8
    qpd = base.where(F.col("vec_id") < n_queries).select("vec_id", "qv").toPandas()
    Q = np.stack(qpd["qv"].to_numpy()).astype(np.int64) if len(qpd) else np.zeros((0, 0), dtype=np.int64)
    probes = lsh_probes(qpd["vec_id"].to_numpy(dtype=np.int64), Q, n_planes, n_tables, m2)
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(probes)
    kk = int(k)
    try:
        cand = base.mapInPandas(lambda it: ann_rerank(it, bc.value, kk), "qid long, vec_id long, dot long")
        w = Window.partitionBy("qid").orderBy(F.col("dot").desc(), F.col("vec_id"))
        top = (
            cand.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select("qid", F.col("rn").cast("long").alias("rn"), "vec_id", "dot")
            .toPandas()
        )
    finally:
        bc.destroy()
    return spark.createDataFrame(top.astype("int64"), "qid long, rn long, vec_id long, dot long")
