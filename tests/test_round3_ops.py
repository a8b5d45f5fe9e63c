"""Round-3 surfaces: embedding-dup GEMM tiling (bounded tasks, identical
results), bbox-bounded vector->raster at a fine level, and the dedup cache
hygiene regression (no persist() leaks — round-2 finding)."""

import gc
import time

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pkd_tree_spark.pipeline import dedup as DD


def _synthetic_embeddings(spark, n=240, dim=4):
    """Deterministic vectors with exactly-representable float values
    (multiples of 0.25) so the fixed-point quantization is bit-exact in
    both numpy and Spark; several direction clusters -> real near-dups."""
    rows = []
    for i in range(n):
        base = [((i % 5) + 1) * 0.25, ((i % 3) + 1) * 0.25, ((i * 7) % 4) * 0.25, 0.25]
        rows.append((i, [float(v) for v in base]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _brute_force_pairs(n=240, permille=DD.EMB_DUP_PERMILLE):
    rows = []
    for i in range(n):
        base = [((i % 5) + 1) * 0.25, ((i % 3) + 1) * 0.25, ((i * 7) % 4) * 0.25, 0.25]
        rows.append(base)
    qv = np.floor(np.array(rows, dtype=np.float64) * 1000).astype(np.int64)
    norm2 = (qv * qv).sum(1)
    out = set()
    t2 = permille * permille
    for a in range(len(qv)):
        for b in range(a + 1, len(qv)):
            if norm2[a] == 0 or norm2[b] == 0:
                continue
            dot = int(qv[a] @ qv[b])
            if dot > 0 and dot * dot * 1_000_000 >= t2 * int(norm2[a]) * int(norm2[b]):
                out.add((a, b))
    return out


def test_tile_block_pairs_bounded_and_complete():
    bsize = {0: 25_000, 1: 3, 2: 9000}
    pairs = [(0, 0), (0, 2), (1, 2)]
    rows = DD.tile_block_pairs(bsize, pairs, tile_rows=8192)
    # tiles per block: 0 -> 4, 1 -> 1, 2 -> 2
    by_pair = {}
    for ba, bb, ta, tb, na_t, nb_t, pk in rows:
        assert na_t == {0: 4, 1: 1, 2: 2}[ba]
        assert nb_t == {0: 4, 1: 1, 2: 2}[bb]
        by_pair.setdefault((ba, bb), set()).add((ta, tb))
    # self pair: upper-triangular tile coverage (10 of 16)
    assert by_pair[(0, 0)] == {(a, b) for a in range(4) for b in range(a, 4)}
    # cross pair: full coverage
    assert by_pair[(0, 2)] == {(a, b) for a in range(4) for b in range(2)}
    assert by_pair[(1, 2)] == {(0, 0), (0, 1)}
    # a block pair spans MANY bounded tasks, not one (round-2 scale flaw)
    assert len(by_pair[(0, 0)]) > 1


def test_embedding_dup_tiled_equals_untiled_and_brute_force(spark):
    emb = _synthetic_embeddings(spark)
    tiled = DD.embedding_dup_pairs(emb, block_planes=2, tile_rows=16)
    untiled = DD.embedding_dup_pairs(emb, block_planes=2, tile_rows=10**9)
    t = {(r["vec_a"], r["vec_b"]) for r in tiled.collect()}
    u = {(r["vec_a"], r["vec_b"]) for r in untiled.collect()}
    assert t == u == _brute_force_pairs()


def test_embedding_dup_auto_planes(spark):
    emb = _synthetic_embeddings(spark, n=120)
    out = DD.embedding_dup_pairs(emb)  # block_planes=None -> auto
    assert {(r["vec_a"], r["vec_b"]) for r in out.collect()} == _brute_force_pairs(n=120)


def test_vector_to_raster_bbox_level10(spark):
    """Fine-level burn: the bbox-bounded plan must agree with the
    brute-force center-in-diamond enumeration (and touch only bbox cells)."""
    from pkd_tree_spark import fixtures as FX
    from pkd_tree_spark.config import DEFAULT_CONFIG
    from pkd_tree_spark.raster import vector_to_raster

    level = 10
    w = DEFAULT_CONFIG.width_at(level)
    polys = FX.diamond_fixtures(6)
    got = {
        (r["qid"], r["g0"], r["g1"])
        for r in vector_to_raster(spark, polys[["qid", "vx", "vy"]], level, DEFAULT_CONFIG).collect()
    }
    exp = set()
    n = 1 << level
    for row in polys.itertuples():
        g0lo, g0hi = max(0, min(row.vx) // w), min(n - 1, max(row.vx) // w)
        g1lo, g1hi = max(0, min(row.vy) // w), min(n - 1, max(row.vy) // w)
        g0 = np.arange(g0lo, g0hi + 1)
        g1 = np.arange(g1lo, g1hi + 1)
        cx2 = g0 * w * 2 + (w - 1)
        cy2 = g1 * w * 2 + (w - 1)
        inside = (
            np.abs(cx2[:, None] - 2 * row.c0) + np.abs(cy2[None, :] - 2 * row.c1) <= 2 * row.r
        )
        for i, j in zip(*np.nonzero(inside)):
            exp.add((row.qid, int(g0[i]), int(g1[j])))
    assert got == exp
    assert len(got) > 0


def test_dedup_no_persist_leak(spark):
    """ngram/embedding dedup must not leave persist()-pinned RDDs behind;
    localCheckpoint blocks are allowed while referenced but must be
    collectable once the result goes out of scope."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sc = spark.sparkContext
    base = len(sc._jsc.getPersistentRDDs())
    out1 = DD.ngram_jaccard_pairs(docs)
    out1.count()
    out2 = DD.embedding_dup_pairs(emb)
    out2.count()
    del out1, out2
    deadline = time.time() + 20
    while time.time() > 0:
        gc.collect()
        # collectability needs a JVM GC: ContextCleaner releases checkpoint
        # blocks via weak refs, and an idle heap may not GC within the
        # deadline on its own — System.gc() makes the check deterministic
        spark._jvm.System.gc()
        if len(sc._jsc.getPersistentRDDs()) <= base:
            break
        if time.time() > deadline:
            pytest.fail(
                f"cached RDDs leaked: {len(sc._jsc.getPersistentRDDs())} > baseline {base}"
            )
        time.sleep(0.5)


def test_retile_hot_rewrites_only_hot_buckets(spark, tmp_path):
    """Targeted re-tile (M3/U3 analog): a skewed insert makes ONE bucket
    hot; retile_hot must rewrite < 20% of buckets, leave cold files
    untouched (mtime check), preserve the exact point set, and split the
    hot bucket into multiple morton-range files."""
    import os

    from pkd_tree_spark.config import EngineConfig
    from pkd_tree_spark.documents import load_points
    from pkd_tree_spark.index import SpatialIndex
    from pkd_tree_spark.updates import PersistentIndex, merge_insert

    cfg = EngineConfig(dims=2, index_level=6, knn_level=5, partitions=8)
    pts = load_points(spark, "/root/testdata/sf0.001", dims=2, dist="uniform")
    idx = SpatialIndex.build(pts, cfg, persist=False)
    # skewed batch: everything into one corner (one bucket)
    skew = pts.select(
        "doc_id", "span_idx", (F.col("key") + 90_000_000).alias("key"),
        (F.col("x0") % 1000).alias("x0"), (F.col("x1") % 1000).alias("x1"),
    )
    idx = merge_insert(idx, skew, persist=False)

    pi = PersistentIndex(path=str(tmp_path / "pidx"), cfg=cfg)
    pi.write(idx)
    before = idx.points.count()

    def _file_mtimes():
        out = {}
        for root, _, files in os.walk(pi.points_path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = os.path.getmtime(p)
        return out

    pre = _file_mtimes()
    rep = pi.retile_hot(spark, file_target_rows=2000)
    assert 0 < rep["buckets_hot"] < 0.2 * rep["buckets_total"]
    post = _file_mtimes()

    # cold buckets: identical files, untouched mtimes. A rewritten bucket
    # lands in a new generation directory, so hot vs cold goes by bucket
    def _bucket(p):
        return next(part for part in p.split(os.sep) if part.startswith("pbucket="))

    hot_dirs = {os.path.dirname(p) for p in set(post) - set(pre)}
    hot_buckets = {_bucket(p) for p in set(post) - set(pre)}
    changed_cold = [
        p for p in pre
        if _bucket(p) not in hot_buckets and (p not in post or post[p] != pre[p])
    ]
    assert changed_cold == []
    assert len(hot_dirs) >= 1
    # the hot bucket got split into several files
    for d_ in hot_dirs:
        assert len([f for f in os.listdir(d_) if f.endswith(".parquet")]) >= 2

    # data preserved exactly
    loaded = pi.load(spark)
    assert loaded.points.count() == before
    a = idx.points.groupBy().agg(F.sum("key"), F.sum("x0"), F.sum("x1")).collect()[0]
    b = loaded.points.groupBy().agg(F.sum("key"), F.sum("x0"), F.sum("x1")).collect()[0]
    assert list(a) == list(b)
    # meta still consistent
    assert loaded.meta.agg(F.sum("cnt")).collect()[0][0] == before
