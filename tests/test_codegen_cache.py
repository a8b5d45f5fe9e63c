"""Generated code is compiled once: after one write+read cycle, a second
cycle of the same shape finds every stage class in the codegen cache (the
cache holds the cycle's working set, and no scan carries per-call
literals that skip nothing)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from pkd_tree_spark.config import EngineConfig
from pkd_tree_spark.documents import load_points
from pkd_tree_spark.index import SpatialIndex
from pkd_tree_spark.knn import knn
from pkd_tree_spark.ranges import range_count_boxes
from pkd_tree_spark.updates import checkpoint_index, merge_delete, merge_insert
from tests.conftest import SF_DIR, compiles

M = 1 << 20


def _cycle(spark, ix, points: pd.DataFrame, n: int):
    """merge_insert -> range count -> kNN -> exact delete -> range count ->
    kNN -> checkpoint_index, shaped like the update benchmark's cycle: a 1%
    batch and 2% kNN queries at the positions of base points, and boxes
    spread over the domain, all drawn afresh from ``n``. Returns the
    checkpointed generation and the generations it superseded."""
    rng = np.random.default_rng([12, n])
    batch_pd = points.iloc[int(rng.integers(0, 100))::100].copy()
    batch_pd["key"] = 95_000_000 + 1_000 * n + np.arange(len(batch_pd))
    batch_pd["doc_id"] = "ins_" + batch_pd["key"].astype(str)
    batch = spark.createDataFrame(batch_pd).persist()
    at = points.iloc[int(rng.integers(0, 50))::50]
    q = pd.DataFrame({"qid": np.arange(len(at)), "q0": at["x0"].to_numpy(), "q1": at["x1"].to_numpy()})
    lo = rng.integers(0, M - 100_000, (64, 2))
    hi = lo + rng.integers(1_000, 100_000, (64, 2))
    bx = pd.DataFrame({"qid": np.arange(64), "lo0": lo[:, 0], "lo1": lo[:, 1], "hi0": hi[:, 0], "hi1": hi[:, 1]})

    def reads(g):
        range_count_boxes(g, bx).toPandas()
        knn(g, q, k=10).toPandas()

    g = merge_insert(ix, batch)
    g.points.count()
    reads(g)
    dl = merge_delete(g, batch.select("key", "span_idx", "x0", "x1"), exact_rows=True)
    dl.points.count()
    reads(dl)
    out = checkpoint_index(dl)
    out.points.count()
    batch.unpersist()
    return out, [g, dl]


def test_second_update_cycle_compiles_nothing(spark, points_uniform):
    """On a one-partition index the table is one cached batch, so no scan
    can skip a batch and none may carry per-call literals. Both measured
    cycles start from a generation an earlier cycle left."""
    cfg = EngineConfig(dims=2, index_level=5, knn_level=4, partitions=1)
    base = SpatialIndex.build(load_points(spark, SF_DIR, dims=2, dist="uniform"), cfg)
    ix, done = _cycle(spark, base, points_uniform, 0)
    counts = []
    for n in (1, 2):
        (ix, old), c = compiles(spark, lambda: _cycle(spark, ix, points_uniform, n))
        counts.append(c)
        done += old
    for g in [base, *done, ix]:
        g.release()
    assert counts[0] > 0, "the first cycle should compile its classes"
    assert counts[1] == 0, f"the second cycle compiled {counts[1]} classes"


def test_cycle_from_a_build_compiles_only_its_cached_scans(spark, points_uniform):
    """Once cycles started from checkpoints compile nothing, a cycle started
    from a fresh build compiles only the scans of the build's own cached
    tables: its points (read by the insert's materialization) and its meta
    (read by the first skeleton collect), two classes each; a checkpoint
    reads both as RDD scans instead. Every generation's meta has one
    column order (cell, cnt, mn0.., mx0..): when the merged meta
    interleaved mn0, mx0, mn1, mx1, this cycle compiled 10 classes."""
    cfg = EngineConfig(dims=2, index_level=5, knn_level=4, partitions=1)
    build = lambda: SpatialIndex.build(load_points(spark, SF_DIR, dims=2, dist="uniform"), cfg)  # noqa: E731
    base = build()
    ix, done = checkpoint_index(base), [base]
    for n in (3, 4, 5):
        (ix, old), c = compiles(spark, lambda: _cycle(spark, ix, points_uniform, n))
        done += old
    fresh = build()
    (out, old), c_build = compiles(spark, lambda: _cycle(spark, fresh, points_uniform, 6))
    for g in [*done, ix, fresh, *old, out]:
        g.release()
    assert c == 0, f"the last checkpoint-started cycle compiled {c} classes"
    assert c_build <= 4, f"the build-started cycle compiled {c_build} classes"
