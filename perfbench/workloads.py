"""The benchmark's workloads. Each one calls only the package's public
functions and hands it frames generated from the workload seed.

serve_uniform  read-only serving on a warm index: small kNN batches, range
               counts and reports, and an LSH top-k over a vector corpus.
update_mixed   writes beside reads: every step makes new index generations,
               in memory and on disk, and reads each one cold.

WORKLOADS.md records why each was chosen and which metric each layer
should move.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from pkd_tree_spark.config import EngineConfig
from pkd_tree_spark.documents import load_points
from pkd_tree_spark.index import SpatialIndex
from pkd_tree_spark.knn import auto_knn_level, knn
from pkd_tree_spark.pipeline.similarity import ann_lsh, topk_dot
from pkd_tree_spark.ranges import range_count_boxes, range_cover_stats, range_report_boxes
from pkd_tree_spark.session import get_spark
from pkd_tree_spark.updates import PersistentIndex, checkpoint_index, merge_delete, merge_insert

import inputs as I
from harness import Harness, expect

K = 10
KNN_CHECKED = 16  # queries per kNN batch checked against brute force
ANN_QUERIES = 16
ANN_MIN_RECALL = 0.8
ANN_EVERY = 4  # ann_lsh costs about as much as the three spatial calls together
BATCH_SCHEMA = "doc_id string, span_idx int, key long, x0 long, x1 long"
EMB_SCHEMA = "vec_id long, embedding array<float>, label int"


class Workload:
    """Set-up plus a loop cycle. Subclasses define `n_points`, `setup_rest`
    (everything after the index is built) and `cycle`."""

    name = ""
    n_points = 0
    min_cycles = 1

    def __init__(self, h: Harness, seed: int, cpus: int, workdir: str):
        self.h, self.seed, self.cpus, self.workdir = h, seed, cpus, workdir
        self.cfg = EngineConfig(dims=2, index_level=7, knn_level=6, partitions=2 * cpus)
        self.level = auto_knn_level(self.n_points, 2)
        self.pts = I.uniform_points(seed, self.n_points)
        self.counter = I.BoxCounter(self.pts)
        self.spark = None
        self.ix = None

    def setup(self) -> float:
        """Start the session, build the index and finish set-up; returns
        setup_s, the wall from session start to the first timed call."""
        t = self.h.on or self.h.off
        t0 = time.perf_counter()
        with t.span("session.get_spark"):
            self.spark = get_spark(app=f"perfbench-{self.name}", cpus=self.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.ix = self.build_index(t)
        self.h.count("index.meta_cells", self.ix.meta_n_cells())
        self.setup_rest(t)
        return time.perf_counter() - t0

    def build_index(self, t) -> SpatialIndex:
        spark = self.spark
        off = I.base_key_offset(self.seed)
        keys = spark.range(0, self.n_points, 1, self.cpus).select(
            (F.lit(off) + F.col("id") * I.KEY_STRIDE).alias("k")
        )
        with t.span("documents.load_points"):
            pts = load_points(spark, "", dims=2, dist="uniform", keys_df=keys)
        with t.span("index.build"):  # through materialization and the skeleton
            ix = SpatialIndex.build(pts, self.cfg)
            rows = ix.points.count()
            ix.meta.count()
            ix.release_staged()
            ix.meta_np()
        expect(rows == self.n_points, f"index rows {rows} != {self.n_points}")
        return ix

    def warm_up(self) -> None:
        """One untimed cycle: its calls are checked but leave no samples."""
        self.h.recording = False
        try:
            self.cycle(self.h.off, 0)
        finally:
            self.h.recording = True

    # -- timed calls shared by the workloads ------------------------------

    def knn_op(self, t, ix, q, ref_pts: pd.DataFrame, rng) -> pd.DataFrame:
        def run(t):
            with t.span("knn.knn"):
                res = knn(ix, q, k=K, level=self.level)
            with t.span("knn.collect"):
                return res.toPandas()

        def check(out):
            expect(len(out) == K * len(q), f"knn rows {len(out)} != {K * len(q)}")
            sample = q.iloc[np.sort(rng.choice(len(q), KNN_CHECKED, replace=False))]
            ref = I.knn_dist2(ref_pts, sample, K)
            got = out[out["qid"].isin(ref)].groupby("qid")["dist2"].apply(sorted).to_dict()
            expect(got == ref, "knn top-k dist2 differs from brute force")

        return self.h.op("knn_batch", run, t, check, items=len(q))

    def range_count_op(self, t, ix, bx, expected: np.ndarray, kind: str = "range_count"):
        """`ix` is an index, or a function of the tracer that opens one
        inside the timed call."""

        def run(t):
            index = ix(t) if callable(ix) else ix
            with t.span("index.meta_np"):
                index.meta_np()
            with t.span("ranges.range_count_boxes"):
                return range_count_boxes(index, bx).toPandas()

        def check(out):
            got = out.set_index("qid")["cnt"].reindex(bx["qid"], fill_value=0).to_numpy()
            expect(len(out) == len(bx) and np.array_equal(got, expected), f"{kind}: counts differ from numpy")

        return self.h.op(kind, run, t, check, items=len(bx))

    def layer_counters(self, t, ix, q, bx) -> None:
        """Traced cycles only: the program's own counters, each an extra
        Spark call under its own span."""
        with t.span("knn.return_stats"):
            _, st = knn(ix, q, k=K, level=self.level, return_stats=True)
            s = st.agg(F.avg("rounds").alias("r"), F.max("rounds").alias("m"), F.avg("cand_rows").alias("c")).collect()[0]
        self.h.count("knn.avg_ring_rounds", s["r"])
        self.h.count("knn.max_ring_rounds", s["m"])
        self.h.count("knn.candidate_rows_per_result", s["c"] / K)
        with t.span("ranges.range_cover_stats"):
            cs = range_cover_stats(ix, bx)
        self.h.count("ranges.cover_cells_per_query", cs["avg_cells_per_query"])
        self.h.count("ranges.interior_cell_share", cs["avg_interior_cells"] / cs["avg_cells_per_query"])
        with t.span("index.pruned_points"):
            p = ix.pruned_points(K)
            self.h.count("index.pruned_rows", p.count() if p is not None else 0)


class ServeUniform(Workload):
    name = "serve_uniform"
    n_points = 100_000
    min_cycles = ANN_EVERY  # so every run makes the same calls, one ann_lsh among them
    n_knn = 1000  # below knn.DRIVER_CELLS_MAX_QUERIES: the driver ring loop
    n_count = 1000  # below ranges.DISTRIBUTED_COVER_THRESHOLD: driver-side covers
    n_report = 200

    def setup_rest(self, t) -> None:
        emb = I.embeddings(self.seed)
        self.qv = I.quantize(emb)
        self.exact = I.topk_dot_ref(emb, ANN_QUERIES, K)
        self.emb = self.spark.createDataFrame(emb, schema=EMB_SCHEMA).persist()
        self.emb.count()
        with t.span("similarity.topk_dot"):
            got = {(int(a), int(b), int(c)) for a, b, c in topk_dot(self.emb, ANN_QUERIES, K).select("qid", "vec_id", "dot").collect()}
        expect(got == self.exact, "topk_dot differs from the numpy reference")
        self.warm_up()  # one untimed call of each kind

    def cycle(self, t, n: int) -> None:
        rng = np.random.default_rng([self.seed, 2, n])
        q = I.knn_queries(self.pts, self.n_knn, rng)
        bx = I.boxes(self.n_count, self.n_points, rng)
        br = I.boxes(self.n_report, self.n_points, rng, btypes=(0,))
        self.knn_op(t, self.ix, q, self.pts, rng)
        self.range_count_op(t, self.ix, bx, self.counter.counts(bx))
        self.range_report_op(t, br)
        if n % ANN_EVERY == 1 or n == 0 or t.enabled:  # warm-up, every fourth and every traced cycle
            self.ann_op(t)
        if t.enabled:
            self.layer_counters(t, self.ix, q, bx)

    def range_report_op(self, t, br) -> None:
        def run(t):
            with t.span("ranges.range_report_boxes"):
                return range_report_boxes(self.ix, br).toPandas()

        def check(out):
            got = out.groupby("qid").size().reindex(br["qid"], fill_value=0).to_numpy()
            expect(np.array_equal(got, self.counter.counts(br)), "range report row counts differ from numpy")
            expect(not out.duplicated(["qid", "key", "span_idx"]).any(), "range report repeats a row")

        self.h.op("range_report", run, t, check, items=len(br))

    def ann_op(self, t) -> None:
        def run(t):
            with t.span("similarity.ann_lsh"):
                return ann_lsh(self.emb, ANN_QUERIES, K).toPandas()

        def check(out):
            got = {(int(a), int(b), int(c)) for a, b, c in out[["qid", "vec_id", "dot"]].itertuples(index=False)}
            exact_pairs = {(a, b) for a, b, _ in self.exact}
            hits = len({(a, b) for a, b, _ in got} & exact_pairs)
            self.h.extra["ann_recall_at_10"] = hits / len(exact_pairs)
            expect(all(int(self.qv[a] @ self.qv[b]) == c for a, b, c in got), "ann_lsh reports a wrong dot product")
            expect(hits / len(exact_pairs) >= ANN_MIN_RECALL, f"ann recall {hits / len(exact_pairs):.3f}")

        self.h.op("ann", run, t, check, items=ANN_QUERIES)


class UpdateMixed(Workload):
    name = "update_mixed"
    n_points = 50_000
    n_knn = 1000
    n_count = 1000

    def setup_rest(self, t) -> None:
        self.pidx = PersistentIndex(os.path.join(self.workdir, "pidx"), self.cfg, bucket_level=2)
        with t.span("updates.write"):
            self.pidx.write(self.ix)
        self.h.count("updates.index_disk_bytes_per_point", _tree_bytes(self.pidx.points_path) / self.n_points)
        # one untimed step warms the JVM and the Python workers; no
        # generation is ever warmed, as its cold skeleton is what the loop
        # measures
        self.warm_up()

    def cycle(self, t, n: int) -> None:
        h, spark = self.h, self.spark
        rng = np.random.default_rng([self.seed, 3, n])
        batch_pd = I.update_batch(self.pts, n, rng)
        q = I.knn_queries(self.pts, self.n_knn, rng)
        bx = I.boxes(self.n_count, self.n_points, rng)
        base_counts = self.counter.counts(bx)
        grown = pd.concat([self.pts[["x0", "x1"]], batch_pd[["x0", "x1"]]], ignore_index=True)
        batch = spark.createDataFrame(batch_pd, schema=BATCH_SCHEMA).persist()
        b = batch.count()
        n0 = self.n_points

        def materialize(ix):
            rows = ix.points.count()
            ix.meta.count()
            return ix, rows

        def rows_are(want):
            return lambda out: expect(out[1] == want, f"generation has {out[1]} rows, expected {want}")

        def insert(t):
            with t.span("updates.merge_insert"):
                return materialize(merge_insert(self.ix, batch))

        def delete(t):
            with t.span("updates.merge_delete"):
                return materialize(merge_delete(g, batch, exact_rows=True))

        def checkpoint(t):
            with t.span("updates.checkpoint_index"):
                return materialize(checkpoint_index(dl))

        gens = []
        out = h.op("insert", insert, t, rows_are(n0 + b))
        if out is not None:
            g = out[0]
            gens.append(g)
            self.range_count_op(t, g, bx, base_counts + I.box_counts_brute(batch_pd, bx))
            self.knn_op(t, g, q, grown, rng)
            if t.enabled:
                self.layer_counters(t, g, q, bx)
            out = h.op("delete", delete, t, rows_are(n0))
        if out is not None and gens:
            dl = out[0]
            gens.append(dl)
            # the reads after a small delete pay for its lazy survivors
            self.range_count_op(t, dl, bx, base_counts)
            self.knn_op(t, dl, q, self.pts, rng)
            out = h.op("checkpoint", checkpoint, t, rows_are(n0))
            if out is not None:
                gens.append(self.ix)
                self.ix = out[0]
        for ix in gens:
            ix.release()
        self.cow_ops(t, batch, b, bx, base_counts)
        batch.unpersist()

    def cow_ops(self, t, batch, b, bx, base_counts) -> None:
        h, spark, pidx = self.h, self.spark, self.pidx

        def cow(name, fn):
            def run(t):
                t0 = time.time()
                with t.span(f"updates.{name}"):
                    r = fn(spark, batch)
                if t.enabled:
                    h.count("updates.cow_buckets_touched", r["buckets_touched"])
                    written = _tree_bytes(pidx.points_path, newer_than=t0)
                    per_row = _tree_bytes(pidx.points_path) / self.n_points
                    h.count("updates.cow_bytes_written_per_user_byte", written / (b * per_row))
                return r

            return run

        h.op("cow_insert", cow("merge_insert_cow", pidx.merge_insert_cow), t,
             lambda r: expect(r["rows_deleted"] == -b, f"cow insert added {-r['rows_deleted']} rows, expected {b}"))
        h.op("cow_delete", cow("merge_delete_cow", pidx.merge_delete_cow), t,
             lambda r: expect(r["rows_deleted"] == b, f"cow delete removed {r['rows_deleted']} rows, expected {b}"))

        def load(t):
            with t.span("updates.load"):
                return pidx.load(spark)

        self.range_count_op(t, load, bx, base_counts, kind="load_range_count")


def _tree_bytes(path: str, newer_than: float = 0.0) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            if st.st_mtime >= newer_than:
                total += st.st_size
    return total


WORKLOADS = {w.name: w for w in (ServeUniform, UpdateMixed)}
