"""Regenerate BENCH/PLANS.md: physical-plan evidence for the headline
operators on sf0.001 at local[8].

Captures, per operator, the executed/optimized plan and a node-count
summary of the query's own nodes: those above each InMemoryTableScan (a
scan of a cached table prints the table's build lineage under its
InMemoryRelation), with unique plan_ids for Exchange. Run from the repo
root:

    PYTHONPATH=. python tools/gen_plans.py

Each section is one entry of SECTIONS: a title, a note and a function of
(spark, index, sf dir) returning the plan, so tests/test_plans.py can
rebuild every plan on its own session and check it against the recorded
counts.
"""

from __future__ import annotations

import json
import os
import re

HEAD = """# Physical plans of the headline operators (sf0.001, local[8])

Regenerated by tools/gen_plans.py. Checks per plan: join
strategies, shuffle count (unique Exchange plan_ids), window-group-limit
presence (each count covers the query's own nodes, not the lineage a
cached table prints under its InMemoryRelation), and that `Generate`
never sits above the points table in the
query hot path (`BatchEvalPython`/`ArrowEval` = 0 in every JVM row path;
the only Arrow stages are the declared mapInPandas/pandas_udf operators:
kNN ring-cell generation, large-batch covers, media decode, ANN table
keys, GEMM block dedup — the duplicate collapse is pure JVM as of r6).
"""

NODE_RE = re.compile(
    r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|"
    r"WindowGroupLimit|Window|Generate|ArrowEvalPython|BatchEvalPython|MapInPandas|Sort|HashAggregate|"
    r"ObjectHashAggregate)\b"
)


def _above_cache(plan: str) -> str:
    """``plan`` without the subtree each InMemoryRelation prints (the
    lineage that built the cached table, not this query's work)."""
    kept, cut = [], None
    for ln in plan.splitlines():
        depth = len(ln) - len(ln.lstrip(" :+-"))
        if cut is not None and depth > cut:
            continue
        cut = depth if "InMemoryRelation" in ln else None
        kept.append(ln)
    return "\n".join(kept)


def op_counts(plan: str) -> dict:
    plan = _above_cache(plan)
    counts: dict[str, int] = {}
    for m in NODE_RE.finditer(plan):
        counts[m.group(1)] = counts.get(m.group(1), 0) + 1
    counts["Exchange(unique)"] = len(set(re.findall(r"Exchange[^\n]*plan_id=(\d+)", plan)))
    return counts


def trimmed(plan: str, max_lines: int = 45) -> str:
    lines = [ln.rstrip() for ln in plan.splitlines()]
    lines = [re.sub(r"#\d+L?", "", ln)[:110] for ln in lines if ln.strip()]
    if len(lines) > max_lines:
        lines = lines[:max_lines] + [f"... ({len(lines) - max_lines} more lines)"]
    return "\n".join(lines)


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _cfg():
    from pkd_tree_spark.config import EngineConfig

    return EngineConfig(dims=2, index_level=5, knn_level=4, partitions=8)


def _boxes(n: int):
    from pkd_tree_spark import fixtures as FX

    return FX.box_fixtures(n, 2)


def build_plan(spark, ix, sf) -> str:
    """A build's points layout: the plan that builds its cached points."""
    from pkd_tree_spark.documents import load_points
    from pkd_tree_spark.index import SpatialIndex

    pts = SpatialIndex.build(load_points(spark, sf, dims=2, dist="uniform"), _cfg()).points
    return pts._jdf.queryExecution().optimizedPlan().cachedPlan().toString()


def boundary_scan_plan(spark, ix, sf, n: int = 64) -> str:
    """A driver-finished count's one Spark query: the boundary scan that
    ranges._count collects (the driver does the rest)."""
    from pkd_tree_spark import ranges as R

    _, res = R._resolve(ix, "box", _boxes(n), None, count=True)
    scan = R._scan(ix, R._leaf_scan(ix, res)[0], ["x0", "x1"])
    scan.toPandas()
    return _executed(scan)


def boundary_join_plan(spark, ix, sf, n: int = 64) -> str:
    """A count's boundary query on the join side, built exactly as
    ranges._count builds it."""
    from pyspark.sql import functions as F

    from pkd_tree_spark import ranges as R

    _, cand = R._plan(ix, "box", _boxes(n), None, count=True)
    bq = cand.where(R._exact_pred("box", 2)).groupBy("qid").agg(F.count("*").alias("cnt"))
    bq.collect()
    return _executed(bq)


def executor_pass_plan(spark, ix, sf) -> str:
    from pkd_tree_spark import ranges as R

    return boundary_join_plan(spark, ix, sf, R.DISTRIBUTED_COVER_THRESHOLD + 100)


def report_plan(spark, ix, sf) -> str:
    from pkd_tree_spark import ranges as R

    rr = R.range_report_boxes(ix, _boxes(64))
    rr.collect()
    return _executed(rr)


def knn_round_scan_plan(spark, ix, sf) -> str:
    """A small kNN batch's round-1 Spark query within the bound, on an
    index that holds no driver-side rows yet: the scan that
    SpatialIndex.local_rows collects through Arrow (read by wrapping
    toArrow); later rounds and calls on the index run no query."""
    import dataclasses
    from unittest import mock

    from pkd_tree_spark import fixtures as FX
    from pkd_tree_spark.knn import knn

    cls = type(ix.points)
    real = cls.toArrow
    scans: list[str] = []

    def spy(self):
        out = real(self)
        scans.append(_executed(self))
        return out

    with mock.patch.object(cls, "toArrow", spy):
        knn(dataclasses.replace(ix, _rows=None), FX.knn_fixtures(32, 2), k=10).count()
    return scans[0]


def knn_round1_plan(spark, ix, sf) -> str:
    """The same batch's round-1 candidate join past the bound (patched to
    0 here), read by wrapping knn._candidate_join."""
    from unittest import mock

    from pkd_tree_spark import fixtures as FX
    from pkd_tree_spark import index as I
    from pkd_tree_spark.knn import knn
    from tests.conftest import candidate_joins

    with mock.patch.object(I, "DRIVER_FINISH_MAX_ROWS", 0), candidate_joins() as rounds:
        knn(ix, FX.knn_fixtures(32, 2), k=10).count()
    return rounds[0]["plan"]


def window_topk_plan(spark, ix, sf) -> str:
    """The window top-k shape, reproduced standalone on the schema the
    round uses (the in-loop plan is consumed by the round checkpoint)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = ix.points.select(
        (F.col("key") % 32).alias("qid"),
        (F.col("x0") * F.col("x0")).alias("dist2"),
        "key",
        F.col("span_idx").cast("long").alias("span_idx"),
    )
    w = Window.partitionBy("qid").orderBy("dist2", "key", "span_idx")
    topk = (
        df.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .groupBy("qid")
        .agg(F.collect_list(F.struct("dist2", "key", "span_idx")).alias("tk"))
    )
    topk.count()
    return _executed(topk)


def pruned_plan(spark, ix, sf) -> str | None:
    from pyspark.sql import functions as F

    from pkd_tree_spark.documents import load_points
    from pkd_tree_spark.index import SpatialIndex

    lattice = load_points(spark, sf, dims=2, dist="uniform").select(
        "doc_id", "span_idx", "key",
        *[(F.col(f"x{j}") % 10 * 99_991).alias(f"x{j}") for j in range(2)],
    )
    lix = SpatialIndex.build(lattice, _cfg())
    lix.points.count()
    pruned = lix.pruned_points(10)
    plan = None if pruned is None else _executed(pruned)
    lix.release()
    return plan


def delete_plan(spark, ix, sf) -> str:
    from pkd_tree_spark.updates import merge_delete

    bpd = ix.points.limit(256).select("key", "span_idx", "x0", "x1")
    return _executed(merge_delete(ix, bpd, exact_rows=True, persist=False).points)


def ann_plan(spark, ix, sf) -> str | None:
    if not os.path.exists(f"{sf}/embeddings.parquet"):
        return None
    from pkd_tree_spark.pipeline.similarity import ann_lsh

    ann = ann_lsh(spark.read.parquet(f"{sf}/embeddings.parquet"))
    ann.count()
    return _executed(ann)


SECTIONS = [
    (
        "index build (points layout)",
        "One rangepartitioning exchange (the counting-sort shuffle, "
        "build_tree.hpp:83-121); JVM-only derivation upstream; staging "
        "auto-gated OFF at this input size (index.py STAGE_INPUT_BYTES).",
        build_plan,
    ),
    (
        "range-count 64 boxes (driver-finished boundary scan)",
        "The count's one Spark query. Covers resolve DRIVER-SIDE to occupied "
        "leaf cells (resolve_covers_np); the interior sums are driver prefix "
        "sums. While the scanned rows plus the (row, query) pairs stay within "
        "DRIVER_FINISH_MAX_ROWS (exact from the prefix sums), the points' "
        "x0, x1 and morton are scanned ONCE (the Morton-interval pre-filter "
        "prunes cached batches when it pays) and collected; each resolved "
        "leaf's rows are found by searchsorted and tested in numpy. No join, "
        "no shuffle, NO Generate over the points.",
        boundary_scan_plan,
    ),
    (
        "range-count 64 boxes (leaf join, above DRIVER_FINISH_MAX_ROWS)",
        "The same batch past the bound (forced here by building the join "
        "plan directly): the resolved rows carry the box columns -> ONE "
        "broadcast equi-join on the derived leaf column, the plan's only "
        "join; NO Generate over the points; one qid shuffle.",
        boundary_join_plan,
    ),
    (
        "range-count 4100 boxes (executor resolution pass)",
        "Above DISTRIBUTED_COVER_THRESHOLD one mapInPandas pass over the "
        "query frame computes covers, interior sums and resolved leaves "
        "(carrying the box columns) against a broadcast of the skeleton; "
        "its output is checkpointed (the Scan ExistingRDD below) and the "
        "broadcast destroyed inside the call. Its interior rows (<= one "
        "per query) are collected; the resolved side is counted and "
        "broadcast-hinted when it fits RESOLVED_BCAST_BYTES. The boundary "
        "query is the leaf equi-join of the section above, without the "
        "Morton pre-filter.",
        executor_pass_plan,
    ),
    (
        "range-report 64 boxes",
        "Lazy: every cover cell resolves driver-side to (qid, leaf, "
        "interior, box columns) rows -> ONE broadcast equi-join with the "
        "points; interior-cell rows skip the predicate. No query-frame join "
        "and no shuffle.",
        report_plan,
    ),
    (
        "kNN driver round (one collected scan, within DRIVER_FINISH_MAX_ROWS)",
        "A small batch's round: the shells resolve DRIVER-SIDE to occupied "
        "leaves (or fine cells); while the scan's rows plus the (row, query) "
        "pairs it must test stay within index.DRIVER_FINISH_MAX_ROWS (exact "
        "from the prefix sums before any job) the candidate table's key, "
        "span_idx, x0, x1, morton and doc_id are scanned ONCE (the "
        "Morton-interval pre-filter prunes cached batches when it pays) and "
        "collected through Arrow; on the points table that collect is the "
        "index's driver-side rows (SpatialIndex.local_rows), made by the "
        "first such round whose scan reads the whole table (this plan) and "
        "read by every later round and call on the index with no job. Each "
        "shell cell's rows are a searchsorted run of the Morton keys, and "
        "dist2, the top-k merge and doc_id (for final top-k rows only) are "
        "numpy. At most one job, no join, no local cell relation, no shuffle.",
        knn_round_scan_plan,
    ),
    (
        "kNN round-1 candidate join",
        "The same round past index.DRIVER_FINISH_MAX_ROWS (patched to 0 here; optimized logical "
        "plan of the parts knn._candidate_join returns, read by wrapping it): "
        "shells leaf-resolved; lvl==-1 rows take the no-generate leaf "
        "equi-join against a local cell relation; the join projects doc_id, "
        "which the driver round collects with the candidates (no re-attach "
        "query for a batch finished on the driver). The distributed rounds "
        "run the same join against their persisted cells frame.",
        knn_round1_plan,
    ),
    (
        "kNN window top-k (bounded queue, nn_search_helpers.h:18-93)",
        "row_number rank filter -> WindowGroupLimit(Partial) BELOW the "
        "exchange: Tungsten map-side partial top-k, <= k rows per qid per "
        "partition cross the shuffle; no per-entry object aggregation "
        "(r4's collect_list ObjectHashAggregate — the 38.4M varden "
        "bottleneck — is gone from the hot path).",
        window_topk_plan,
    ),
    (
        "duplicate collapse (dummy-leaf analog, build_tree.hpp:183-186)",
        "JVM row_number window over the position columns: "
        "WindowGroupLimit(Partial) keeps <= cap rows per position "
        "map-side (duplicate groups are partition-local after the "
        "morton sort), so only the collapsed rows cross the exchange; "
        "a small rangepartitioning pass restores the morton layout "
        "for cached-batch min/max skipping. r5's Arrow mapInPandas "
        "pass (pd.concat per partition) is gone.",
        pruned_plan,
    ),
    (
        "batch delete survivors (U4, batch_delete.hpp:59-76 point-batch)",
        "Key set counted+broadcast -> BroadcastHashJoin LeftAnti streams "
        "the points in ONE pass, zero full-table shuffle (r5 sort-merge-"
        "shuffled all rows on key twice: 165s vs insert's 19.5s @16c at "
        "153.6M). exact_rows: the meta delta aggregates the batch itself "
        "— no left_semi pass. Oversized key sets (> DELETE_BCAST_ROWS) "
        "fall back to a shuffled HASH join (LeftAnti).",
        delete_plan,
    ),
    (
        "ann_lsh (bucketed MIPS)",
        "The query rows are collected once and the sorted Hamming-0/1/2 "
        "probe table is broadcast; the corpus makes ONE MapInPandas pass "
        "in its own partitioning (8-table keys, probe lookup, exact dots "
        "in bounded tiles, per-partition top-k) with no explode and no "
        "corpus shuffle; only <= k rows per query per partition reach "
        "the row_number window. That <= n_queries x k result is "
        "materialized inside the call and the broadcast destroyed, so "
        "the plan below is a scan of the local result. Corpus max-norm "
        "is memoized per corpus (no per-call full-table aggregate after "
        "the first).",
        ann_plan,
    ),
]


PLANS_MD = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH", "PLANS.md")


def recorded_counts() -> dict:
    """{section title: the op_counts recorded under it in BENCH/PLANS.md}."""
    with open(PLANS_MD) as f:
        text = f.read()
    return {
        m.group(1): json.loads(m.group(2))
        for m in re.finditer(r"^## (.+?)\n.*?^`(\{.*?\})`$", text, re.M | re.S)
    }


def index(spark, sf: str):
    """The uniform index every section but the build reads, materialized."""
    from pkd_tree_spark.documents import load_points
    from pkd_tree_spark.index import SpatialIndex

    ix = SpatialIndex.build(load_points(spark, sf, dims=2, dist="uniform"), _cfg())
    ix.points.count()
    ix.meta.count()
    return ix


def main() -> None:
    from pkd_tree_spark.session import get_spark

    spark = get_spark(app="gen-plans", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    # the data the tests read, so tests/test_plans.py rebuilds these plans
    from tests.conftest import SF_DIR as sf

    ix = index(spark, sf)
    out = [HEAD]
    for title, note, fn in SECTIONS:
        plan = fn(spark, ix, sf)
        if plan is None:
            continue
        out.append(f"\n## {title}\n")
        out.append(note + "\n")
        out.append("`" + json.dumps(op_counts(plan)) + "`\n")
        out.append("```\n" + trimmed(plan) + "\n```\n")
    with open(PLANS_MD, "w") as f:
        f.write("\n".join(out))
    print("wrote BENCH/PLANS.md")


if __name__ == "__main__":
    main()
