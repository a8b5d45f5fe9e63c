"""Regenerate BENCH/PLANS.md: physical-plan evidence for the headline
operators on sf0.001 at local[8].

Captures, per operator, the executed/optimized plan and a node-count
summary (unique plan_ids for Exchange — cached lineage re-prints inflate
raw text counts). Run from the repo root:

    python tools/gen_plans.py
"""

from __future__ import annotations

import json
import re

HEAD = """# Physical plans of the headline operators (sf0.001, local[8])

Regenerated round 6 (tools/gen_plans.py). Checks per plan: join
strategies, shuffle count (unique Exchange plan_ids), window-group-limit
presence, and that `Generate` never sits above the points table in the
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


def op_counts(plan: str) -> dict:
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


def main() -> None:
    from pyspark.sql import functions as F

    from pkd_tree_spark import fixtures as FX
    from pkd_tree_spark.config import EngineConfig
    from pkd_tree_spark.documents import load_points
    from pkd_tree_spark.index import SpatialIndex
    from pkd_tree_spark.knn import knn
    from pkd_tree_spark import ranges as R
    from pkd_tree_spark.session import get_spark

    spark = get_spark(app="gen-plans", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.001"
    cfg = EngineConfig(dims=2, index_level=5, knn_level=4, partitions=8)

    out = [HEAD]

    def section(title: str, note: str, plan: str) -> None:
        out.append(f"\n## {title}\n")
        out.append(note + "\n")
        out.append("`" + json.dumps(op_counts(plan)) + "`\n")
        out.append("```\n" + trimmed(plan) + "\n```\n")

    # --- build ---
    pts = load_points(spark, sf, dims=2, dist="uniform")
    ix = SpatialIndex.build(pts, cfg)
    section(
        "index build (points layout)",
        "One rangepartitioning exchange (the counting-sort shuffle, "
        "build_tree.hpp:83-121); JVM-only derivation upstream; staging "
        "auto-gated OFF at this input size (index.py STAGE_INPUT_BYTES).",
        ix.points._jdf.queryExecution().executedPlan().toString(),
    )
    ix.points.count()
    ix.meta.count()

    # --- range count (leaf-resolved) ---
    # a count returns a local frame, so record the one Spark query it runs:
    # the boundary counts, built here exactly as ranges._count builds them
    def boundary_count_plan(boxes) -> str:
        _, cand = R._plan(ix, "box", boxes, None, count=True)
        bq = cand.where(R._exact_pred("box", 2)).groupBy("qid").agg(F.count("*").alias("cnt"))
        bq.collect()
        return bq._jdf.queryExecution().executedPlan().toString()

    boxes = FX.box_fixtures(64, 2)
    section(
        "range-count 64 boxes (leaf-resolved single-scan plan)",
        "The count's one Spark query (its boundary counts; the interior "
        "sums are driver prefix sums, zero jobs, and both are added per "
        "qid on the driver). Covers resolve DRIVER-SIDE to occupied leaf "
        "cells (resolve_covers_np) whose rows carry the box columns -> "
        "ONE broadcast equi-join on the derived leaf column, the plan's "
        "only join; NO Generate over the points; one qid shuffle. The "
        "Morton-interval pre-filter prunes cached batches when it pays.",
        boundary_count_plan(boxes),
    )

    # --- range count above DISTRIBUTED_COVER_THRESHOLD (executor pass) ---
    nbig = R.DISTRIBUTED_COVER_THRESHOLD + 100
    section(
        f"range-count {nbig} boxes (executor resolution pass)",
        "Above DISTRIBUTED_COVER_THRESHOLD one mapInPandas pass over the "
        "query frame computes covers, interior sums and resolved leaves "
        "(carrying the box columns) against a broadcast of the skeleton; "
        "its output is checkpointed (the Scan ExistingRDD below) and the "
        "broadcast destroyed inside the call. Its interior rows (<= one "
        "per query) are collected; the resolved side is counted and "
        "broadcast-hinted when it fits RESOLVED_BCAST_BYTES. The boundary "
        "query is the same single leaf equi-join as the driver plan, "
        "without the Morton pre-filter.",
        boundary_count_plan(FX.box_fixtures(nbig, 2)),
    )

    # --- range report ---
    rr = R.range_report_boxes(ix, boxes)
    rr.collect()
    section(
        "range-report 64 boxes",
        "Lazy, like the count's boundary query: every cover cell resolves "
        "driver-side to (qid, leaf, interior, box columns) rows -> ONE "
        "broadcast equi-join with the points; interior-cell rows skip the "
        "predicate. No query-frame join and no shuffle.",
        rr._jdf.queryExecution().executedPlan().toString(),
    )

    # --- kNN round-1 candidate join + window top-k ---
    plans: list = []
    res = knn(ix, FX.knn_fixtures(32, 2), k=10, plan_log=plans)
    res.count()
    cand_note = (
        "Round-1 candidate join (optimized logical plan, via the knn "
        "plan_log probe): shells leaf-resolved; lvl==-1 rows take the "
        "no-generate leaf equi-join; the join projects doc_id, which the "
        "driver rounds collect with the candidates (no re-attach query "
        "for a batch finished on the driver). lvl_counts per round: "
        + json.dumps([p["lvl_counts"] for p in plans])
    )
    section("kNN round-1 candidate join", cand_note, plans[0]["plan"])

    # Window top-k physical shape (reproduced standalone on the same
    # schema the round uses — the in-loop plan is consumed by the round
    # checkpoint and not directly printable):
    from pyspark.sql import Window

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
    section(
        "kNN window top-k (bounded queue, nn_search_helpers.h:18-93)",
        "row_number rank filter -> WindowGroupLimit(Partial) BELOW the "
        "exchange: Tungsten map-side partial top-k, <= k rows per qid per "
        "partition cross the shuffle; no per-entry object aggregation "
        "(r4's collect_list ObjectHashAggregate — the 38.4M varden "
        "bottleneck — is gone from the hot path).",
        topk._jdf.queryExecution().executedPlan().toString(),
    )

    # --- duplicate collapse (pruned_points window form) ---
    lattice = pts.select(
        "doc_id", "span_idx", "key",
        *[(F.col(f"x{j}") % 10 * 99_991).alias(f"x{j}") for j in range(2)],
    )
    lix = SpatialIndex.build(lattice, cfg)
    lix.points.count()
    pruned = lix.pruned_points(10)
    if pruned is not None:
        section(
            "duplicate collapse (dummy-leaf analog, build_tree.hpp:183-186)",
            "JVM row_number window over the position columns: "
            "WindowGroupLimit(Partial) keeps <= cap rows per position "
            "map-side (duplicate groups are partition-local after the "
            "morton sort), so only the collapsed rows cross the exchange; "
            "a small rangepartitioning pass restores the morton layout "
            "for cached-batch min/max skipping. r5's Arrow mapInPandas "
            "pass (pd.concat per partition) is gone.",
            pruned._jdf.queryExecution().executedPlan().toString(),
        )
    lix.release()

    # --- batch delete (broadcast anti-join, no full-table shuffle) ---
    from pkd_tree_spark.updates import merge_delete

    bpd = ix.points.limit(256).select("key", "span_idx", "x0", "x1")
    dels = merge_delete(ix, bpd, exact_rows=True, persist=False)
    section(
        "batch delete survivors (U4, batch_delete.hpp:59-76 point-batch)",
        "Key set counted+broadcast -> BroadcastHashJoin LeftAnti streams "
        "the points in ONE pass, zero full-table shuffle (r5 sort-merge-"
        "shuffled all rows on key twice: 165s vs insert's 19.5s @16c at "
        "153.6M). exact_rows: the meta delta aggregates the batch itself "
        "— no left_semi pass. Oversized key sets (> DELETE_BCAST_ROWS) "
        "fall back to a shuffled HASH join (LeftAnti).",
        dels.points._jdf.queryExecution().executedPlan().toString(),
    )

    # --- ann_lsh ---
    import os

    if os.path.exists(f"{sf}/embeddings.parquet"):
        from pkd_tree_spark.pipeline.similarity import ann_lsh

        emb = spark.read.parquet(f"{sf}/embeddings.parquet")
        ann = ann_lsh(emb)
        ann.count()
        section(
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
            ann._jdf.queryExecution().executedPlan().toString(),
        )

    with open("BENCH/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote BENCH/PLANS.md")


if __name__ == "__main__":
    main()
