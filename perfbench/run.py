"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve_uniform --seed 1 --seconds 10 --trace 0

Run from the repository root. The runner pins its environment (local[nproc],
driver memory, Spark scratch directories under .perfbench/, PYTHONPATH at the
repository), builds every input from --seed, runs the workload's closed
loop for --seconds, checks every result, and prints the metrics: a
readable table, then one JSON line with `correct`, `attempted`, `failed`
and `metrics` (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1). The full record, with per-call samples and spans, goes to
.perfbench/records/. Exits non-zero without a result line if the run
cannot complete.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import shlex
import shutil
import sys
import time
from pathlib import Path

import stats

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DRIVER_MEM = "3g"  # well below a 15 GB machine; session.py defaults to 16g
WORKLOAD_NAMES = ("serve_uniform", "update_mixed")  # workloads.py imports pyspark: only after pinning


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(workdir: Path, cpus: int) -> None:
    """Everything Spark and its Python workers inherit, set before the JVM
    starts: executors import the package from PYTHONPATH, and every scratch
    file lands under `workdir`."""
    tmp = workdir / "tmp"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=str(workdir / "spark-local"),
        TMPDIR=str(tmp),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), str(HERE), os.environ.get("PYTHONPATH")])),
        PYSPARK_SUBMIT_ARGS="--driver-java-options "
        + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        + " pyspark-shell",
    )
    for p in (str(ROOT), str(HERE)):
        if p not in sys.path:
            sys.path.insert(0, p)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 -- a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def end_to_end(h, setup_s: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "call_p50_s": (h.call_p50_s(), "s"),
        "knn_batch_p50_s": (h.p50("knn_batch"), "s"),
        "range_count_batch_p50_s": (h.p50("range_count"), "s"),
    }


MEASURE_UNITS = {"wall_s": "s", "driver_s": "s", "executor_s": "s", "jobs": "count", "shuffle_write_bytes": "bytes"}
# span name -> measures reported per layer (times only for calls both workloads make)
SPAN_MEASURES = {
    "session.get_spark": ("wall_s",),
    "documents.load_points": ("wall_s",),
    "index.build": ("wall_s", "driver_s", "executor_s", "jobs", "shuffle_write_bytes"),
    "index.meta_np": ("wall_s", "jobs"),
    "knn.knn": ("wall_s", "driver_s", "executor_s", "jobs"),
    "knn.collect": ("wall_s", "jobs"),
    "ranges.range_count_boxes": ("wall_s", "driver_s", "executor_s", "jobs"),
    **{
        name: ("jobs",)
        for name in (
            "ranges.range_report_boxes",
            "updates.merge_insert",
            "updates.merge_delete",
            "updates.checkpoint_index",
            "updates.merge_insert_cow",
            "updates.merge_delete_cow",
            "similarity.ann_lsh",
            "similarity.topk_dot",
        )
    },
}
COUNTER_UNITS = {
    "index.meta_cells": "count",
    "index.pruned_rows": "count",
    "knn.avg_ring_rounds": "count",
    "knn.max_ring_rounds": "count",
    "knn.candidate_rows_per_result": "ratio",
    "ranges.cover_cells_per_query": "count",
    "ranges.interior_cell_share": "ratio",
    "updates.cow_buckets_touched": "count",
    "updates.cow_bytes_written_per_user_byte": "ratio",
    "updates.index_disk_bytes_per_point": "bytes",
}


def per_layer(h) -> dict:
    """Per-layer metrics from the traced set-up and cycles: for each span
    name, the median of each measure over its spans; for each counter, its
    median. A layer the workload never calls reads 0."""
    by_name: dict[str, list[dict]] = {}
    for s in h.on.spans:
        by_name.setdefault(s.name, []).append(s.metrics)
    out = {}
    for name, measures in SPAN_MEASURES.items():
        for m in measures:
            xs = [sm[m] for sm in by_name.get(name, [])]
            out[f"{name}.{m}"] = (stats.median(xs) if xs else 0, MEASURE_UNITS[m])
    for name, unit in COUNTER_UNITS.items():
        xs = h.counters.get(name)
        out[name] = (stats.median(xs) if xs else 0, unit)
    ops = [(i, s) for i, s in enumerate(h.on.spans) if s.name.startswith("op.")]
    for m in ("driver_s", "executor_s", "jobs", "shuffle_write_bytes"):
        out[f"loop.{m}_per_call"] = (sum(s.metrics[m] for _, s in ops) / len(ops), MEASURE_UNITS[m])
    op_wall = sum(s.wall_s for _, s in ops)
    covered = sum(s.wall_s - h.on.self_time_s(i) for i, s in ops)
    out["trace.span_coverage"] = (covered / op_wall, "ratio")
    out["trace_overhead_frac"] = (h.trace_overhead_frac() or 0.0, "ratio")
    return out


def run(args) -> dict:
    cpus = len(os.sched_getaffinity(0))
    workdir = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    pin_environment(workdir, cpus)
    logging.basicConfig(stream=sys.stderr, level=logging.WARNING, format="perfbench: %(message)s")

    from harness import Harness
    from workloads import WORKLOADS

    h = Harness(traced=bool(args.trace))
    w = WORKLOADS[args.workload](h, args.seed, cpus, str(workdir))
    try:
        for sub in ("spark-local", "tmp"):
            (workdir / sub).mkdir(parents=True, exist_ok=True)
        setup_s = w.setup()
        t0 = time.perf_counter()
        cycles = h.loop(args.seconds, lambda t, n: w.cycle(t, n + 1), w.min_cycles)
        loop_s = time.perf_counter() - t0
        # JVM heap growth makes this swing by up to 40% between runs, so it
        # is recorded and printed but not one of the gated metrics
        h.extra["peak_rss_mb"] = vm_hwm_mb("self") + vm_hwm_mb(w.spark.sparkContext._gateway.proc.pid)
    finally:
        if w.spark is not None:
            stop_spark(w.spark)
        shutil.rmtree(workdir, ignore_errors=True)

    if args.trace:
        metrics = per_layer(h)
    else:
        metrics = end_to_end(h, setup_s)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "driver_mem": DRIVER_MEM,
        "n_points": w.n_points,
        "cycles": cycles,
        "loop_s": loop_s,
        "setup_s": setup_s,
        "calls": h.summary(),
        "items_per_s": {k: h.items[k] / sum(h.samples[False][k]) for k in h.items if h.samples[False][k]},
        "series": h.samples[False],  # untraced walls per call kind, in call order
        "counters": h.counters,
        "extra": h.extra,
        "attempted": h.attempted,
        "failed": h.failed,
        "failed_op_share": stats.failed_op_share(h.attempted, h.failed),
        "failures": h.failures,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "spans": h.on.dump() if h.on else [],
    }
    rec_dir = ROOT / ".perfbench" / "records"
    rec_dir.mkdir(parents=True, exist_ok=True)
    (rec_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(json.dumps(record, indent=1))
    return record


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "pkd_tree_spark").is_dir():  # benchmark this checkout's code, never another copy
        print(f"perfbench: no pkd_tree_spark package under {ROOT}", file=sys.stderr)
        return 2
    record = run(args)
    for kind, s in record["calls"].items():
        tail = s["tail"]
        tail_txt = f"p{tail['p']} {tail['value']:.4f} s" if tail["value"] is not None else "no tail (too few samples)"
        print(f"{kind:>18}: p50 {s['p50_s']:.4f} s, {tail_txt}, n={s['n']}")
    for k, v in record["extra"].items():
        print(f"{k:>18}: {v}")
    print(f"{'failed_op_share':>18}: {record['failed_op_share']} ({record['failed']}/{record['attempted']})")
    for k, m in record["metrics"].items():
        print(f"{k:>18}: {m['value']} {m['unit']}")
    result = {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": record["metrics"],
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
