"""Janino compiles per benchmark call: run one perfbench workload and
report, per call kind, how many classes each call compiled.

    python tools/compile_counts.py --workload update_mixed --seed 1 --seconds 8

Run from the repository root. The workload runs exactly as
``perfbench/run.py`` runs it (same environment, inputs and loop); each
timed call is wrapped to read Spark's CodegenMetrics compilation count
before and after it. Prints one JSON line: per kind, the compiles of every
call in call order and their median over the steady-state calls (all but
each kind's first call).
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "perfbench"))

import run as perfbench_run  # noqa: E402


def compile_count() -> int:
    from pyspark import SparkContext

    return int(SparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount())


def main(argv=None) -> int:
    args = perfbench_run.parse_args(argv)
    import harness

    per_call: dict[str, list[int]] = defaultdict(list)
    op = harness.Harness.op

    def counted_op(self, kind, fn, t, check=None, items=0):
        before = compile_count()
        out = op(self, kind, fn, t, check, items)
        if self.recording:
            per_call[kind].append(compile_count() - before)
        return out

    harness.Harness.op = counted_op
    record = perfbench_run.run(args)
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "cpus": record["cpus"],
        "failed": record["failed"],
        "compiles_per_call": dict(per_call),
        "steady_median": {k: statistics.median(v[1:]) for k, v in per_call.items() if len(v) > 1},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
