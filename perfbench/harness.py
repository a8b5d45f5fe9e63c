"""The closed loop: one client issues timed calls back to back, each
checked outside its timed region, and the samples become metrics."""

from __future__ import annotations

import logging
import time
import traceback
from collections import defaultdict

import stats
from spans import Tracer

log = logging.getLogger("perfbench")


class CheckFailed(Exception):
    pass


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


class Harness:
    """Samples, failure counts and spans of one workload run.

    `op` runs one timed call. The call must return its result materialized
    the way a user consumes it; the check then runs untimed. A call that
    raises or fails its check counts as failed and leaves no latency
    sample. Every cycle of the loop runs either untraced (end-to-end
    samples) or traced (spans plus the program's own counters)."""

    def __init__(self, traced: bool):
        self.off = Tracer(False)
        self.on = Tracer(True) if traced else None
        self.samples = {False: defaultdict(list), True: defaultdict(list)}
        self.items = defaultdict(int)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.counters: dict[str, list[float]] = defaultdict(list)
        self.extra: dict = {}
        self.recording = True  # False during warm-up: checked, not sampled

    def op(self, kind: str, fn, t: Tracer, check=None, items: int = 0):
        self.attempted += 1
        try:
            with t.span("op." + kind):
                t0 = time.perf_counter()
                out = fn(t)
                wall = time.perf_counter() - t0
            if check is not None:
                check(out)
        except Exception as e:  # noqa: BLE001 -- the loop must go on and report the failure
            self.failed += 1
            self.failures.append(f"{kind}: {type(e).__name__}: {e}"[:500])
            log.error("%s failed:\n%s", kind, traceback.format_exc())
            return None
        if not self.recording:
            return out
        self.samples[t.enabled][kind].append(wall)
        if not t.enabled:
            self.items[kind] += items
        return out

    def count(self, name: str, value: float) -> None:
        self.counters[name].append(float(value))

    def loop(self, seconds: float, cycle, min_cycles: int = 1) -> int:
        """Run `cycle(tracer, n)` until `seconds` have passed and each tracer
        has run `min_cycles` cycles, so every run has the same mix of calls.
        With tracing on, cycles alternate untraced and traced, so both kinds
        of sample come from the same warm process."""
        tracers = [self.off] + ([self.on] if self.on else [])
        t_end = time.perf_counter() + seconds
        n = 0
        while n < min_cycles * len(tracers) or time.perf_counter() < t_end:
            cycle(tracers[n % len(tracers)], n)
            n += 1
        return n

    # -- reduction ---------------------------------------------------------

    def p50(self, kind: str, traced: bool = False) -> float | None:
        xs = self.samples[traced].get(kind)
        return stats.median(xs) if xs else None

    def summary(self) -> dict:
        """Per-kind median, tail and sample count of the untraced samples."""
        return {
            kind: {"p50_s": stats.median(xs), "tail": stats.tail(xs), "n": len(xs)}
            for kind, xs in sorted(self.samples[False].items())
        }

    def call_p50_s(self) -> float:
        return stats.geomean([stats.median(xs) for xs in self.samples[False].values()])

    def trace_overhead_frac(self) -> float | None:
        kinds = [k for k in self.samples[False] if k in self.samples[True]]
        if not kinds:
            return None
        return stats.geomean([self.p50(k, True) / self.p50(k) for k in kinds]) - 1.0
