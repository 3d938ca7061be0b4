"""Benchmark entry point.

    python3 perfbench/run.py --workload graph_maintain --seed 1 --seconds 5 --trace 0

Run from the root of a checkout: it imports ``rindex_spark`` from there.
It generates the workload's inputs from the seed, sets up a local Spark
session sized to the box, runs the workload's closed loop for
``--seconds``, checks every output against the oracles, and prints one
JSON result as the last line of stdout.  The line before it holds the
details: box provenance, input sizes, per-operation timings, failures.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` reports the
per-layer metrics instead: it traces the set-up calls and every other
iteration, reads each traced span's counters from Spark's REST API,
writes the spans to ``perfbench/_out/`` and reports the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext
from pathlib import Path

import harness
from harness import BENCH_DIR, ROOT

# A run times at least this many iterations (a traced run at least one
# more, untraced, first); the median of two halves the weight of any one.
MIN_ITERS = 2


class Run:
    """One run's bookkeeping: ops attempted, failures, per-op timings."""

    def __init__(self, tracer):
        self.tr = tracer
        self.attempted = 0
        self.iteration = 0
        self.current = "setup"
        self.failures: list[tuple[int, str, str]] = []
        self.times: dict[str, list[float]] = {}  # untraced timed iterations
        self.iters: list[tuple[bool, float]] = []  # (traced, seconds of ops)
        self.walls: list[float] = []  # whole iterations, checks included
        self._cur: dict[str, float] = {}

    @contextmanager
    def op(self, name: str, times: dict[str, float] | None = None):
        """One timed call into the engine (its noop sink included)."""
        times = self._cur if times is None else times
        self.attempted += 1
        self.current = name
        t0 = time.perf_counter()
        with self.tr.span(name) as rec:
            yield rec
        times[name] = times.get(name, 0.0) + time.perf_counter() - t0
        self.current = "check"

    def check(self, name: str, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append((self.iteration, name, what))

    def plan(self, name: str, df) -> None:
        from workloads import PLAN_NODES

        missing = harness.plan_missing(df, PLAN_NODES[name])
        self.check(name, not missing, f"plan lost {missing}")

    def iterate(self, wl, traced: bool) -> float | None:
        """One iteration; returns the seconds its ops took, or None when it
        raised (counted as a failed op)."""
        self.iteration += 1
        self.tr.enabled = traced
        self._cur = {}
        t0 = time.monotonic()
        try:
            with self.tr.span(wl.name + ".iteration") if traced else nullcontext():
                wl.iteration(self, self.iteration)
            self.tr.collect()
        except Exception:  # noqa: BLE001 -- counted as a failed op, ends the run
            self.failures.append((self.iteration, self.current, traceback.format_exc()))
            print(self.failures[-1][2], file=sys.stderr)
            return None
        self.walls.append(time.monotonic() - t0)
        return sum(self._cur.values())

    def keep(self, traced: bool, secs: float) -> None:
        """Record the last iteration as a timed sample."""
        if not traced:
            for k, v in self._cur.items():
                self.times.setdefault(k, []).append(v)
        self.iters.append((traced, secs))

    @property
    def failed(self) -> int:
        """Ops that raised or failed a check, each op call counted once."""
        return len({(i, name) for i, name, _ in self.failures})


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="rindex_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _start(work: Path, b: dict):
    """Start the session: launch the JVM, start and import-warm the Python
    workers.  Returns the session and the seconds it took."""
    t0 = time.perf_counter()
    spark = harness.start_session(work, b)
    harness.warm_workers(spark, b["nproc"])
    return spark, time.perf_counter() - t0


def _loop(wl, run: Run, seconds: float, traced: bool) -> None:
    """Closed loop: the next iteration starts when the previous one ended,
    until ``seconds`` have passed and at least MIN_ITERS iterations ran.  A
    traced run starts with an untraced iteration, then traces every other
    one, so the tracing overhead compares iterations that are equally
    warm."""
    t_end = time.monotonic() + seconds
    n = 0
    while n < MIN_ITERS + traced or time.monotonic() < t_end:
        on = traced and n % 2 == 1
        secs = run.iterate(wl, on)
        if secs is None:
            return
        run.keep(on, secs)
        n += 1


def _metrics(wl, run: Run, setup_s: float, peak_mb: float) -> tuple[dict, dict]:
    """End-to-end metrics, plus the workload's named timings for the
    details line."""
    iters = [t for traced, t in run.iters if not traced]
    unit = [sum(run.times[k][i] for k in wl.UNIT_OPS) for i in range(len(iters))]
    e2e = {
        "setup_s": (setup_s, "s"),
        "peak_pss_mb": (peak_mb, "MB"),
        "throughput_per_s": (wl.n / statistics.median(unit), "1/s"),
        "iter_p50_s": (statistics.median(iters), "s"),
    }
    named = {}
    for name, ops in wl.NAMED.items():
        xs = [sum(run.times[k][i] for k in ops) for i in range(len(iters))]
        if name.endswith("_per_s"):
            named[name] = {"value": wl.n / statistics.median(xs), **harness.summary([wl.n / x for x in xs])}
        else:
            named[name] = {"value": statistics.median(xs), **harness.summary(xs)}
    named["ops"] = {k: {**harness.summary(v), "all": v} for k, v in run.times.items()}
    return e2e, named


def _per_layer(run: Run, spans: list[str]) -> dict[str, float]:
    traced = [t for on, t in run.iters if on]
    plain = [t for on, t in run.iters[1:] if not on]
    layer = run.tr.per_layer(spans)
    layer["knn.build.useful_ratio"] = run.tr.ratio("knn.build", "useful")
    layer["range.useful_ratio"] = run.tr.ratio("range.join", "useful")
    layer["dedup.ngram.useful_ratio"] = run.tr.ratio("dedup.ngram", "useful")
    layer["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(plain) - 1.0
    return layer


def main() -> int:
    args = _parse()
    sys.path.insert(0, str(ROOT))
    import rindex_spark  # noqa: F401 -- fail fast, before any work, without the engine

    from workloads import SPANS, WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    b = harness.box()
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    work = BENCH_DIR / "_work" / run_id
    harness.prepare_env(work)
    wl = WORKLOADS[args.workload]()
    spark = None
    try:
        sizes = wl.generate(args.seed, work, b["nproc"])
        spark, session_s = _start(work, b)
        run = Run(harness.Tracer(spark, run_id, enabled=bool(args.trace)))
        t0 = time.perf_counter()
        own = wl.setup(run, spark)
        setup_s = session_s + time.perf_counter() - t0
        wl.setup_checks(run)
        run.tr.collect()
        with harness.PeakMemory(harness.jvm_pid(spark)) as mem:
            _loop(wl, run, args.seconds, traced=bool(args.trace))
        if not any(not traced for traced, _ in run.iters):
            raise RuntimeError("no untraced iteration completed: " + run.failures[-1][2])
        e2e, named = _metrics(wl, run, setup_s, mem.peak)
        named["peak_pss_parts"] = dict(zip(("jvm_mb", "workers_mb", "worker_procs"), mem.parts))
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "box": b,
            "inputs": sizes,
            "setup": {"session_s": session_s, "setup_s": setup_s, **own},
            "iteration_walls_s": run.walls,
            "named": named,
            "failed_ratio": run.failed / run.attempted,
            "failures": [f"iter {i} {n}: {w.strip().splitlines()[-1]}" for i, n, w in run.failures[:10]],
        }
        if args.trace:
            layer = _per_layer(run, SPANS)
            out = BENCH_DIR / "_out" / f"trace-{run_id}.json"
            run.tr.dump(out, {"workload": args.workload, "seed": args.seed, "box": b, "per_layer": layer})
            detail["trace_file"] = str(out.relative_to(ROOT))
            metrics = {
                k: {"value": v, "unit": harness.SPAN_COUNTERS.get(k.rsplit(".", 1)[1], "ratio")}
                for k, v in layer.items()
            }
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
