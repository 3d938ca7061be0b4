"""Session, sizing, sinks, plan checks, memory sampling and the REST tracer.

The benchmark only ever observes the engine from the outside: it sets no
``RINDEX_*`` variable and reads no module-level diagnostic.  Per-layer
counters come from Spark's own monitoring REST API, grouped by the job
group the benchmark sets around each call into a layer.
"""

from __future__ import annotations

import json
import os
import socket
import statistics
import subprocess
import threading
import time
import urllib.request
from concurrent.futures import ProcessPoolExecutor
from contextlib import contextmanager
from datetime import datetime, timezone
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent


# ---------------------------------------------------------------------------
# box sizing and provenance


def _cpu_probe(_=None) -> float:
    """Seconds for a fixed pure-Python loop: shows a slow or contended CPU."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    return time.perf_counter() - t0


def _cpu_probe_parallel(n: int) -> float:
    """Median seconds of the same loop run in ``n`` processes at once.  On a
    shared host the box's cores can be slower together than one alone."""
    with ProcessPoolExecutor(n) as ex:
        return statistics.median(ex.map(_cpu_probe, range(n)))


def box() -> dict:
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    mem_mb = mem_kb // 1024
    try:
        limit = Path("/sys/fs/cgroup/memory.max").read_text().strip()
        if limit.isdigit():
            mem_mb = min(mem_mb, int(limit) // (1024 * 1024))
    except OSError:
        pass
    return {
        "nproc": nproc,
        "mem_total_mb": mem_mb,
        "loadavg_1m": os.getloadavg()[0],
        "cpu_probe_s": _cpu_probe(),
        "cpu_probe_parallel_s": _cpu_probe_parallel(nproc),
        # a quarter of the box for the driver heap, between 1 and 8 GiB
        "driver_heap_mb": max(1024, min(8192, mem_mb // 4)),
    }


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def prepare_env(work: Path) -> None:
    """Process environment for the JVM and its Python workers: the engine
    and the benchmark modules importable on executors, all scratch space
    inside the run's work directory."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(BENCH_DIR)]
        + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)


def start_session(work: Path, b: dict):
    from pyspark.sql import SparkSession

    n = b["nproc"]
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("rindex-perfbench")
        .config("spark.driver.memory", f"{b['driver_heap_mb']}m")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config(
            "spark.driver.extraJavaOptions",
            # a fixed heap and young generation: the collector never resizes
            # them, so the heap's resident pages follow the allocations, not
            # when a resize happened to be decided
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData -Xmn384m -Xms{b['driver_heap_mb']}m",
        )
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", str(_free_port()))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "200")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm(batches):
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    import rindex_spark  # noqa: F401

    yield from batches


def _warm_cogroup(left, right):
    return left


def warm_workers(spark, nproc: int) -> None:
    """Start one Python worker per core, import the engine in each, and run
    each kind of Python evaluation the engine uses once (map, scalar pandas
    UDF, cogrouped map), so their first call is not timed."""
    from pyspark.sql import functions as F

    df = spark.range(0, 4096, 1, 4 * nproc).withColumn("g", F.col("id") % 8)
    df.mapInPandas(_warm, "id long, g long").count()
    df.select(F.pandas_udf(lambda s: s + 1, "long")("id")).count()
    df.groupBy("g").cogroup(df.groupBy("g")).applyInPandas(_warm_cogroup, "id long, g long").count()


# ---------------------------------------------------------------------------
# sink and plan check


def noop(df) -> None:
    """Materialize every output column and discard it."""
    df.write.format("noop").mode("overwrite").save()


def plan_missing(df, needles: tuple[str, ...]) -> list[str]:
    """Defining plan nodes absent from ``df``'s physical plan (cached
    relations included)."""
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    return [n for n in needles if n not in plan]


# ---------------------------------------------------------------------------
# memory: peak PSS of the driver JVM plus every process below it (the
# Python worker daemon and the workers it forks).  PSS, not RSS: forked
# workers share the daemon's imported modules, and a sum of RSS would count
# those pages once per worker, so it would follow how many idle workers
# happen to be alive rather than the memory in use.


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for ln in f:
                if ln.startswith("Pss:"):
                    return int(ln.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb(root: int) -> tuple[float, float, int]:
    """PSS of ``root`` and of all its descendants, in MB, and how many
    descendants there are."""
    kids = _children()
    below, n, stack = 0, 0, list(kids.get(root, ()))
    while stack:
        p = stack.pop()
        below += _pss_kb(p)
        n += 1
        stack.extend(kids.get(p, ()))
    return _pss_kb(root) / 1024.0, below / 1024.0, n


class PeakMemory:
    """Samples the process tree's PSS every ``period`` seconds."""

    def __init__(self, root_pid: int, period: float = 0.25):
        self.root, self.period, self.peak = root_pid, period, 0.0
        self.parts = (0.0, 0.0, 0)  # (JVM, workers, worker processes) at the peak
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            jvm, workers, n = tree_pss_mb(self.root)
            if jvm + workers > self.peak:
                self.peak, self.parts = jvm + workers, (jvm, workers, n)
            self._stop.wait(self.period)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid  # noqa: SLF001


def stop_session(spark) -> None:
    """Stop Spark, then its JVM, and wait until the JVM has exited."""
    gateway = spark.sparkContext._gateway  # noqa: SLF001
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# ---------------------------------------------------------------------------
# timing summaries


def summary(xs: list[float]) -> dict:
    """Median, sample count, and the highest percentile that still has at
    least ten samples beyond it (None below 20 samples)."""
    n = len(xs)
    out = {"n": n, "p50": statistics.median(xs) if xs else None}
    if n >= 20:
        p = int(100 * (1 - 10 / n))
        out[f"p{p}"] = statistics.quantiles(xs, n=100, method="inclusive")[p - 1]
    return out


# ---------------------------------------------------------------------------
# tracing


# every span's counters and their units
SPAN_COUNTERS = {
    "wall_s": "s",
    "jobs": "count",
    "cpu_s": "s",
    "py_s": "s",
    "shuffle_bytes": "B",
    "persisted_rdds": "count",
}


def _epoch_s(ts: str | None) -> float | None:
    if not ts:
        return None
    dt = datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


class Tracer:
    """Spans around calls into the engine's layers.

    ``span`` sets a job group for the call, records its wall time and
    counts the RDDs it left cached.  ``collect`` then reads the group's
    jobs and stages from the REST API.  Disabled, ``span`` does nothing."""

    def __init__(self, spark, run_id: str, enabled: bool):
        sc = spark.sparkContext
        self.sc, self.run_id, self.enabled = sc, run_id, enabled
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.spans: list[dict] = []
        self._pending: list[dict] = []
        self._stack: list[tuple[str, str]] = []
        self._seq = 0

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _cached(self) -> set[int]:
        return {r["id"] for r in self._get("/storage/rdd")}

    def _settle(self) -> None:
        """Wait until Spark's listener bus has delivered every event so far,
        so the status store behind the REST API has seen the span's jobs."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)  # noqa: SLF001

    @contextmanager
    def span(self, name: str):
        """With tracing on, tag one call with its own job group and record
        it; off, do nothing."""
        if not self.enabled:
            yield None
            return
        self._seq += 1
        group = f"{self.run_id}:{self._seq}:{name}"
        rec = {
            "name": name,
            "run_id": self.run_id,
            "group": group,
            "parent": self._stack[-1][0] if self._stack else None,
        }
        self._settle()
        cached_before = self._cached()
        self._stack.append((group, name))
        self.sc.setJobGroup(group, name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["wall_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(*self._stack[-1])
            else:
                self.sc._jsc.clearJobGroup()  # noqa: SLF001
            self._settle()
            rec["persisted_rdds"] = len(self._cached() - cached_before)
            self.spans.append(rec)
            self._pending.append(rec)

    def collect(self) -> None:
        """Attach stage counters to the spans closed since the last call."""
        if not self._pending:
            return
        self._settle()
        jobs = {}
        for j in self._get("/jobs"):
            jobs.setdefault(j.get("jobGroup"), []).append(j)
        stages = {}
        for s in self._get("/stages"):
            if s["status"] == "COMPLETE":
                stages.setdefault(s["stageId"], []).append(s)
        for rec in self._pending:
            mine = jobs.get(rec["group"], [])
            ids = {sid for j in mine for sid in j["stageIds"]}
            cpu = run = sh = recs = 0
            for sid in ids:
                for s in stages.get(sid, ()):
                    sub = _epoch_s(s.get("submissionTime"))
                    # a stage a job skipped ran under an earlier span
                    if sub is None or sub < rec["start"] - 0.002:
                        continue
                    cpu += s["executorCpuTime"] / 1e9
                    run += s["executorRunTime"] / 1e3
                    sh += s["shuffleReadBytes"] + s["shuffleWriteBytes"]
                    recs += s["shuffleWriteRecords"]
            rec.update(
                jobs=len(mine),
                cpu_s=cpu,
                py_s=max(run - cpu, 0.0),
                shuffle_bytes=sh,
                shuffle_write_records=recs,
            )
        self._pending = []

    def per_layer(self, span_names: list[str]) -> dict[str, float]:
        """Median of each counter over the run's calls of each span; 0 for a
        span the workload never calls."""
        out = {}
        for name in span_names:
            recs = [r for r in self.spans if r["name"] == name and "jobs" in r]
            for c in SPAN_COUNTERS:
                out[f"{name}.{c}"] = statistics.median([r[c] for r in recs]) if recs else 0.0
        return out

    def ratio(self, name: str, useful_key: str) -> float:
        """Median over calls of useful outputs / shuffle records written."""
        vals = [
            r[useful_key] / r["shuffle_write_records"]
            for r in self.spans
            if r["name"] == name and r.get("shuffle_write_records") and useful_key in r
        ]
        return statistics.median(vals) if vals else 0.0

    def dump(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({**extra, "spans": self.spans}, indent=1))
