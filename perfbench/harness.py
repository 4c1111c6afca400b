"""Session lifecycle, timing statistics, box-drift probes and tracing.

Nothing here knows about a particular workload. The ``Tracer`` records one
span per public call a workload makes into the package; with tracing off a
span is only a ``perf_counter`` pair, so the untraced run pays no more than
that. With tracing on, each span also runs under its own Spark job group
(``<workload>:<call>``), counts the jobs the call launched, and the local
event log written by the traced session is folded into stage metrics per
job group once the session has stopped.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import os
import re
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field

# Stage accumulables folded from the event log, summed per job group.
_STAGE_METRICS = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.executorCpuTime": "executor_cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.output.bytesWritten": "output_bytes",
    "time to run Python workers": "python_worker_ms",
    "data sent to Python workers": "python_bytes_sent",
}


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float]) -> tuple[float, float] | None:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it: the 11th-largest sample, at percentile (n-10)/n.
    None below 20 samples, where that percentile is under the median."""
    n = len(values)
    if n < 20:
        return None
    return float(sorted(values)[n - 11]), round(100.0 * (n - 10) / n, 2)


# ---------------------------------------------------------------------------
# process tree memory
# ---------------------------------------------------------------------------

def _children(pid: int) -> list[int]:
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                out.extend(int(p) for p in f.read().split())
        except OSError:
            pass
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(_children(pid))
    return total / 1024.0


class RssSampler:
    """Peak resident memory of this process and every descendant (the
    Spark JVM and its Python workers), sampled every ``period`` seconds."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(root))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def start_session(work_dir: str, cpus: int, heap: str, event_log_dir: str | None):
    """A local SparkSession whose scratch space, warehouse and (optional)
    event log all live under ``work_dir``. Returns (spark, seconds)."""
    from tweets_elastic_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": heap,
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        # no hsperfdata file under the system /tmp; the heap starts at its
        # full size, so no measured call pays for growing it
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Xms{heap} -Djava.io.tmpdir={work_dir} "
                                         f"-Dderby.system.home={work_dir}",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", master=f"local[{cpus}]",
        shuffle_partitions=cpus, extra_conf=conf,
    )
    spark.range(1).collect()  # the first job's start-up counts as session start
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, shut the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _steal_ticks() -> int:
    """CPU time stolen from this machine by its host, in clock ticks."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def drift_probe(spark) -> dict:
    """A fixed JVM job (bench.py's calibrate() shape, scaled down), the load
    average and the host's steal counter. Recorded before and after the
    timed phase so a stalled box can be told from a code change; no metric
    is divided by it."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 20_000_000, 1, 4).selectExpr(
            "sum(xxhash64(id) % 100000) AS h").collect()
        best = min(best, time.perf_counter() - t0)
    return {"probe_s": round(best, 4), "loadavg_1m": os.getloadavg()[0],
            "steal_ticks": _steal_ticks()}


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    jobs: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


_PLAN_NOISE = [
    (re.compile(r"#\d+L?"), "#"),                      # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id="),          # exchange ids
    (re.compile(r"\[file:[^\]]*\]"), "[file:]"),       # scratch paths
    (re.compile(r"Scan ExistingRDD\[[^\]]*\]"), "Scan ExistingRDD[]"),
]


def plan_hash(df) -> str:
    """sha1 of the executed physical plan with expression ids, exchange ids
    and file locations normalized, so equal plans hash equal across runs."""
    text = df._jdf.queryExecution().executedPlan().toString()
    for pattern, repl in _PLAN_NOISE:
        text = pattern.sub(repl, text)
    return hashlib.sha1(text.encode()).hexdigest()[:16]


def planning_phases(df) -> dict[str, float]:
    """QueryPlanningTracker phase durations (ms) of ``df``'s last action."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        # a Scala Map: get() would hand back an Option
        out[name] = (
            float(phases.apply(name).durationMs()) if phases.contains(name) else 0.0
        )
    return out


class Tracer:
    """Spans around calls into the package. ``enabled`` adds job groups,
    job counts, planning phases and plan hashes; spans are kept in memory
    and summarized once the run ends. Spans opened while ``phase`` is
    ``"setup"`` share the job group ``<workload>:setup``, so set-up and
    warm-up work never mixes into a measured call's stage metrics."""

    def __init__(self, spark, workload: str, enabled: bool):
        self.spark = spark
        self.workload = workload
        self.enabled = enabled
        self.phase = "setup"
        self.spans: list[Span] = []
        self.plans: dict[str, str] = {}

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = Span(name, 0.0, attrs={"phase": self.phase, **attrs})
        if not self.enabled:
            s.start = time.perf_counter()
            try:
                yield s
            finally:
                s.end = time.perf_counter()
                self.spans.append(s)
            return
        sc = self.spark.sparkContext
        group = f"{self.workload}:{name if self.phase == 'measure' else 'setup'}"
        before = set(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup(group, group)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            s.jobs = len(set(sc.statusTracker().getJobIdsForGroup(group)) - before)
            self.spans.append(s)

    def select(self, name: str, phase: str = "measure", **match) -> list[Span]:
        match["phase"] = phase
        return [
            s for s in self.spans
            if s.name == name and all(s.attrs.get(k) == v for k, v in match.items())
        ]

    def times(self, name: str, **match) -> list[float]:
        return [s.seconds for s in self.select(name, **match)]

    def record_plan(self, key: str, df) -> None:
        if self.enabled and key not in self.plans:
            self.plans[key] = plan_hash(df)


def fold_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Stage metrics per job group from an uncompressed, non-rolling event
    log: each completed stage's accumulables are summed into the group of
    the job that submitted it. Also counts tasks per group."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group or ""
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"], "")
                    acc = out.setdefault(group, {})
                    acc["tasks"] = acc.get("tasks", 0) + info.get("Number of Tasks", 0)
                    for a in info.get("Accumulables", []):
                        key = _STAGE_METRICS.get(a.get("Name"))
                        if key is None:
                            continue
                        try:
                            value = float(a.get("Value", 0))
                        except (TypeError, ValueError):
                            continue
                        acc[key] = acc.get(key, 0.0) + value
    return out
