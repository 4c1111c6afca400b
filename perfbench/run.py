"""Benchmark entry point.

    python3 perfbench/run.py --workload {batch,search} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout: the package is imported from there and
every file the run writes goes under ``.perfbench_work/`` there, removed
on exit. One run:

1. generates the workload's input tables from ``--seed``;
2. starts a local Spark session, derives the workload's fixtures, sets it
   up ``setup_repeats`` times and warms it up (``setup_s`` = session start
   + derivation + median set-up + warm-up);
3. measures whole units of work (an ingest cycle with its curation pass,
   an 18-request search epoch) until ``--seconds`` have passed and at least
   the workload's ``min_units`` have run, bracketed by a box-drift probe;
4. checks the outputs against DuckDB;
5. prints a detail record, then as the last line the result: the
   end-to-end metrics with ``--trace 0``, the per-layer metrics with
   ``--trace 1``.

A traced run interleaves steps with tracing off and on (see ``_measure``);
per-layer metrics come from the traced steps only, and
``trace.overhead_ratio`` is the wall-clock time of the traced steps, the
tracer's bookkeeping included, over that of the untraced ones. The metric
names, units and directions are read from ``BENCHMARK.json`` at the
checkout root; spec.json holds the workload sizes and documents what each
metric means and which end-to-end metric each layer metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))

# Stage metrics folded per workload from the event log: (name, folded key,
# scale). Reported per traced operation (``w.ops()``: an ingest cycle with
# its curation pass, or a search request).
_EXEC_METRICS = [
    ("exec.shuffle_read_bytes", "shuffle_read_bytes", 1.0),
    ("exec.shuffle_write_bytes", "shuffle_write_bytes", 1.0),
    ("exec.executor_run_ms", "executor_run_ms", 1.0),
    ("exec.executor_cpu_ms", "executor_cpu_ns", 1e-6),
    ("exec.gc_ms", "gc_ms", 1.0),
    ("exec.spill_bytes", "spill_bytes", 1.0),
    ("exec.python_worker_ms", "python_worker_ms", 1.0),
    ("exec.python_bytes_sent", "python_bytes_sent", 1.0),
]


def _workload_class(name: str):
    if name == "batch":
        from batch import Batch
        return Batch
    from search import Search
    return Search


def _ready(w, tracers) -> bool:
    current, ok = w.tracer, True
    for t in tracers:
        w.tracer = t
        ok = ok and w.ready()
    w.tracer = current
    return ok


def _measure(w, seconds: float, min_units: int,
             tracers) -> tuple[int, int, list[str], list[float]]:
    """Run ``w.step()`` until ``seconds`` have passed, the workload stands on
    a unit boundary past its first ``min_units`` units and every tracer has
    sampled every class.

    With two tracers (a traced run) the step at ``w.position()`` == (unit,
    k) runs under ``tracers[(unit + k) % 2]``: steps alternate between
    tracing off and on, and the pattern flips each unit, so over a pair of
    units each tracer runs every step of a unit once and both see the same
    JVM warm-up and box state. A traced run therefore ends on an even unit.
    Stops regardless ``seconds`` (at least 60 s) past the deadline, so
    failing calls cannot hold the run.
    Returns (attempted, failed, tracebacks, wall-clock seconds per tracer)."""
    attempted = failed = 0
    errors: list[str] = []
    wall = [0.0] * len(tracers)
    deadline = time.perf_counter() + seconds
    give_up = deadline + max(seconds, 60.0)
    while time.perf_counter() < give_up:
        unit, k = w.position()
        i = (unit + k) % len(tracers)
        w.tracer = tracers[i]
        t0 = time.perf_counter()
        try:
            a, f = w.step()
            attempted += a
            failed += f
        except Exception:  # one failed operation must not end the run
            attempted += 1
            failed += 1
            errors.append(traceback.format_exc(limit=3))
        wall[i] += time.perf_counter() - t0
        unit, k = w.position()
        if (time.perf_counter() >= deadline and k == 0
                and unit >= min_units and unit % len(tracers) == 0
                and _ready(w, tracers)):
            break
    return attempted, failed, errors, wall


def run(args, bench: dict, spec: dict, work: str) -> dict:
    import harness

    wspec = spec["workloads"][args.workload]
    event_log = os.path.join(work, "eventlog") if args.trace else None
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    with harness.RssSampler() as rss:
        spark, session_s = harness.start_session(
            work, spec["cpus"], spec["jvm_heap"], event_log)
        try:
            tracer = harness.Tracer(spark, args.workload, enabled=bool(args.trace))
            w = _workload_class(args.workload)(spark, tracer, work, args.seed, wspec)
            record["inputs"] = w.generate()
            t0 = time.perf_counter()
            w.derive()
            derive_s = time.perf_counter() - t0
            prepare_s = []
            for _ in range(spec["setup_repeats"]):
                t0 = time.perf_counter()
                w.prepare()
                prepare_s.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            w.warm_up()
            warm_s = time.perf_counter() - t0
            record["setup"] = {"session_s": session_s, "derive_s": derive_s,
                               "prepare_s": prepare_s, "warm_up_s": warm_s}
            setup_s = session_s + derive_s + harness.median(prepare_s) + warm_s

            drift_before = harness.drift_probe(spark)
            tracer.phase = "measure"
            tracers = [tracer]
            if args.trace:
                untraced = harness.Tracer(spark, args.workload, enabled=False)
                untraced.phase = "measure"
                tracers = [untraced, tracer]
            attempted, failed, errors, wall = _measure(
                w, args.seconds, wspec["min_units"], tracers)
            drift_after = harness.drift_probe(spark)
            record["drift"] = {"before": drift_before, "after": drift_after}

            w.tracer = tracer
            e2e = w.end_to_end()
            mismatches = w.check()
            record["errors"] = errors + w.errors + mismatches
            # each mismatch is the output of one operation already attempted
            failed = min(attempted, failed + len(mismatches))
        finally:
            harness.stop_session(spark)
    record["detail"] = e2e["detail"]
    record["detail"].update(error_rate=failed / attempted, peak_rss_mb=rss.peak_mb)
    metrics = dict(e2e["metrics"], setup_s=setup_s)
    defs = bench["end_to_end"]
    if args.trace:
        folded = harness.fold_event_log(event_log)
        record["plans"] = tracer.plans
        record["folded"] = folded
        defs = bench["per_layer"]
        metrics = layer_metrics(defs, w, folded, session_s, wall)
        metrics["memory.peak_rss_mb"] = rss.peak_mb
    record["result"] = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in defs},
    }
    return record


def layer_metrics(defs: list[dict], w, folded, session_s, wall) -> dict:
    """Every per-layer metric of BENCHMARK.json; 0 for a layer the workload
    does not call. ``w.tracer`` is the traced run's tracer."""
    out = {m["name"]: 0.0 for m in defs}
    out.update(w.layers(folded))
    unknown = set(out) - {m["name"] for m in defs}
    if unknown:
        raise KeyError(f"layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    out["session.get_spark_s"] = session_s
    mine = [g for k, g in folded.items()
            if k.startswith(w.name + ":") and k != w.name + ":setup"]
    ops = max(1, w.ops())
    for name, key, scale in _EXEC_METRICS:
        out[name] = sum(g.get(key, 0.0) for g in mine) * scale / ops
    untraced_s, traced_s = wall
    out["trace.overhead_ratio"] = traced_s / untraced_s
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["batch", "search"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "tweets_elastic_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout holding the "
              "tweets_elastic_spark package", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)

    base = os.path.join(root, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    # Python workers import the package from the checkout; every scratch
    # file of Python, the JVM and Spark stays inside the work directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(spec["cpus"])
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = work
    sys.path[:0] = [root, HERE]
    try:
        record = run(args, bench, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(base):
            os.rmdir(base)
    result = record.pop("result")
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
