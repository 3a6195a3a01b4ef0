"""Benchmark of the engine's reference pipelines.

Run from the root of a checkout:

    python3 perfbench/run.py --workload jobsearch_text --seed 1 --seconds 20 --trace 0

One run: start a Spark session through ``session.get_spark`` (sized to
this host: local[N], N = the CPUs this process may use), generate the
workload's inputs from ``--seed``, run untimed warm-up passes (at least 8 s
and the workload's count), then
run closed-loop passes for ``--seconds`` seconds, checking every pass's
output.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics, measured with tracing
off.  ``--trace 1`` alternates traced and untraced passes and reports
the per-layer metrics of the traced ones, plus the tracing overhead
(median traced pass minus median untraced pass).  The metrics and
workloads are defined in README.md next to this file.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

import procstat

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PASS_DEADLINE_S = 90.0  # a pass still running after this is cancelled and failed
WARMUP_S = 8.0  # untimed passes run at least this long before measuring
HEAP = "2g"  # driver JVM heap


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cpus = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    host = {"cpus": cpus, "load_start": procstat.load_average()}
    ticks0 = procstat.cpu_ticks()
    _environment(work, cpus)
    try:
        result = _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only when no other run is using it
    host["load_end"] = procstat.load_average()
    host["steal_share"] = round(procstat.steal_share(ticks0), 4)
    print(json.dumps({"host": host}), file=sys.stderr)
    if args.trace:
        result["metrics"].update({
            "host.cpus": _m(cpus, "count"),
            "host.load_start": _m(host["load_start"][0], "load"),
            "host.load_end": _m(host["load_end"][0], "load"),
        })
    print(json.dumps(result))
    return 0


def _environment(work: Path, cpus: int) -> None:
    """Everything the run writes stays under ``work``; Spark runs as
    local[cpus]; Python workers can import the package."""
    for d in ("local", "tmp", "checkpoints", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    sys.path.insert(0, str(ROOT))


def _run(args, work: Path) -> dict:
    import workloads

    cls = workloads.WORKLOADS.get(args.workload)
    if cls is None:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")

    spark, get_spark_s, setup_s = _start(args.workload, work)
    try:
        return _measure(args, spark, cls, work, setup_s, get_spark_s)
    finally:
        _stop(spark)


def _start(workload: str, work: Path):
    """Start the session as a user would; returns (spark, seconds in
    ``get_spark``, seconds since process start once one trivial job ran).
    One sample per run: a second one needs a fresh process and would add
    11-16 s to every run on a 4-core host."""
    from tomasz_weight_tracker_spark.session import get_spark

    t0 = time.monotonic()
    spark = get_spark(
        app_name=f"perfbench-{workload}",
        extra_conf={
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.sql.streaming.checkpointLocation": str(work / "checkpoints"),
            "spark.ui.showConsoleProgress": "false",
            # A fixed heap: the collector does not resize it run to run.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -Xms{HEAP}",
        },
    )
    get_spark_s = time.monotonic() - t0
    spark.range(1).count()
    return spark, get_spark_s, procstat.process_age_s(os.getpid())


def _measure(args, spark, cls, work, setup_s, get_spark_s) -> dict:
    import spans

    tracer = spans.Tracer(spark, f"{args.workload}-{args.seed}") if args.trace else spans.OFF
    wl = cls(spark, work, args.seed, tracer)
    wl.prepare()
    print(json.dumps({"workload": wl.name, "input_bytes": wl.input_bytes}), file=sys.stderr)

    ops = Ops()
    if tracer.enabled:
        tracer.active = False
    # JIT compilation and Python worker start-up keep speeding passes up
    # for several seconds.  The warm-up is also a fixed count of passes,
    # so the measured passes are the same passes of the JVM's life
    # whether the host is fast or slow.
    warm_until = time.monotonic() + WARMUP_S
    warm = 0
    while time.monotonic() < warm_until or warm < wl.warmup_passes:
        p = _timed_pass(spark, wl)
        ops.record("warm-up pass", p)
        print(json.dumps({"warm_up": warm, "wall_s": round(p["wall"], 3)}), file=sys.stderr)
        warm += 1

    me = os.getpid()
    passes: list[dict] = []
    layers: list[dict] = []
    deadline = time.monotonic() + args.seconds
    with procstat.MemoryPeak(me) as mem:
        while time.monotonic() < deadline or len(passes) < wl.min_passes:
            # Traced, untraced, untraced, traced, ...: a pass-to-pass
            # trend (JIT still warming) cancels out of the overhead.
            traced = tracer.enabled and len(passes) % 4 in (0, 3)
            if tracer.enabled:
                tracer.active = traced
            if traced:
                marks = _marks(spark, wl, tracer)
            with spans.collected_frames() if traced else contextlib.nullcontext([]) as frames:
                p = _timed_pass(spark, wl, mem)
            p["traced"] = traced
            ops.record(f"pass {len(passes)}", p)
            _log_pass(len(passes), p)
            passes.append(p)
            if traced and p["ok"]:
                layers.append(_layers(spark, wl, tracer, marks, p, frames))
    if tracer.enabled:
        tracer.active = False
    wl.finish()

    if tracer.enabled:
        metrics = _per_layer(wl, passes, layers, get_spark_s, spark)
    else:
        metrics = _end_to_end(passes, setup_s, mem.peak)
    return {"correct": ops.failed == 0, "attempted": ops.attempted, "failed": ops.failed,
            "metrics": metrics}


class Ops:
    """Counts attempted and failed operations; reports failures on stderr."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, name: str, outcome: dict) -> None:
        self.attempted += 1
        if not outcome["ok"]:
            self.failed += 1
            print(f"FAILED {name}: {outcome['detail']}", file=sys.stderr)


def _timed_pass(spark, wl, sampler=None) -> dict:
    """One closed-loop pass: wall and process-tree CPU from the first
    call into the pipeline until its result is checked.  The CPU of
    ``sampler`` (a running :class:`procstat.MemoryPeak`) is not the
    program's and is taken out.  An exception or a pass past the
    deadline counts as a failed pass."""
    watchdog = threading.Timer(PASS_DEADLINE_S, spark.sparkContext.cancelAllJobs)
    watchdog.daemon = True
    me = os.getpid()
    sampler_cpu0 = sampler.cpu_s if sampler else 0.0
    cpu0 = procstat.tree_cpu_s(me)
    ticks0 = procstat.cpu_ticks()
    t0 = time.monotonic()
    watchdog.start()
    try:
        r = wl.run_pass()
    except Exception:  # noqa: BLE001 — a failing pass is a measured outcome
        wall = time.monotonic() - t0
        return {"ok": False, "detail": traceback.format_exc(), "wall": wall, "cpu": 0.0,
                "sampler_cpu": 0.0, "steal": 0.0, "result": None}
    finally:
        watchdog.cancel()
    wall = time.monotonic() - t0
    cpu = procstat.tree_cpu_s(me) - cpu0
    sampler_cpu = (sampler.cpu_s if sampler else 0.0) - sampler_cpu0
    steal = procstat.steal_share(ticks0)
    wl.after_pass(r)
    ok = r.ok and wall < PASS_DEADLINE_S
    return {"ok": ok, "detail": r.detail or f"pass took {wall:.1f}s", "wall": wall,
            "cpu": cpu - sampler_cpu, "sampler_cpu": sampler_cpu, "steal": steal, "result": r}


def _log_pass(i: int, p: dict) -> None:
    batches = p["result"].batch_ms if p["result"] else []
    print(json.dumps({"pass": i, "ok": p["ok"], "traced": p["traced"], "wall_s": round(p["wall"], 3),
                      "cpu_s": round(p["cpu"], 2), "sampler_cpu_s": round(p["sampler_cpu"], 3),
                      "steal": round(p["steal"], 4),
                      "batch_ms": batches}), file=sys.stderr)


def least_stolen(passes: list[dict]) -> list[dict]:
    """The two thirds of ``passes`` during which the hypervisor stole
    the least CPU time from this machine, in run order.  Steal is time
    the host ran something else while this machine's CPUs were ready to
    run; it follows the load of the host's other tenants, in windows of
    a minute or more, and a pass of ``meter_stream`` slows by about 2.5
    times the share stolen during it."""
    keep = -(-2 * len(passes) // 3)
    chosen = sorted(range(len(passes)), key=lambda i: passes[i]["steal"])[:keep]
    return [passes[i] for i in sorted(chosen)]


def _end_to_end(passes, setup_s, peak_mem) -> dict:
    good = least_stolen([p for p in passes if p["ok"]] or passes)
    kept = [i for i, p in enumerate(passes) if any(p is g for g in good)]
    print(json.dumps({"kept_passes": kept}), file=sys.stderr)
    walls = [p["wall"] for p in good]
    batches = [b for p in good if p["result"] for b in p["result"].batch_ms]
    # A batch workload processes its whole input as one batch per pass.
    lat = batches or [w * 1e3 for w in walls]
    return {
        "setup_s": _m(setup_s, "s"),
        "job_s": _m(statistics.median(walls), "s"),
        "cpu_s": _m(statistics.median(p["cpu"] for p in good), "s"),
        "peak_rss_mb": _m(peak_mem / 2**20, "MB"),
        "batch_ms_p50": _m(_quantile(lat, 0.5), "ms"),
        "batch_ms_p75": _m(_quantile(lat, 0.75), "ms"),
    }


def _quantile(values, q: float) -> float:
    """Linear-interpolation quantile (numpy's default)."""
    v = sorted(values)
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def _m(value, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


# ---------------------------------------------------------------------------
# Traced runs.


def _marks(spark, wl, tracer) -> dict:
    import spans

    spans.settle(spark)
    return {
        "stage": spans.last_stage_id(spark),
        "execution": spans.last_execution_id(spark),
        "span": len(tracer.spans),
        "batch": wl.batches_seen(),
    }


def _layers(spark, wl, tracer, marks, p, frames) -> dict:
    """Per-layer figures of one traced pass, read after the pass.
    ``frames`` are the DataFrames the pass collected; their Catalyst
    phases are the ones the pass ran."""
    import spans

    spans.settle(spark)
    since = marks["span"]
    span_s = lambda prefix: sum(s.seconds for s in tracer.named(prefix, since))  # noqa: E731
    scans = tracer.named("sources.scan", since)
    build = tracer.named("pipelines.build", since)
    stages = spans.stage_totals(spark, marks["stage"])
    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for df in frames:
        for k, v in spans.catalyst_ms(df).items():
            phases[k] += v
    py = spans.python_node_metrics(spark, marks["execution"])
    out = {
        "sources.scan_calls": len(scans),
        "sources.scan_jobs": len(tracer.jobs(scans)),
        "sources.scan_call_s": span_s("sources.scan"),
        "sources.list_s": span_s("sources.list"),
        "sources.input_bytes": stages["input_bytes"],
        "sources.input_records": stages["input_records"],
        "pipelines.build_s": span_s("pipelines.build"),
        "pipelines.eager_jobs": len(tracer.jobs([s for b in build for s in tracer.subtree(b)])),
        "pipelines.analysis_ms": phases["analysis"],
        "pipelines.optimization_ms": phases["optimization"],
        "pipelines.planning_ms": phases["planning"],
        "pipelines.render_s": span_s("pipelines.render"),
        "pipelines.result_s": span_s("pipelines.result"),
        "operators.rows_out": p["result"].rows_out,
        "jobsearch.udf_bytes_to_python": py.get("data sent to Python workers", 0.0),
        "jobsearch.udf_bytes_from_python": py.get("data returned from Python workers", 0.0),
        "trace.job_s": p["wall"],
    }
    for k in ("task_run_s", "task_cpu_s", "gc_s", "tasks", "stages", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes"):
        out[f"operators.{k}"] = stages[k]
    out.update(wl.stream_metrics(marks["batch"]))
    return out


PER_LAYER_UNITS = {
    "session.get_spark_s": "s", "session.shuffle_partitions": "count",
    "sources.scan_calls": "count", "sources.scan_jobs": "count", "sources.scan_call_s": "s",
    "sources.list_s": "s", "sources.input_bytes": "B", "sources.input_records": "count",
    "pipelines.build_s": "s", "pipelines.eager_jobs": "count", "pipelines.analysis_ms": "ms",
    "pipelines.optimization_ms": "ms", "pipelines.planning_ms": "ms", "pipelines.render_s": "s",
    "pipelines.result_s": "s",
    "operators.task_run_s": "s", "operators.task_cpu_s": "s", "operators.gc_s": "s",
    "operators.tasks": "count", "operators.stages": "count", "operators.shuffle_write_bytes": "B",
    "operators.shuffle_read_bytes": "B", "operators.spill_bytes": "B", "operators.rows_out": "count",
    "jobsearch.udf_bytes_to_python": "B", "jobsearch.udf_bytes_from_python": "B",
    "jobsearch.parse_us_per_doc": "us", "jobsearch.fast_path_share": "ratio",
    "jobsearch.redos_probe_failed": "count", "jobsearch.redos_probe_s": "s",
    "jobsearch.meta_probe_failed": "count",
    "streaming.batches": "count", "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.latest_offset_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_memory_bytes": "B",
    "streaming.state_commit_ms": "ms", "streaming.sink_rows": "count",
    "trace.job_s": "s", "trace.overhead_s": "s",
}


def _per_layer(wl, passes, layers, get_spark_s, spark) -> dict:
    """Median over the traced passes of every per-layer figure; figures
    of a layer the workload does not use read 0."""
    values = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    for k in layers[0] if layers else ():
        values[k] = statistics.median(layer[k] for layer in layers)
    values.update(wl.layer_metrics())
    values["session.get_spark_s"] = get_spark_s
    values["session.shuffle_partitions"] = float(spark.conf.get("spark.sql.shuffle.partitions"))
    traced = [p["wall"] for p in passes if p["traced"] and p["ok"]]
    plain = [p["wall"] for p in passes if not p["traced"] and p["ok"]]
    if traced and plain:
        values["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
    return {k: _m(v, PER_LAYER_UNITS[k]) for k, v in values.items()}


# ---------------------------------------------------------------------------


def _stop(spark) -> None:
    """Stop the session, then the JVM and every process it started, and
    wait until each has exited."""
    me = os.getpid()
    started = [p for p in procstat.tree_pids(me) if p != me]
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway else None
    if gateway:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in started:
        while _alive(pid):
            if time.monotonic() > deadline:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


if __name__ == "__main__":
    sys.exit(main())
