"""The workloads: each builds its pipeline through the engine's
public entry points, runs it to a result and checks that result against
an expectation the engine did not compute.

A workload's ``prepare`` generates the inputs and the expectation
(untimed).  ``run_pass`` is one closed-loop pass: from the first call
into the pipeline until the result is checked.  It returns a
:class:`PassResult`; a mismatch is reported, not raised.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

import gen
import spans as tracing


@dataclass
class PassResult:
    ok: bool
    detail: str = ""
    rows_out: int = 0
    batch_ms: list[float] = field(default_factory=list)  # micro-batch latencies


class Workload:
    name = ""
    min_passes = 3  # measured passes, however short ``--seconds`` is
    warmup_passes = 1  # untimed passes before measuring, however long they take

    def __init__(self, spark, work: Path, seed: int, tracer=tracing.OFF):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tr = tracer
        self.input_bytes = 0

    def prepare(self) -> None:
        raise NotImplementedError

    def run_pass(self) -> PassResult:
        raise NotImplementedError

    def after_pass(self, result: PassResult) -> None:
        """Bookkeeping after a pass, outside its timed region."""

    def batches_seen(self) -> int:
        """Micro-batches completed so far (streaming workloads)."""
        return 0

    def stream_metrics(self, since: int) -> dict[str, float]:
        """Streaming per-layer figures of the batches after ``since``."""
        return {}

    def finish(self) -> None:
        """Once-per-run work after the passes."""

    def layer_metrics(self) -> dict[str, float]:
        """Once-per-run per-layer figures of this workload (traced runs)."""
        return {}


# ---------------------------------------------------------------------------


REDOS_DEADLINE_S = 2.0


class JobsearchText(Workload):
    """W4: parse_mhtml_snapshots -> dedup_blocks -> grouped_report ->
    render_report, checked line by line against the planted report."""

    name = "jobsearch_text"
    # Pass walls keep falling slowly for tens of seconds; a fixed count
    # of warm-up and measured passes puts the median at the same point
    # of that trend on a fast or a slow host.
    warmup_passes = 4
    min_passes = 7

    def prepare(self):
        self.inp = gen.job_snapshots(self.work / "jobs", self.seed)
        self.input_bytes = gen.input_bytes(str(Path(self.inp["glob"]).parent))

    def run_pass(self):
        from tomasz_weight_tracker_spark.pipelines.jobsearch import (
            dedup_blocks,
            grouped_report,
            parse_mhtml_snapshots,
            render_report,
        )

        with self.tr.span("pipelines.build"):
            with self.tr.span("sources.scan"):
                blocks = parse_mhtml_snapshots(self.spark, self.inp["glob"])
            grouped = grouped_report(dedup_blocks(blocks))
        with self.tr.span("pipelines.render"):
            lines = render_report(grouped)
        with self.tr.span("pipelines.result"):
            ok = lines == self.inp["report"]
        detail = "" if ok else first_difference(lines, self.inp["report"])
        groups = sum(1 for ln in lines if ln.startswith("## "))
        return PassResult(ok, detail, groups)

    def finish(self):
        """Probe two known parser defects; neither counts as a failed
        operation (see README, "Known engine defects")."""
        from tomasz_weight_tracker_spark.pipelines.jobsearch import mhtml_text_lines

        self.redos = redos_probe(self.work)
        missed, seconds = self.redos
        print(f"redos probe: {'deadline missed' if missed else 'finished'} after {seconds:.2f}s",
              file=sys.stderr)
        page, lines = gen.meta_page()
        self.meta_lost = mhtml_text_lines(page) != lines
        print(f"meta probe: {'text lost' if self.meta_lost else 'text kept'}", file=sys.stderr)

    def layer_metrics(self):
        from tomasz_weight_tracker_spark.pipelines import jobsearch

        docs = [p.read_bytes() for p in sorted(Path(self.inp["glob"]).parent.glob("*.mhtml"))]
        per_doc = []
        for _ in range(5):
            t0 = time.perf_counter()
            for raw in docs:
                jobsearch.mhtml_text_lines(raw)
            per_doc.append((time.perf_counter() - t0) / len(docs) * 1e6)
        fast = getattr(jobsearch, "_fast_parts", None)
        share = sum(fast(raw) is not None for raw in docs) / len(docs) if fast else 0.0
        timed_out, seconds = self.redos
        return {
            "jobsearch.parse_us_per_doc": sorted(per_doc)[2],
            "jobsearch.fast_path_share": share,
            "jobsearch.redos_probe_failed": float(timed_out),
            "jobsearch.redos_probe_s": seconds,
            "jobsearch.meta_probe_failed": float(self.meta_lost),
        }


def redos_probe(work: Path) -> tuple[bool, float]:
    """Run the probe page through ``mhtml_text_lines`` in a child process.
    Returns (deadline missed, seconds waited); the child is killed and
    reaped on a miss."""
    page = work / "redos_page.mhtml"
    page.write_bytes(gen.redos_page())
    code = (
        "import sys\n"
        "from tomasz_weight_tracker_spark.pipelines.jobsearch import mhtml_text_lines\n"
        "raw = open(sys.argv[1], 'rb').read()\n"
        "print('ready', flush=True)\n"
        "mhtml_text_lines(raw)\n"
        "print('done', flush=True)\n"
    )
    child = subprocess.Popen([sys.executable, "-c", code, str(page)],
                             stdout=subprocess.PIPE, text=True)
    try:
        if child.stdout.readline().strip() != "ready":
            raise RuntimeError("redos probe child failed to start")
        t0 = time.monotonic()
        try:
            child.wait(timeout=REDOS_DEADLINE_S)
        except subprocess.TimeoutExpired:
            return True, time.monotonic() - t0
        return child.returncode != 0, time.monotonic() - t0
    finally:
        if child.poll() is None:
            child.kill()
        child.wait()
        child.stdout.close()


def first_difference(got: list[str], want: list[str]) -> str:
    for i, (g, w) in enumerate(zip(got, want)):
        if g != w:
            return f"report line {i}: {g!r} != {w!r}"
    return f"report has {len(got)} lines, expected {len(want)}"


# ---------------------------------------------------------------------------


class MeterStream(Workload):
    """Streaming twin of W3: stream_fifteen_minute_usage over one parquet
    file per micro-batch, drained in complete mode, checked against a
    batch bucketing of the same events."""

    name = "meter_stream"
    # 60 micro-batches, 40 of them in the passes the metrics keep (see
    # run.least_stolen): the 75th percentile has ten beyond it.
    min_passes = 6
    # Pass walls fall steeply (JIT) over the first three passes of a JVM
    # and slowly after them; measure from the fourth on.
    warmup_passes = 3

    def prepare(self):
        self.inp = gen.stream_events(self.work / "stream", self.seed)
        self.input_bytes = gen.input_bytes(self.inp["path"])
        self.progress = tracing.StreamProgress()
        self.spark.streams.addListener(self.progress)
        self.state_partitions = int(self.spark.conf.get("spark.sql.shuffle.partitions"))

    def run_pass(self):
        from pyspark.sql import functions as F

        from tomasz_weight_tracker_spark.streaming.pipelines import (
            drain_to_memory,
            stream_fifteen_minute_usage,
        )

        self._seen = self.batches_seen(), self.progress.terminated
        with self.tr.span("pipelines.build"):
            with self.tr.span("sources.scan"):
                events = (
                    self.spark.readStream.schema("meter string, ts timestamp, value double")
                    .option("maxFilesPerTrigger", 1)
                    .parquet(self.inp["path"])
                )
            usage = stream_fifteen_minute_usage(events, series_keys=["meter"])
        with self.tr.span("streaming.drain"):
            # State partitions sized to the host like shuffle partitions:
            # one wave of state-store tasks per micro-batch.
            table = drain_to_memory(self.spark, usage, "bench_usage", "complete",
                                    timeout_sec=90, partitions=self.state_partitions)
        with self.tr.span("pipelines.result"):
            rows = table.select(
                "meter", F.unix_seconds("Bucket"), "Minutes", "P_Usage", "OP_Usage"
            ).collect()
            got = {(r[0], r[1]): (r[2], r[3], r[4]) for r in rows}
            want = self.inp["buckets"]
            ok = got == want
        wrong = sum(got.get(k) != v for k, v in want.items()) + len(got.keys() - want.keys())
        return PassResult(ok, f"{wrong} of {len(want)} buckets differ from the batch bucketing",
                          len(rows))

    def after_pass(self, result: PassResult) -> None:
        """Collect the pass's micro-batch progress (delivered
        asynchronously), then drop its memory table and checkpoint."""
        seen, ended = self._seen
        self.progress.wait_terminated(ended + 1)
        batches = self.progress.batches[seen:]
        result.batch_ms = [float(p.durationMs["triggerExecution"]) for p in batches]
        for p in batches:
            print(json.dumps({"batch": p.batchId, "durationMs": p.durationMs}), file=sys.stderr)
        query = self.progress.started[-1]
        self.spark.catalog.dropTempView(query)
        shutil.rmtree(self.work / "checkpoints" / query, ignore_errors=True)

    def batches_seen(self) -> int:
        return len(self.progress.batches)

    def stream_metrics(self, since: int) -> dict[str, float]:
        batches = self.progress.batches[since:]
        d = lambda k: sum(float(p.durationMs.get(k, 0)) for p in batches)  # noqa: E731
        last = batches[-1].stateOperators[0] if batches and batches[-1].stateOperators else None
        return {
            "streaming.batches": float(len(batches)),
            "streaming.add_batch_ms": d("addBatch"),
            "streaming.query_planning_ms": d("queryPlanning"),
            "streaming.wal_commit_ms": d("walCommit"),
            "streaming.commit_offsets_ms": d("commitOffsets"),
            "streaming.latest_offset_ms": d("latestOffset"),
            "streaming.state_rows": float(last.numRowsTotal) if last else 0.0,
            "streaming.state_memory_bytes": float(last.memoryUsedBytes) if last else 0.0,
            "streaming.state_commit_ms": sum(
                float(op.commitTimeMs) for p in batches for op in p.stateOperators
            ),
            "streaming.sink_rows": sum(float(p.sink.numOutputRows) for p in batches),
        }


WORKLOADS = {w.name: w for w in (JobsearchText, MeterStream)}
