"""Spans around the calls into each engine layer, and the Spark-side
counts behind them.

A span records its name, start, end, parent and run id, and lives in
memory until the run ends.  While a span is open, every Spark job it
starts carries the span's job group, so the stages of a job can be
attributed to the layer call that caused it.  The Spark-side counts are
read through the session's status stores after each pass, outside the
timed region:

- stage metrics (run time, CPU, GC, shuffle, spill, input) from the
  application status store;
- Catalyst phase times from ``queryExecution().tracker()`` of the
  frames the pass collected;
- SQL metrics of the ``MapInPandas`` nodes from the SQL status store;
- micro-batch progress from a ``StreamingQueryListener``.

Untraced runs use :data:`OFF`, whose spans cost nothing.
"""

from __future__ import annotations

import contextlib
import itertools
import re
import time
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    run_id: str
    span_id: int
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"{self.run_id}/{self.span_id}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


class _Off:
    enabled = False

    def span(self, name: str):
        return contextlib.nullcontext()


OFF = _Off()


class Tracer:
    enabled = True

    def __init__(self, spark, run_id: str):
        self.active = True  # False: spans are no-ops (untraced passes of a traced run)
        self._sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()

    def span(self, name: str):
        return self._span(name) if self.active else contextlib.nullcontext()

    @contextlib.contextmanager
    def _span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.monotonic(), parent.span_id if parent else None,
                 self.run_id, next(self._ids))
        self.spans.append(s)
        self._stack.append(s)
        self._sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()
            if parent:
                self._sc.setJobGroup(parent.group, parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def named(self, prefix: str, since: int = 0) -> list[Span]:
        return [s for s in self.spans[since:] if s.name.startswith(prefix)]

    def subtree(self, root: Span) -> list[Span]:
        ids, out = {root.span_id}, [root]
        for s in self.spans:
            if s.parent in ids:
                ids.add(s.span_id)
                out.append(s)
        return out

    def jobs(self, spans: list[Span]) -> list[int]:
        tracker = self._sc.statusTracker()
        return [j for s in spans for j in tracker.getJobIdsForGroup(s.group)]


# ---------------------------------------------------------------------------
# Status-store readers.  These reach Spark's own stores through py4j;
# they run only in traced runs, after a pass.


def settle(spark) -> None:
    """Wait until the listener bus has delivered every event so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def last_stage_id(spark) -> int:
    return max([-1, *spark.sparkContext.statusTracker().getActiveStageIds(),
                *(s for s, _ in _stage_rows(spark))])


def _stage_rows(spark):
    sc = spark.sparkContext
    gw = sc._gateway
    rows = sc._jsc.sc().statusStore().stageList(
        gw.jvm.java.util.ArrayList(), False, False, gw.new_array(gw.jvm.double, 0),
        gw.jvm.java.util.ArrayList(),
    )
    it = rows.iterator()
    while it.hasNext():
        s = it.next()
        yield s.stageId(), s


STAGE_FIELDS = {
    "task_run_s": lambda s: s.executorRunTime() / 1e3,
    "task_cpu_s": lambda s: s.executorCpuTime() / 1e9,
    "gc_s": lambda s: s.jvmGcTime() / 1e3,
    "tasks": lambda s: s.numCompleteTasks(),
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
    "input_bytes": lambda s: s.inputBytes(),
    "input_records": lambda s: s.inputRecords(),
}


def stage_totals(spark, after: int) -> dict[str, float]:
    """Sums over the completed stages with id > ``after``."""
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    out["stages"] = 0
    for sid, s in _stage_rows(spark):
        if sid <= after or s.status().toString() != "COMPLETE":
            continue
        out["stages"] += 1
        for k, f in STAGE_FIELDS.items():
            out[k] += f(s)
    return out


@contextlib.contextmanager
def collected_frames():
    """Yields a list that gathers every DataFrame whose rows are
    collected to the driver while the context is open, including the
    frames the engine builds and collects inside its own functions."""
    from pyspark.sql.classic.dataframe import DataFrame

    frames: list = []
    original = DataFrame.collect

    def collect(self):
        frames.append(self)
        return original(self)

    DataFrame.collect = collect
    try:
        yield frames
    finally:
        DataFrame.collect = original


def catalyst_ms(df) -> dict[str, float]:
    """Catalyst phase durations recorded on ``df``'s query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def last_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max([-1] + [execs.apply(i).executionId() for i in range(execs.size())])


_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def python_node_metrics(spark, after: int, node: str = "MapInPandas") -> dict[str, float]:
    """Sum of the SQL metrics of every ``node`` in the SQL executions
    with id > ``after``, by metric name.  Size metrics are parsed from
    the store's rendered totals (0.1-unit precision)."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out: dict[str, float] = {}
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid <= after:
            continue
        wanted = {}
        nodes = store.planGraph(eid).allNodes()
        for n in range(nodes.size()):
            gnode = nodes.apply(n)
            if gnode.name() != node:
                continue
            ms = gnode.metrics()
            for m in range(ms.size()):
                wanted[ms.apply(m).accumulatorId()] = ms.apply(m).name()
        if not wanted:
            continue
        it = store.executionMetrics(eid).iterator()
        while it.hasNext():
            kv = it.next()
            name = wanted.get(kv._1())
            if name is not None:
                out[name] = out.get(name, 0.0) + _metric_value(kv._2())
    return out


def _metric_value(text: str) -> float:
    # Aggregated metrics render as "total (min, med, max ...)\n<total> (...)".
    body = text.split("\n", 1)[-1]
    m = _SIZE.match(body.strip())
    if m:
        return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]
    num = re.match(r"[\d,]+", body.strip())
    return float(num.group(0).replace(",", "")) if num else 0.0


# ---------------------------------------------------------------------------
# Streaming progress.


class StreamProgress(StreamingQueryListener):
    """Keeps every micro-batch progress event of the session's queries.

    Progress is what a user's monitor sees, so untraced runs keep this
    listener too: its ``triggerExecution`` durations are the end-to-end
    batch latencies."""

    def __init__(self):
        self.batches: list = []
        self.started: list[str] = []
        self.terminated = 0

    def onQueryStarted(self, event):
        self.started.append(event.name)

    def onQueryProgress(self, event):
        self.batches.append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated += 1

    def wait_terminated(self, n: int, timeout: float = 30.0) -> None:
        deadline = time.monotonic() + timeout
        while self.terminated < n:
            if time.monotonic() > deadline:
                raise TimeoutError("streaming query termination event not delivered")
            time.sleep(0.01)
