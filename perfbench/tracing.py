"""Outside-in tracing for the benchmark.

Everything here observes the program from the benchmark's side of its
public entry points; nothing inside ``scala_data_pipeline_spark`` is
patched.

* :class:`Tracer` holds nested spans (workload → pass → operation →
  {construct, execute} → Spark job) in memory and writes them out when
  the run ends.  Each span's self time is its duration minus the part of
  it that its children cover.
* :class:`Py4JCallCounter` counts py4j *call* commands (``c\\n``) sent by
  the driver thread while it is switched on.  Other command kinds
  (object deletes, reflection) are driven by garbage collection and do
  not repeat from pass to pass, so they are not counted.
* :class:`PhaseListener` is a ``QueryExecutionListener`` implemented over
  py4j: it reads the Catalyst phase timings of every action's own
  ``QueryExecution``.  An action plans in that execution, so a frame's
  tracker read before its action would hold only ``analysis``.
* :func:`read_jobs` and :func:`read_sql_executions` read Spark's app and
  SQL status stores, which stay readable with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import json
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    layer: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)
    index: int = -1

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class Tracer:
    """Span recorder.  With ``enabled=False`` spans are still timed (the
    untraced run needs operation times) but none are kept."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, layer, time.time(), parent=parent, attrs=attrs)
        if self.enabled:
            sp.index = len(self.spans)
            self.spans.append(sp)
            self._stack.append(sp.index)
        try:
            yield sp
        finally:
            sp.end = time.time()
            if self.enabled:
                self._stack.pop()

    def add(self, name: str, layer: str, start: float, end: float,
            parent: Span, **attrs) -> None:
        """Record a finished span (a Spark job read from the status
        store) under ``parent``, clipped to the parent's interval."""
        if not self.enabled:
            return
        start = min(max(start, parent.start), parent.end)
        end = max(min(end, parent.end), start)
        self.spans.append(
            Span(name, layer, start, end, parent.index, attrs, len(self.spans))
        )

    def self_times(self) -> list[float]:
        covered: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                covered.setdefault(s.parent, []).append((s.start, s.end))
        return [
            s.duration - union_length(covered.get(i, []))
            for i, s in enumerate(self.spans)
        ]

    def dump(self, path: str, **extra) -> None:
        rows = []
        for s, self_s in zip(self.spans, self.self_times()):
            row = asdict(s)
            row["self_s"] = self_s
            rows.append(row)
        with open(path, "w") as f:
            json.dump({"spans": rows, **extra}, f)


class Py4JCallCounter:
    """Counts py4j call commands sent by the thread that installed it,
    while ``active`` is set."""

    def __init__(self, gateway_client):
        self.client = gateway_client
        self.calls = 0
        self.active = False
        self._thread = threading.get_ident()
        self._orig = gateway_client.send_command

    def install(self) -> None:
        orig = self._orig

        def send_command(command, *args, **kwargs):
            if (
                self.active
                and command.startswith("c\n")
                and threading.get_ident() == self._thread
            ):
                self.calls += 1
            return orig(command, *args, **kwargs)

        self.client.send_command = send_command

    def uninstall(self) -> None:
        self.client.__dict__.pop("send_command", None)


def as_java(jvm, scala_collection):
    return jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_collection)


class PhaseListener:
    """QueryExecutionListener over py4j: records (earliest phase start in
    epoch ms, phase name → ms) of every successful action's Catalyst
    phases."""

    def __init__(self, jvm):
        self.jvm = jvm
        self.records: list[tuple[int, dict[str, int]]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        phases = as_java(self.jvm, qe.tracker().phases())
        names = list(phases.keySet())
        start = min((phases[n].startTimeMs() for n in names), default=0)
        self.records.append((start, {n: phases[n].durationMs() for n in names}))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        pass  # a failed operation is counted where it raised

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def wait_for_listeners(sc) -> None:
    """Block until every posted listener event has been handled, so the
    status stores and the phase listener have seen the pass."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


@dataclass
class JobRecord:
    job_id: int
    start: float
    end: float
    stages: list[dict]


def read_jobs(sc, job_ids: list[int]) -> list[JobRecord]:
    """Job intervals and per-stage task metrics from the app status
    store.  Skipped stages (shuffle output reused) are left out."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0] = 0.5
    quantiles[1] = 1.0
    out = []
    for job_id in job_ids:
        jd = store.job(job_id)
        start = jd.submissionTime().get().getTime() / 1000.0
        end_opt = jd.completionTime()
        end = end_opt.get().getTime() / 1000.0 if end_opt.isDefined() else start
        stages = []
        for stage_id in as_java(jvm, jd.stageIds()):
            sd = store.lastStageAttempt(stage_id)
            if str(sd.status()) == "SKIPPED":
                continue
            skew = 1.0
            if sd.numTasks() > 1:
                summary = store.taskSummary(stage_id, sd.attemptId(), quantiles)
                if summary.isDefined():
                    run = summary.get().executorRunTime()
                    median, worst = run.apply(0), run.apply(1)
                    skew = worst / median if median > 0 else 1.0
            stages.append({
                "tasks": sd.numTasks(),
                "failed_tasks": sd.numFailedTasks(),
                "run_ms": sd.executorRunTime(),
                "cpu_ns": sd.executorCpuTime(),
                "gc_ms": sd.jvmGcTime(),
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
                "shuffle_read_bytes": sd.shuffleReadBytes(),
                "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                "input_bytes": sd.inputBytes(),
                "skew": skew,
            })
        out.append(JobRecord(job_id, start, end, stages))
    return out


PYTHON_NODE = re.compile(
    r"ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas|"
    r"WindowInPandas|PythonUDTF|PythonDataSource"
)
REUSED_EXCHANGE = re.compile(r"ReusedExchange \(\d+\)")  # tree lines, one per node
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_metric(text: str) -> float:
    """A SQL metric's display string → number.  Multi-task metrics read
    'total (min, med, max ...)\\n<total> (...)'; sizes carry a unit."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,]+(?:\.\d+)?)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _SIZE_UNITS.get(m.group(2) or "B", 1)


@dataclass
class SqlRecord:
    start: float
    reused_exchanges: int
    python_nodes: int
    python_rows: float
    python_bytes: float


def read_sql_executions(spark, since: float) -> list[SqlRecord]:
    """Final (post-AQE) plans of the SQL executions submitted since
    ``since``: ReusedExchange nodes, and rows and bytes through
    Python-worker operators."""
    jvm = spark.sparkContext._jvm
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for ex in as_java(jvm, store.executionsList()):
        start = ex.submissionTime() / 1000.0
        if start < since:
            continue
        desc = ex.physicalPlanDescription()
        final = desc.split("== Final Plan ==", 1)[-1].split("== Initial Plan ==")[0]
        rec = SqlRecord(start, len(REUSED_EXCHANGE.findall(final)), 0, 0.0, 0.0)
        if PYTHON_NODE.search(desc):
            metrics = as_java(jvm, store.executionMetrics(ex.executionId()))
            graph = store.planGraph(ex.executionId())
            for node in as_java(jvm, graph.allNodes()):
                if not PYTHON_NODE.search(node.name()):
                    continue
                rec.python_nodes += 1
                for metric in as_java(jvm, node.metrics()):
                    value = metrics.get(metric.accumulatorId())
                    if value is None:
                        continue
                    name = metric.name()
                    if name == "number of output rows":
                        rec.python_rows += parse_metric(value)
                    elif name.startswith("data sent to Python") or name.startswith(
                        "data returned from Python"
                    ):
                        rec.python_bytes += parse_metric(value)
        out.append(rec)
    return out
