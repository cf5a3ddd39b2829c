"""Per-layer tracing from outside the package.

A span is one call into a package module's public function, timed together
with forcing its output. Spark's own counts for the span come from three
places, all read after the span ends:

* the span's job group (``setJobGroup``) and ``statusTracker`` give its jobs;
* the app status store gives each of those jobs' stages: shuffle bytes,
  output records, spill and peak execution memory;
* the SQL status store gives the final adaptive plan of every SQL execution
  that ran one of those jobs, with its SQL metrics: exchanges, shuffle
  records, rows returned by Python operators, rows of named plan nodes.

Nothing here adds a Spark job: the stores are filled by listeners Spark
always runs, and are read after the listener bus has drained.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

#: plan nodes whose output rows came back across the Arrow/Python boundary
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInArrow",
    "MapInPandas",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "ArrowWindowPython",
)
_JOIN = re.compile(r"(HashJoin|SortMergeJoin|NestedLoopJoin)$")
_ROWS = "number of output rows"


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_SIZE = re.compile(r"([0-9][0-9.,]*) (B|KiB|MiB|GiB|TiB)")


def _num(s) -> int:
    """Exact value of a SUM-type SQL metric string ("1,234")."""
    return int(str(s).replace(",", ""))


def _size(s) -> int:
    """Bytes of a SIZE-type SQL metric string: its total, which Spark
    prints to one decimal of the largest binary unit ("12.3 MiB")."""
    m = _SIZE.search(str(s).split("\n")[-1])
    return int(float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]) if m else 0


@dataclass
class PlanNode:
    name: str
    desc: str
    metrics: dict  # metric name -> int: SUM metrics exact, SIZE metrics in bytes


@dataclass
class Span:
    name: str
    label: str
    self_s: float
    jobs: int
    executions: list  # one list[PlanNode] per SQL execution, in id order
    stages: dict  # summed stage counters
    max_task_records: int
    rows_out: int = 0
    extra: dict = field(default_factory=dict)

    def nodes(self, name=None):
        for ex in self.executions:
            for n in ex:
                if name is None or n.name == name:
                    yield n

    def inner_join_rows(self, last_only: bool = False) -> int:
        """Output rows of inner joins: every execution's, or only the
        topmost one of the last execution (the one that forced the output)."""
        if last_only:
            for n in self.executions[-1] if self.executions else ():
                if _JOIN.search(n.name) and "Inner" in n.desc:
                    return n.metrics.get(_ROWS, 0)
            return 0
        return sum(
            n.metrics.get(_ROWS, 0)
            for n in self.nodes()
            if _JOIN.search(n.name) and "Inner" in n.desc
        )

    def counts(self) -> dict:
        """The module-level numbers every span reports."""
        return {
            "self_s": self.self_s,
            "jobs": self.jobs,
            "exchanges": sum(1 for _ in self.nodes("Exchange")),
            "shuffle_bytes": self.stages["shuffle_bytes"],
            "shuffle_records": sum(
                n.metrics.get("shuffle records written", 0) for n in self.nodes("Exchange")
            ),
            "python_rows": sum(
                n.metrics.get(_ROWS, 0) for n in self.nodes() if n.name in PYTHON_NODES
            ),
            "rows_out": self.rows_out,
        }


class Tracer:
    """Records spans for one SparkSession; spans stay in memory."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans: list[Span] = []
        self._seq = 0

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(60_000)

    def run(self, name: str, label: str, fn, task_records: bool = False):
        """Run ``fn`` (which calls the layer and forces its output) as span
        ``name``; returns fn's result. ``label`` tells calls of one layer
        apart in the detail report; ``task_records`` also reads every task
        for the largest per-task record count (the skew signal)."""
        self._seq += 1
        group = f"perfbench-{self._seq}-{name}"
        self._drain()
        self.sc.setJobGroup(group, label)
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            dt = time.perf_counter() - t0
            self.sc._jsc.clearJobGroup()
        self._drain()
        self.spans.append(self._collect(name, label, group, dt, task_records))
        return out

    def finish(self, wl, op, out) -> None:
        """Attach the output row count and the op's own extra counts to the
        span just recorded (read after the span: they add no span time)."""
        span = self.spans[-1]
        if op.force == "checkpoint":
            span.rows_out = out.count()
        elif op.force == "noop":
            span.rows_out = sum(
                n.metrics.get(_ROWS, 0) for n in span.nodes() if n.name.startswith("Scan")
            )
        else:
            span.rows_out = span.stages["output_records"]
        if op.extra is not None:
            span.extra = op.extra(span, wl.ctx, out)

    def _collect(self, name: str, label: str, group: str, dt: float, task_records: bool) -> Span:
        job_ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
        store = self._jsc.statusStore()
        stages = dict.fromkeys(
            ("shuffle_bytes", "output_records", "spill_bytes", "peak_mem_bytes"),
            0,
        )
        max_task_records = 0
        seen = set()
        for j in job_ids:
            for sid in _iter(store.job(j).stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: never submitted
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                stages["shuffle_bytes"] += sd.shuffleWriteBytes()
                stages["output_records"] += sd.outputRecords()
                stages["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                stages["peak_mem_bytes"] += sd.peakExecutionMemory()
                if not task_records:
                    continue
                for td in _iter(store.taskList(sid, sd.attemptId(), 1 << 30)):
                    m = td.taskMetrics()
                    if m.isDefined():
                        m = m.get()
                        recs = m.shuffleReadMetrics().recordsRead() + m.inputMetrics().recordsRead()
                        max_task_records = max(max_task_records, recs)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        executions = []
        for e in _iter(sql.executionsList()):
            ejobs = set(_iter(e.jobs().keys()))
            if not ejobs or not ejobs <= job_ids:
                continue
            vals = sql.executionMetrics(e.executionId())
            nodes = []
            for n in _iter(sql.planGraph(e.executionId()).allNodes()):
                ms = {}
                for m in _iter(n.metrics()):
                    parse = {"sum": _num, "size": _size}.get(m.metricType())
                    v = vals.get(m.accumulatorId())
                    if parse is not None and v.isDefined():
                        ms[m.name()] = parse(v.get())
                nodes.append(PlanNode(n.name(), n.desc(), ms))
            executions.append((e.executionId(), nodes))
        executions.sort(key=lambda t: t[0])
        return Span(
            name=name,
            label=label,
            self_s=dt,
            jobs=len(job_ids),
            executions=[n for _, n in executions],
            stages=stages,
            max_task_records=max_task_records,
        )
