"""Spark's own counters, read with the UI disabled.

Three sources, none of which needs ``spark.ui.enabled=true`` or the REST
API:

- **plan metrics**: every SQL execution's final adaptive plan, captured by
  a ``QueryExecutionListener`` and walked through ``QueryStage.plan()``;
  each node yields its ``SQLMetric`` values (rows, shuffle bytes, Python
  worker boot/init/total time, ...).
- **job groups**: every benchmark step runs under its own job group, so
  ``statusTracker`` gives its jobs, stages and task counts.
- **task quantiles**: the status store's per-stage task-time distribution
  gives max/median task time (the skew measure).

Counters are read after the action, outside the timed window.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

PYTHON_NODES = {"MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython",
                "BatchEvalPython", "FlatMapCoGroupsInPandas",
                "AggregateInPandas", "WindowInPandas", "MapInArrow",
                "PythonMapInArrow", "ArrowWindowPython",
                "ArrowAggregatePython", "FlatMapGroupsInArrow"}
RENDER_NODES = {"MapInPandas", "FlatMapGroupsInPandas"}
UDF_NODES = {"ArrowEvalPython", "BatchEvalPython"}
_STAGE_WRAPPERS = {"ShuffleQueryStageExec", "BroadcastQueryStageExec",
                   "TableCacheQueryStageExec", "ResultQueryStageExec"}


@dataclass
class Node:
    name: str
    metrics: dict
    children: list = field(default_factory=list)
    reused: bool = False      # a ReusedExchange: metrics belong to another node
    condition: str = ""       # Filter condition text (empty otherwise)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


def _metrics(plan) -> dict:
    out = {}
    it = plan.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def walk_plan(plan) -> Node:
    """Copy a physical plan (a py4j handle) into a Python tree of Nodes.
    Adaptive plans are read at their final form; query stages are entered
    through ``plan()``; a ReusedExchange is kept as a leaf so its shared
    metrics are not counted twice."""
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return walk_plan(plan.executedPlan())
    if cls in _STAGE_WRAPPERS:
        return walk_plan(plan.plan())
    if cls == "ReusedExchangeExec":
        return Node("ReusedExchange", {}, reused=True)
    name = plan.nodeName()
    node = Node(name, _metrics(plan))
    if name == "Filter":
        node.condition = plan.condition().toString()
    ch = plan.children().iterator()
    while ch.hasNext():
        node.children.append(walk_plan(ch.next()))
    return node


def rows_out(node: Node) -> int:
    """Rows a node produced: its own row metric, else its first child's."""
    m = node.metrics
    for key in ("numOutputRows", "pythonNumRowsReceived", "recordsRead",
                "shuffleRecordsWritten"):
        if key in m:
            return m[key]
    if node.children:
        return rows_out(node.children[0])
    return 0


def rows_in(node: Node) -> int:
    return rows_out(node.children[0]) if node.children else 0


def _strip(node: Node) -> Node:
    while node.name in ("Project", "InputAdapter") or node.name.startswith(
            "WholeStageCodegen"):
        if not node.children:
            break
        node = node.children[0]
    return node


def is_pip_refine(node: Node) -> bool:
    """The spatial-join refine: a Filter over a Python UDF evaluation (the
    Arrow kernels) or a Filter holding the compiled polygon predicate."""
    if node.name != "Filter" or not node.children:
        return False
    if _strip(node.children[0]).name in UDF_NODES:
        return True
    return "CASE WHEN" in node.condition and "polygon_id" in node.condition


class QueryCapture:
    """QueryExecutionListener that keeps each successful execution's plan
    handle; plans are walked later, outside the timed window."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.pending: list = []
        self.sc = spark.sparkContext
        ensure_callback_server_started(self.sc._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, funcName, qe, durationNs):   # noqa: N802 (Java API)
        self.pending.append(qe.executedPlan())

    def onFailure(self, funcName, qe, exception):    # noqa: N802
        pass

    def drain(self) -> list:
        """Wait for the listener bus, then hand over the captured plans."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        out, self.pending = self.pending, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


@dataclass
class Group:
    name: str
    plans: list = field(default_factory=list)   # plan handles, then Nodes

    def nodes(self):
        for p in self.plans:
            yield from p.walk()


class Recorder:
    """Runs each benchmark step under a named job group. With a
    QueryCapture it also files every SQL plan under the group it ran in."""

    def __init__(self, spark, capture: QueryCapture | None = None):
        self.sc = spark.sparkContext
        self.capture = capture
        self.groups: dict[str, Group] = {}
        self.prefix = ""

    def start_iteration(self, tag: str) -> None:
        self.prefix = tag + ":"
        self.groups = {}

    @contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(self.prefix + name, name)
        try:
            yield
        finally:
            g = self.groups.setdefault(name, Group(name))
            if self.capture is not None:
                g.plans.extend(self.capture.drain())
            self.sc.setJobGroup("", "")

    def walk(self) -> None:
        """Turn the captured plan handles into Node trees (py4j-heavy, so
        called after the timed window)."""
        for g in self.groups.values():
            g.plans = [p if isinstance(p, Node) else walk_plan(p)
                       for p in g.plans]

    # -- statusTracker / status store ------------------------------------
    def jobs(self, name: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(
            self.prefix + name))

    def stages(self, name: str) -> list[int]:
        st = self.sc.statusTracker()
        out = []
        for j in self.jobs(name):
            info = st.getJobInfo(j)
            if info is not None:
                out.extend(info.stageIds)
        return sorted(set(out))

    def tasks(self, name: str) -> int:
        st = self.sc.statusTracker()
        n = 0
        for s in self.stages(name):
            info = st.getStageInfo(s)
            if info is not None:
                n += info.numTasks
        return n

    def task_skew(self, names: list[str]) -> tuple[float, float]:
        """(max / median task run time, median ms) of the heaviest stage
        (largest summed executor run time) of the given groups."""
        store = self.sc._jsc.sc().statusStore()
        best, best_run = None, -1
        for name in names:
            for s in self.stages(name):
                try:
                    data = store.lastStageAttempt(s)
                except Py4JJavaError:   # a skipped stage has no attempt
                    continue
                if data.numCompleteTasks() > 0 and data.executorRunTime() > best_run:
                    best, best_run = data, data.executorRunTime()
        if best is None:
            return 0.0, 0.0
        gw = self.sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summary = store.taskSummary(best.stageId(), best.attemptId(), qs)
        if summary.isEmpty():
            return 0.0, 0.0
        run = summary.get().executorRunTime()
        med, mx = float(run.apply(0)), float(run.apply(1))
        return (mx / med if med > 0 else 0.0), med


# ---------------------------------------------------------------------------
# Per-layer counters from the walked groups
# ---------------------------------------------------------------------------

def python_counters(nodes) -> dict:
    out = {"boot_ms": 0, "init_ms": 0, "total_ms": 0, "nodes": 0}
    for n in nodes:
        if n.name in PYTHON_NODES:
            out["nodes"] += 1
            out["boot_ms"] += n.metrics.get("pythonBootTime", 0)
            out["init_ms"] += n.metrics.get("pythonInitTime", 0)
            out["total_ms"] += n.metrics.get("pythonTotalTime", 0)
    return out


def render_counters(nodes) -> dict:
    """Render passes are the grouped pandas applies; a pass whose input is
    a ReusedExchange re-runs the render over rows already counted."""
    out = {"passes": 0, "candidates": 0, "visible_rows": 0, "rows_in": 0,
           "init_ms": 0, "run_ms": 0}
    for n in nodes:
        if n.name not in RENDER_NODES:
            continue
        out["passes"] += 1
        rin = rows_in(n)
        out["rows_in"] += rin
        out["init_ms"] += n.metrics.get("pythonInitTime", 0)
        out["run_ms"] += n.metrics.get("pythonTotalTime", 0)
        reused = any(c.reused for c in n.walk())
        if not reused:
            out["candidates"] += rin
            out["visible_rows"] += n.metrics.get("pythonNumRowsReceived", 0)
    return out


def refine_counters(nodes) -> dict:
    nodes = list(nodes)
    out = {"candidates": 0, "matches": 0,
           "python_nodes": sum(n.name in UDF_NODES for n in nodes)}
    for n in nodes:
        if is_pip_refine(n):
            out["candidates"] += rows_in(n)
            out["matches"] += n.metrics.get("numOutputRows", 0)
    return out


def exchange_counters(nodes) -> dict:
    out = {"exchanges": 0, "shuffle_bytes": 0}
    for n in nodes:
        if n.name == "Exchange":
            out["exchanges"] += 1
            out["shuffle_bytes"] += n.metrics.get("shuffleBytesWritten", 0)
    return out


def generate_rows(nodes) -> int:
    return sum(n.metrics.get("numOutputRows", 0) for n in nodes
               if n.name == "Generate")
