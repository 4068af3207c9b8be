"""Per-layer numbers read from Spark's own status stores.

After each operation the benchmark asks two stores what ran:

- the SQL status store (``sharedState().statusStore()``): one entry per
  SQL execution, with its plan graph and the value of every plan-node
  metric (scan time, Python worker time, sort time, written files, ...);
- the application status store (``SparkContext.statusStore``): task
  metrics of every stage (run time, GC time, spills, shuffle bytes).

Nothing in the program is changed or re-run to get them. The SQL store
keeps metric values only as display strings ("3.4 s", "389.1 KiB",
"1,655"), so :func:`metric_value` turns them back into numbers; sums are
exact, times and sizes carry the display's rounding (0.1 s above one
second, 0.1 of a KiB/MiB unit).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}
_NUM = re.compile(r"^(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")
MIB = float(1 << 20)


def metric_value(text: str, metric_type: str) -> float:
    """Total of one displayed SQL metric: bytes for sizes, ms for times.

    Multi-task metrics display as ``"total (min, med, max ...)\\n<total>
    (<min>, ...)"``; the total is the first number of the second line.
    """
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(line.strip())
    if m is None:
        raise ValueError(f"unreadable {metric_type} metric: {text!r}")
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if metric_type == "size":
        return num * _SIZE[unit]
    if metric_type in ("timing", "nsTiming"):
        return num * _TIME_MS[unit]
    return num


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


@dataclass
class Node:
    id: int
    name: str
    desc: str
    metrics: dict[str, float]
    children: list[int] = field(default_factory=list)


@dataclass
class Stage:
    id: int
    run_ms: float  # summed task run time
    wall_ms: float  # submission to completion
    gc_ms: float
    failed_tasks: int
    spill_bytes: float
    shuffle_write_bytes: float


@dataclass
class Execution:
    id: int
    duration_ms: float
    nodes: dict[int, Node]
    stages: list[Stage]

    def find(self, name: str) -> list[Node]:
        return [n for n in self.nodes.values() if n.name.startswith(name)]

    def subtree(self, node: Node):
        todo = [node.id]
        while todo:
            n = self.nodes[todo.pop()]
            yield n
            todo.extend(n.children)

    def write_path(self) -> str | None:
        """Output path of the execution's file write, None if it writes none."""
        for n in self.find("Execute InsertIntoHadoopFsRelationCommand"):
            m = re.search(r"InsertIntoHadoopFsRelationCommand (\S+?),", n.desc)
            if m:
                return m.group(1)
        return None

    def write_stage(self) -> Stage | None:
        """The stage that ran the write tasks: the execution's last one that ran."""
        ran = [s for s in self.stages if s.run_ms > 0]
        return max(ran, key=lambda s: s.id) if ran else None


def scan_path(node: Node) -> str:
    m = re.search(r"Location: \w+(?:\([^)]*\))?\s*\[([^\]]*)\]", node.desc)
    return m.group(1) if m else ""


class StatusReader:
    """Reads executions that started after the last :meth:`mark`."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._jsc.statusStore()
        self._after = -1
        self.mark()

    def _drain(self) -> None:
        # status stores are fed by the asynchronous listener bus
        self._jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> None:
        self._drain()
        ids = [e.executionId() for e in _seq(self._sql.executionsList())]
        self._after = max(ids, default=self._after)

    def executions(self) -> list[Execution]:
        self._drain()
        out = []
        for e in _seq(self._sql.executionsList()):
            eid = e.executionId()
            if eid <= self._after or e.completionTime().isEmpty():
                continue
            out.append(self._execution(e))
        return sorted(out, key=lambda x: x.id)

    def _execution(self, e) -> Execution:
        eid = e.executionId()
        graph = self._sql.planGraph(eid)
        values = self._sql.executionMetrics(eid)
        nodes: dict[int, Node] = {}
        for n in _seq(graph.allNodes()):
            ms = {}
            for m in _seq(n.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined() and m.metricType() != "average":
                    ms[m.name()] = metric_value(v.get(), m.metricType())
            nodes[n.id()] = Node(n.id(), n.name(), n.desc(), ms)
        for edge in _seq(graph.edges()):  # edges run child -> parent
            nodes[edge.toId()].children.append(edge.fromId())
        stages = []
        for sid in _seq(e.stages()):
            try:
                s = self._app.lastStageAttempt(sid)
            except Exception:  # NoSuchElementException: stage never ran (skipped)
                continue
            sub, done = s.submissionTime(), s.completionTime()
            wall = done.get().getTime() - sub.get().getTime() if sub.isDefined() and done.isDefined() else 0
            stages.append(Stage(
                sid, float(s.executorRunTime()), float(wall), float(s.jvmGcTime()),
                int(s.numFailedTasks()), float(s.memoryBytesSpilled() + s.diskBytesSpilled()),
                float(s.shuffleWriteBytes()),
            ))
        duration = e.completionTime().get().getTime() - e.submissionTime()
        return Execution(eid, float(duration), nodes, stages)


# --------------------------------------------------------------------------
# Mapping executions onto the engine's layers
# --------------------------------------------------------------------------

BOOKKEEPING = ("_manifest", "_lineage")


def _sum(nodes, metric: str) -> float:
    return sum(n.metrics.get(metric, 0.0) for n in nodes)


def _bookkeeping(path: str) -> bool:
    return path.rstrip("/").endswith(BOOKKEEPING)


def _is_bookkeeping(ex: Execution) -> bool:
    """Writes _manifest/_lineage, or writes nothing and reads only them."""
    path = ex.write_path()
    if path is not None:
        return _bookkeeping(path)
    scans = ex.find("Scan")
    return bool(scans) and all(_bookkeeping(scan_path(s)) for s in scans)


def layer_metrics(execs: list[Execution], input_path: str, work_rows: int, wall_ms: float) -> dict[str, float]:
    """Layer numbers of ONE operation from the executions it ran.

    ``*_ms`` of work inside a write stage (scan, Python, sort, task
    commit) are shares of that stage's wall time: the node's task time
    times the stage's wall / task time. Driver-side times (broadcast, job
    commit, whole bookkeeping and aggregate executions) are wall times
    already. ``trace.accounted_share`` is the sum of these measured times
    over ``wall_ms``. Two residuals are reported apart and left out of
    it: ``sinks.write_self_ms`` (write-stage wall minus the measured node
    times in it, unclipped: it goes negative where pipelined nodes
    overlap) and ``spark.driver_ms`` (wall time outside any SQL
    execution). UDF row counts are per ``work_rows``, the rows the
    operation had to process.
    """
    r: dict[str, float] = {}

    def add(k: str, v: float) -> None:
        r[k] = r.get(k, 0.0) + v

    accounted = in_sql = 0.0
    for ex in execs:
        in_sql += ex.duration_ms
        path = (ex.write_path() or "").rstrip("/")
        add("spark.sql_executions", 1)
        add("spark.task_ms", sum(s.run_ms for s in ex.stages))
        add("spark.gc_ms", sum(s.gc_ms for s in ex.stages))
        add("spark.failed_tasks", sum(s.failed_tasks for s in ex.stages))
        if _is_bookkeeping(ex):
            add("lineage.bookkeeping_ms", ex.duration_ms)
            add("lineage.bookkeeping_actions", 1)
            accounted += ex.duration_ms
            continue
        if path.endswith("agg_counts"):
            aggs = ex.find("HashAggregate")
            add("aggregate.ms", ex.duration_ms)
            data_scans = [n for n in ex.find("Scan") if not _bookkeeping(scan_path(n))]
            add("aggregate.rows_in", _sum(data_scans, "number of output rows"))
            add("aggregate.shuffle_mb", sum(s.shuffle_write_bytes for s in ex.stages) / MIB)
            add("aggregate.peak_mem_mb", _sum(aggs, "peak memory") / MIB)
            add("aggregate.spill_mb", _sum(aggs, "spill size") / MIB)
            accounted += ex.duration_ms
            continue
        stage = ex.write_stage()
        if not path or stage is None:
            continue  # driver-only actions (schema reads, collects): unattributed
        # a sink write: scan -> [Python UDF] -> project/enrich -> sort -> write
        writes = ex.find("Execute InsertIntoHadoopFsRelationCommand")
        add("sinks.files", _sum(writes, "number of written files"))
        add("sinks.mb", _sum(writes, "written output") / MIB)
        add("config.sink_actions", 1)
        scale = stage.wall_ms / stage.run_ms if stage.run_ms else 0.0
        scans = [s for s in ex.find("Scan") if input_path in scan_path(s)]
        scan_ms = _sum(scans, "scan time") * scale
        add("sources.scan_ms", scan_ms)
        add("sources.scan_mb", _sum(scans, "size of files read") / MIB)
        add("sources.rows", _sum(scans, "number of output rows"))
        udf_ms = 0.0
        for udf in ex.find("ArrowEvalPython"):
            layer = "textextract" if "extract_text" in udf.desc else "parse" if "syslog" in udf.desc else None
            if layer is None:
                continue
            run = udf.metrics.get("time to run Python workers", 0.0) * scale
            udf_ms += run
            add(f"{layer}.python_ms", run)
            add(f"{layer}.python_init_ms", scale * (
                udf.metrics.get("time to start Python workers", 0.0)
                + udf.metrics.get("time to initialize Python workers", 0.0)))
            add(f"{layer}.arrow_sent_mb", udf.metrics.get("data sent to Python workers", 0.0) / MIB)
            add(f"{layer}.arrow_returned_mb", udf.metrics.get("data returned from Python workers", 0.0) / MIB)
            add(f"{layer}.udf_rows", udf.metrics.get("number of output rows", 0.0))
        sorts = ex.find("Sort")
        sort_ms = _sum(sorts, "sort time") * scale
        add("sinks.sort_ms", sort_ms)
        add("sinks.sort_spill_mb", _sum(sorts, "spill size") / MIB)
        task_commit = _sum(writes, "task commit time") * scale
        job_commit = _sum(writes, "job commit time")
        add("sinks.commit_ms", task_commit + job_commit)
        add("sinks.write_self_ms", stage.wall_ms - scan_ms - udf_ms - sort_ms - task_commit)
        broadcast = 0.0
        for b in ex.find("BroadcastExchange"):
            if any(_bookkeeping(scan_path(n)) for n in ex.subtree(b)):
                continue  # the resume anti-join's manifest broadcast
            broadcast += sum(b.metrics.get(k, 0.0) for k in ("time to collect", "time to build", "time to broadcast"))
            add("enrich.broadcast_mb", b.metrics.get("data size", 0.0) / MIB)
        add("enrich.broadcast_ms", broadcast)
        accounted += scan_ms + udf_ms + sort_ms + task_commit + job_commit + broadcast

    # analysis, planning, file listing and Python code between executions
    r["spark.driver_ms"] = wall_ms - in_sql
    rows = max(work_rows, 1)
    r["textextract.udf_rows_per_doc"] = r.pop("textextract.udf_rows", 0.0) / rows
    r["parse.udf_rows_per_line"] = r.pop("parse.udf_rows", 0.0) / rows
    r["trace.accounted_share"] = accounted / wall_ms if wall_ms else 0.0
    return r
