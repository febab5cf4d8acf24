"""Spans and Spark SQL metrics for the benchmark's traced run.

``Tracer`` records one span per call the benchmark makes into a layer:
name, start, end and parent. ``NullTracer`` has the same interface and
records nothing; the timed (untraced) runs use it.

``StatusStoreReader`` reads Spark's own SQL metrics for the executions that
ran inside a span, through
``spark._jsparkSession.sharedState().statusStore()`` (``executionsList`` /
``executionMetrics`` / ``planGraph``), and task failures through the
status tracker. It works with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Span:
    __slots__ = ("sid", "name", "parent", "start", "end", "start_ms", "end_ms", "attrs")

    def __init__(self, sid, name, parent):
        self.sid, self.name, self.parent = sid, name, parent
        self.start = time.perf_counter()
        self.start_ms = time.time() * 1000.0
        self.end = self.end_ms = None
        self.attrs = {}

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def to_dict(self) -> dict:
        return {
            "id": self.sid,
            "name": self.name,
            "parent": self.parent,
            "start_ms": round(self.start_ms, 3),
            "end_ms": round(self.end_ms, 3),
            "seconds": self.seconds,
            **self.attrs,
        }


class NullTracer:
    """Tracing off: a span records nothing."""

    @contextmanager
    def span(self, name: str):
        yield None


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, parent)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.end_ms = time.time() * 1000.0
            self._stack.pop()

    def children(self, span: Span) -> list:
        return [s for s in self.spans if s.parent == span.sid]

    def self_seconds(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        ivs = sorted((c.start, c.end) for c in self.children(span))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.seconds - covered

    def innermost(self, t_ms: float):
        """The deepest span whose wall interval holds epoch-ms ``t_ms``."""
        best = None
        for s in self.spans:
            if s.end_ms is not None and s.start_ms <= t_ms <= s.end_ms:
                if best is None or s.start_ms >= best.start_ms:
                    best = s
        return best


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric -> float in base units (seconds, bytes, count).

    Accepts both the single-value form (``'192 ms'``, ``'199,737'``) and the
    per-task form (``'total (min, med, max ...)\\n4.5 s (1.1 s, ...)'``),
    whose first number after the newline is the total."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


def _iter(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


class ExecutionMetrics:
    """Spark SQL metrics of one execution, keyed by plan node."""

    def __init__(self, execution_id: int, nodes: list, edges: list, jobs: list):
        self.execution_id = execution_id
        self.nodes = nodes  # [(node_id, node_name, {metric_name: value})]
        self.edges = edges  # [(child_id, parent_id)]
        self.jobs = jobs

    def metric_sum(self, name: str, node_prefix: str | None = None) -> float:
        return sum(
            m.get(name, 0.0)
            for _, nname, m in self.nodes
            if node_prefix is None or nname.startswith(node_prefix)
        )

    def metric_max(self, name: str) -> float:
        return max((m.get(name, 0.0) for _, _, m in self.nodes), default=0.0)

    def count_nodes(self, prefix: str) -> int:
        return sum(1 for _, nname, _ in self.nodes if nname.startswith(prefix))

    def python_input_rows(self) -> float:
        """Rows entering Python-evaluated nodes: the nearest descendant of
        each Python node that reports ``number of output rows``."""
        by_id = {nid: (name, m) for nid, name, m in self.nodes}
        kids: dict = {}
        for c, p in self.edges:
            kids.setdefault(p, []).append(c)
        total = 0.0
        for nid, name, _ in self.nodes:
            if not _is_python_node(name):
                continue
            frontier = list(kids.get(nid, []))
            while frontier:
                c = frontier.pop()
                cname, cm = by_id[c]
                if "number of output rows" in cm:
                    total += cm["number of output rows"]
                else:
                    frontier.extend(kids.get(c, []))
        return total


def _is_python_node(name: str) -> bool:
    return any(k in name for k in ("InPandas", "InArrow", "EvalPython", "PythonUDF"))


class StatusStoreReader:
    """Reads finished SQL executions from the session's status store."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.tracker = spark.sparkContext.statusTracker()

    def execution_ids(self) -> list:
        return sorted(int(e.executionId()) for e in _iter(self.store.executionsList()))

    def wait_finished(self, timeout_s: float = 30.0) -> None:
        """The listener bus is asynchronous: wait until every execution has a
        completion time, so its metrics are final."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if all(e.completionTime().isDefined() for e in _iter(self.store.executionsList())):
                return
            time.sleep(0.05)

    def submission_ms(self, execution_id: int) -> float:
        return float(self.store.execution(execution_id).get().submissionTime())

    def read(self, execution_id: int) -> ExecutionMetrics:
        graph = self.store.planGraph(execution_id)
        values = self.store.executionMetrics(execution_id)
        nodes = []
        for n in _iter(graph.allNodes()):
            metrics = {}
            for m in _iter(n.metrics()):
                v = values.get(m.accumulatorId())
                if v is not None and v.isDefined():
                    metrics[m.name()] = parse_metric(v.get())
            nodes.append((int(n.id()), n.name(), metrics))
        edges = [(int(e.fromId()), int(e.toId())) for e in _iter(graph.edges())]
        ex = self.store.execution(execution_id).get()
        jobs = [int(j) for j in _iter(ex.jobs().keys())]
        return ExecutionMetrics(execution_id, nodes, edges, jobs)

    def failed_tasks(self, jobs: list) -> int:
        n = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                st = self.tracker.getStageInfo(sid)
                n += st.numFailedTasks if st else 0
        return n


LAYER_SUMS = {
    # per_layer name: (SQL metric name, node-name prefix or None, scale)
    "functions.py_start_s": ("time to start Python workers", None, 1.0),
    "functions.py_init_s": ("time to initialize Python workers", None, 1.0),
    "functions.py_run_s": ("time to run Python workers", None, 1.0),
    "functions.arrow_sent_mb": ("data sent to Python workers", None, 1e-6),
    "functions.arrow_returned_mb": ("data returned from Python workers", None, 1e-6),
    "operators.shuffle_write_mb": ("shuffle bytes written", None, 1e-6),
    "operators.shuffle_records": ("shuffle records written", None, 1.0),
    "operators.spill_mb": ("spill size", None, 1e-6),
    "operators.broadcast_mb": ("data size", "BroadcastExchange", 1e-6),
}


def summarize(executions: list, reader: StatusStoreReader) -> dict:
    """Per-job layer metrics from a list of ``ExecutionMetrics``."""
    out = {k: 0.0 for k in LAYER_SUMS}
    for name, (metric, prefix, scale) in LAYER_SUMS.items():
        out[name] = sum(e.metric_sum(metric, prefix) for e in executions) * scale
    out["operators.peak_mem_mb"] = max((e.metric_max("peak memory") for e in executions), default=0.0) * 1e-6
    out["operators.exchanges"] = float(sum(e.count_nodes("Exchange") for e in executions))
    out["operators.failed_tasks"] = float(reader.failed_tasks([j for e in executions for j in e.jobs]))
    out["operators.jobs"] = float(len(executions))
    return out
