"""Tracing for the benchmark's traced runs (``--trace 1``).

Two recorders, both driven from the benchmark's own code and never from
inside the package:

* ``Spans`` — named wall-clock intervals with a parent and the run id,
  kept in memory and written out once at the end of the run;
* ``plan_layers`` — a walk over the executed plan of a DataFrame that has
  just been collected, folding each operator's SQL metrics into the
  layers the benchmark reports (scan, exchange, broadcast, codegen,
  Python/Arrow boundary, aggregate and sort memory, joins).

The walk reads the AQE-final plan: it unwraps ``AdaptiveSparkPlanExec``,
every ``*QueryStageExec`` (``ResultQueryStageExec`` included) and
``ReusedExchangeExec``. Units come from each metric's ``metricType``:
``timing`` is ms, ``nsTiming`` is ns (converted to ms), ``size`` is bytes,
``sum`` is a count. Walk the same DataFrame object that ran:
``df.count()`` builds a new QueryExecution, so time and walk
``df.agg(...)`` after ``collect()`` instead.

``RssSampler`` is used by every run: it polls ``/proc`` for the resident
memory of the driver JVM plus all of its descendants (the Python daemon
and workers) and keeps the peak.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

LAYER_KEYS = (
    "sources.scans", "sources.scan_rows", "sources.scan_bytes", "sources.scan_ms",
    "python.boot_ms", "python.total_ms", "python.rows_sent",
    "python.bytes_sent", "python.bytes_received",
    "exchange.bytes_written", "exchange.records_written",
    "exchange.write_ms", "exchange.bytes_read",
    "broadcast.bytes", "broadcast.build_ms", "broadcast.collect_ms",
    "codegen.pipeline_ms",
    "agg.peak_mem_bytes", "agg.spill_bytes", "sort.spill_bytes",
    "spatial_join.candidate_rows", "spatial_join.partial_rows", "spatial_join.refined_rows",
)

_PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
                 "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                 "AggregateInPandas", "WindowInPandas")
_AGG_NODES = ("HashAggregateExec", "ObjectHashAggregateExec", "SortAggregateExec",
              "WindowExec")
_JOIN_NODES = ("BroadcastHashJoinExec", "ShuffledHashJoinExec", "SortMergeJoinExec",
               "BroadcastNestedLoopJoinExec", "CartesianProductExec")


class Spans:
    """Named intervals (start and end in epoch seconds) with parents."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.records: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.records.append({"name": name, "start": start, "end": time.time(),
                                 "parent": parent, "run_id": self.run_id})

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for r in self.records:
                f.write(json.dumps(r) + "\n")


class NoSpans:
    """The untraced run's recorder: records nothing."""

    records: list = []

    @contextmanager
    def span(self, name: str):
        yield

    def write(self, path: str) -> None:
        pass


# ---------------------------------------------------------------------------
# executed-plan walk
# ---------------------------------------------------------------------------

def _children(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "ReusedExchangeExec":
        return [node.child()]
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def node_metrics(node) -> dict[str, float]:
    """One operator's SQL metrics in ms, bytes or counts."""
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m = kv._2()
        v = float(m.value())
        if m.metricType() == "nsTiming":
            v /= 1e6
        out[kv._1()] = v
    return out


def plan_nodes(df) -> list:
    """Every operator of ``df``'s executed (AQE-final) plan, depth first."""
    out, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        out.append(node)
        todo.extend(reversed(_children(node)))
    return out


def _first_below(node, pred):
    """The nearest descendant (breadth first) for which ``pred`` holds."""
    todo = list(_children(node))
    while todo:
        n = todo.pop(0)
        if pred(n):
            return n
        todo.extend(_children(n))
    return None


def _is_cell_join(node) -> bool:
    """A join on the spatial join's point-side cell key."""
    return (node.getClass().getSimpleName() in _JOIN_NODES
            and "__cell" in node.simpleString(25))


def plan_layers(df) -> dict[str, float]:
    """Fold the executed plan's SQL metrics into the benchmark's layers."""
    acc = dict.fromkeys(LAYER_KEYS, 0.0)
    for node in plan_nodes(df):
        cls = node.getClass().getSimpleName()
        name = node.nodeName()
        m = node_metrics(node)
        if cls == "FileSourceScanExec":
            acc["sources.scans"] += 1
            acc["sources.scan_rows"] += m.get("numOutputRows", 0.0)
            acc["sources.scan_bytes"] += m.get("filesSize", 0.0)
            acc["sources.scan_ms"] += m.get("scanTime", 0.0)
        elif name in _PYTHON_NODES:
            acc["python.boot_ms"] += m.get("pythonBootTime", 0.0)
            acc["python.total_ms"] += m.get("pythonTotalTime", 0.0)
            acc["python.bytes_sent"] += m.get("pythonDataSent", 0.0)
            acc["python.bytes_received"] += m.get("pythonDataReceived", 0.0)
            below = _first_below(node, lambda n: "numOutputRows" in node_metrics(n))
            sent = node_metrics(below)["numOutputRows"] if below is not None else 0.0
            acc["python.rows_sent"] += sent
            # the exact refine: a Python operator right above a cell join
            join = _first_below(node, lambda n: n.getClass().getSimpleName() in _JOIN_NODES)
            if join is not None and _is_cell_join(join):
                acc["spatial_join.partial_rows"] += sent
                acc["spatial_join.refined_rows"] += m.get("pythonNumRowsReceived", 0.0)
        elif cls == "ShuffleExchangeExec":
            acc["exchange.bytes_written"] += m.get("shuffleBytesWritten", 0.0)
            acc["exchange.records_written"] += m.get("shuffleRecordsWritten", 0.0)
            acc["exchange.write_ms"] += m.get("shuffleWriteTime", 0.0)
            acc["exchange.bytes_read"] += (m.get("localBytesRead", 0.0)
                                           + m.get("remoteBytesRead", 0.0))
        elif cls == "BroadcastExchangeExec":
            acc["broadcast.bytes"] += m.get("dataSize", 0.0)
            acc["broadcast.build_ms"] += m.get("buildTime", 0.0)
            acc["broadcast.collect_ms"] += m.get("collectTime", 0.0)
        elif cls == "WholeStageCodegenExec":
            acc["codegen.pipeline_ms"] += m.get("pipelineTime", 0.0)
        elif cls in _AGG_NODES:
            acc["agg.peak_mem_bytes"] += m.get("peakMemory", 0.0)
            acc["agg.spill_bytes"] += m.get("spillSize", 0.0)
        elif cls == "SortExec":
            acc["sort.spill_bytes"] += m.get("spillSize", 0.0)
        elif _is_cell_join(node):
            acc["spatial_join.candidate_rows"] += m.get("numOutputRows", 0.0)
    return add_layers({}, acc)


def add_layers(total: dict, part: dict) -> dict:
    """Sum two layer folds (ratios are recomputed from the sums)."""
    for k, v in part.items():
        total[k] = total.get(k, 0.0) + v
    if total.get("spatial_join.partial_rows"):
        total["spatial_join.refine_keep_ratio"] = (
            total["spatial_join.refined_rows"] / total["spatial_join.partial_rows"])
    return total


# ---------------------------------------------------------------------------
# resident memory of the JVM and its descendants
# ---------------------------------------------------------------------------

def _rss_tree_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all of its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue  # the process ended while we looked
    return total


class RssSampler:
    """Peak RSS of a process tree, sampled every ``interval`` seconds
    while ``active`` is set."""

    def __init__(self, root_pid: int, interval: float = 0.25):
        self.root_pid = root_pid
        self.interval = interval
        self.peak = 0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self):
        while not self._stop.is_set():
            if self._on.is_set():
                self.peak = max(self.peak, _rss_tree_bytes(self.root_pid))
            time.sleep(self.interval)

    @contextmanager
    def active(self):
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()
            self.peak = max(self.peak, _rss_tree_bytes(self.root_pid))

    def close(self):
        self._stop.set()
        self._thread.join()
