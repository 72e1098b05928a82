"""Traced run: spans around calls into each layer, plus Spark's own
statistics read from outside the program after every query execution.

Spans are kept in memory as (name, layer, start, end, parent, execution)
records and written to one JSON file when the run ends. The program is
not changed: in a traced run the public functions of the wrapped layers
are replaced by timing wrappers in their own module and in every module
that imported them by name.

Spark-side numbers come from stores that exist with the UI off:
- ``sc.statusTracker()`` job groups (one group per builder call and one
  per ``collect()``) give jobs, and through them stages;
- the core status store (``sc._jsc.sc().statusStore()``) gives per-stage
  task metrics and the RDD storage list;
- the SQL status store gives every SQL execution's plan graph with its
  aggregated node metrics (shuffle, broadcast, Python workers). Every
  execution is read, not only the final plan, because ``localCheckpoint``
  hides upstream work behind ``RDDScanExec``;
- a ``QueryExecutionListener`` reads ``queryExecution().tracker()``
  phases (analysis, optimization, planning) of every SQL action.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import re
import sys
import time

# layer name -> modules whose public functions get a span
WRAPPED = {
    "catalog": ["appeals_data_spark.catalog"],
    "views": ["appeals_data_spark.views.events"],
    "operators": [
        "appeals_data_spark.operators.closure",
        "appeals_data_spark.operators.graph",
        "appeals_data_spark.operators.bpe",
    ],
    "ml": [
        "appeals_data_spark.ml.bt",
        "appeals_data_spark.ml.glm",
        "appeals_data_spark.ml.svm",
    ],
}

MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.execution: str | None = None
        self.load_table_misses = 0

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        i = self._open(name, layer)
        try:
            yield
        finally:
            self._close(i)

    def _open(self, name: str, layer: str) -> int:
        self.spans.append(
            {
                "name": name,
                "layer": layer,
                "start": time.perf_counter(),
                "end": None,
                "parent": self._stack[-1] if self._stack else None,
                "execution": self.execution,
            }
        )
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def _close(self, i: int) -> None:
        self.spans[i]["end"] = time.perf_counter()
        self._stack.pop()

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            i = self._open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(i)

        return wrapper

    def install(self) -> None:
        """Wrap every public function of the WRAPPED modules, in place and
        wherever another loaded module of the program bound it by name."""
        import appeals_data_spark.catalog as catalog

        replace = {}
        for layer, modules in WRAPPED.items():
            for modname in modules:
                mod = importlib.import_module(modname)
                for attr, fn in vars(mod).items():
                    if attr.startswith("_") or not inspect.isfunction(fn):
                        continue
                    if fn.__module__ != modname:
                        continue
                    replace[id(fn)] = (fn, self._wrap(fn, f"{layer}.{attr}", layer))
        # memo hit ratio: a load_table call that grows the read cache missed
        orig = catalog.load_table

        @functools.wraps(orig)
        def load_table(*args, **kwargs):
            before = len(catalog._READ_CACHE)
            try:
                return orig(*args, **kwargs)
            finally:
                self.load_table_misses += len(catalog._READ_CACHE) > before

        replace[id(orig)] = (orig, self._wrap(load_table, "catalog.load_table", "catalog"))
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("appeals_data_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                hit = replace.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])

    def execution_spans(self, execution: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s["execution"] == execution]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_time(spans: list[dict], i: int) -> float:
    """Span duration minus the part of it that its children cover."""
    kids = sorted((c["start"], c["end"]) for c in spans if c["parent"] == i)
    covered, cur_s, cur_e = 0.0, None, None
    for a, b in kids:
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return spans[i]["end"] - spans[i]["start"] - covered


def layer_time(spans: list[dict], indices: list[int], layer: str, name: str = "") -> float:
    """Wall time inside spans of ``layer`` (only those called ``name``, if
    given), counting a call nested in another such call once."""

    def match(s):
        return s["layer"] == layer and (not name or s["name"] == name)

    total = 0.0
    for i in indices:
        s = spans[i]
        if not match(s):
            continue
        p = s["parent"]
        while p is not None and not match(spans[p]):
            p = spans[p]["parent"]
        if p is None:
            total += s["end"] - s["start"]
    return total


# -- Spark statistics ------------------------------------------------------

_NODE = re.compile(r'^\s*(\d+) \[id="node\d+" labelType="html" label="(.*?)" tooltip=', re.M)
_EDGE = re.compile(r"^\s*(\d+)->(\d+);", re.M)
_VALUE = re.compile(r"^(-?[\d.]+)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB|PiB)?$")
_UNIT = {
    None: 1.0, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": MB, "GiB": MB * 1024, "TiB": MB * MB, "PiB": MB * MB * 1024,
}
_AGG_SUFFIX = " total (min, med, max (stageId: taskId))"


def _value(text: str) -> float | None:
    """A formatted SQL metric value in base units (s, bytes, count)."""
    m = _VALUE.match(text.strip().replace(",", ""))
    return float(m.group(1)) * _UNIT[m.group(2)] if m else None


def parse_plan_graph(dot: str) -> tuple[dict[int, tuple[str, dict]], dict[int, int]]:
    """(node id -> (name, {metric: value}), child id -> consumer id) of a
    ``SparkPlanGraph.makeDotFile`` rendering."""
    nodes = {}
    for nid, label in _NODE.findall(dot):
        m = re.search(r"<b>(.*?)</b>", label)
        parts = label.split("<br>")
        metrics, k = {}, 0
        while k < len(parts):
            p = parts[k]
            if p.endswith(_AGG_SUFFIX) and k + 1 < len(parts):
                v = _value(parts[k + 1].split(" (")[0])
                if v is not None:
                    metrics[p[: -len(_AGG_SUFFIX)]] = v
                k += 2
                continue
            if ": " in p:
                key, val = p.split(": ", 1)
                v = _value(val)
                if v is not None:
                    metrics[key] = v
            k += 1
        nodes[int(nid)] = ((m.group(1).strip() if m else ""), metrics)
    consumer = {int(a): int(b) for a, b in _EDGE.findall(dot)}
    return nodes, consumer


PLAN_COUNTERS = (
    "shuffle.exchanges", "shuffle.partitions", "shuffle.write_mb", "shuffle.write_s",
    "broadcast.count", "broadcast.build_s", "python.total_s", "python.init_s",
    "python.sent_mb", "python.received_mb", "python.rows_received",
)


def plan_counters(dot: str) -> dict[str, float]:
    """Shuffle, broadcast and Python-worker totals of one SQL execution.
    Partitions are counted after the AQE coalesce when a reader follows."""
    nodes, consumer = parse_plan_graph(dot)
    out = dict.fromkeys(PLAN_COUNTERS, 0.0)
    for nid, (name, m) in nodes.items():
        if name == "Exchange" and "shuffle bytes written" in m:
            out["shuffle.exchanges"] += 1
            reader = nodes.get(consumer.get(nid, -1))
            parts = m.get("number of partitions", 0.0)
            if reader and reader[0] == "AQEShuffleRead":
                parts = reader[1].get("number of partitions", parts)
            out["shuffle.partitions"] += parts
            out["shuffle.write_mb"] += m["shuffle bytes written"] / MB
            out["shuffle.write_s"] += m.get("shuffle write time", 0.0)
        elif name == "BroadcastExchange":
            out["broadcast.count"] += 1
            out["broadcast.build_s"] += sum(
                m.get(k, 0.0) for k in ("time to collect", "time to build", "time to broadcast")
            )
        if "time to run Python workers" in m:
            out["python.total_s"] += m["time to run Python workers"]
            out["python.init_s"] += m.get("time to initialize Python workers", 0.0) + m.get(
                "time to start Python workers", 0.0
            )
            out["python.sent_mb"] += m.get("data sent to Python workers", 0.0) / MB
            out["python.received_mb"] += m.get("data returned from Python workers", 0.0) / MB
            out["python.rows_received"] += m.get("number of output rows", 0.0)
    return out


class SparkStats:
    """Reads Spark's status stores around each query execution."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.store = self.jsc.statusStore()
        self.phases: list[dict[str, float]] = []
        ensure_callback_server_started(self.sc._gateway)
        self._listener = _PhaseListener(self.phases)
        spark._jsparkSession.listenerManager().register(self._listener)
        self._drain()
        ids = self._sql_ids()
        self.last_sql_id = ids[-1] if ids else -1

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self._listener)

    def _drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def _sql_ids(self, tail: int = 400) -> list[int]:
        """Ids of the latest ``tail`` SQL executions, ascending."""
        n = self.sql_store.executionsCount()
        seq = self.sql_store.executionsList(max(0, n - tail), tail)
        return [seq.apply(i).executionId() for i in range(seq.size())]

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def rdd_mb(self) -> float:
        rdds = self.store.rddList(True)
        return sum(
            (rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed()) for i in range(rdds.size())
        ) / MB

    def collect(self, tag: str, builder_end_ms: float) -> dict[str, float]:
        """Counters of one query execution whose builder and collect ran
        under job groups ``tag/b`` and ``tag/c``."""
        self._drain()
        out: dict[str, float] = {
            "catalyst.analysis_s": 0.0,
            "catalyst.optimization_s": 0.0,
            "catalyst.planning_s": 0.0,
        }
        for ph in self.phases:
            for k, v in ph.items():
                key = f"catalyst.{k}_s"
                if key in out:
                    out[key] += v
        self.phases.clear()

        tracker = self.sc.statusTracker()
        jobs = {g: list(tracker.getJobIdsForGroup(f"{tag}/{g}")) for g in ("b", "c")}
        out["queries.builder_jobs"] = float(len(jobs["b"]))
        out["exec.jobs"] = float(len(jobs["b"]) + len(jobs["c"]))
        stage_ids = set()
        for j in jobs["b"] + jobs["c"]:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for k in ("exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s",
                  "exec.gc_s", "exec.spill_mb"):
            out[k] = 0.0
        for sid in stage_ids:
            sd = self.store.lastStageAttempt(sid)
            if sd.status().toString() != "COMPLETE":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += sd.numCompleteTasks()
            out["exec.task_run_s"] += sd.executorRunTime() / 1e3
            out["exec.task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["exec.gc_s"] += sd.jvmGcTime() / 1e3
            out["exec.spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB

        plan = dict.fromkeys(PLAN_COUNTERS, 0.0)
        builder_sql = 0
        new_ids = [i for i in self._sql_ids() if i > self.last_sql_id]
        for eid in new_ids:
            ui = self.sql_store.execution(eid)
            if ui.isEmpty():
                continue
            if ui.get().submissionTime() <= builder_end_ms:
                builder_sql += 1
            dot = self.sql_store.planGraph(eid).makeDotFile(self.sql_store.executionMetrics(eid))
            for k, v in plan_counters(dot).items():
                plan[k] += v
        if new_ids:
            self.last_sql_id = new_ids[-1]
        out.update(plan)
        out["queries.builder_sql_executions"] = float(builder_sql)
        out["exec.sql_executions"] = float(len(new_ids))
        return out


class _PhaseListener:
    """``QueryExecutionListener`` implemented in Python over py4j."""

    def __init__(self, sink: list) -> None:
        self.sink = sink

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        self._record(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self._record(qe)

    def _record(self, qe) -> None:
        it = qe.tracker().phases().iterator()
        phases = {}
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().durationMs() / 1e3
        self.sink.append(phases)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
