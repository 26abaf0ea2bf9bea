"""Spans and Spark status-store readings for the traced run.

Everything here observes the program from outside: spans are opened by
the benchmark around its calls into the program's public functions, and
Spark's own bookkeeping (the SQL status store's per-node metrics, the
app status store's stage and task data, jobs per job group) is read
after each action. Nothing is added inside ``georeader_spark``.

With tracing off, ``Tracer.span`` records nothing and the probe is not
consulted, so the untraced run pays for neither.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans: (name, start, end, parent, op). Written once, at
    the end of the run, by :func:`write_trace`."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "op": op if op is not None else (self._stack[-1]["op"] if self._stack else None),
               "start": time.perf_counter(), "end": None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict:
        """Per span name: total duration minus the part its children cover."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            d = s["end"] - s["start"]
            tot, slf, n = out.get(s["name"], (0.0, 0.0, 0))
            out[s["name"]] = (tot + d, slf + d - child.get(s["id"], 0.0), n + 1)
        return out


# ---------------------------------------------------------------------------
# status-store readers
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VAL = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str, kind: str) -> float:
    """Numeric value of one formatted SQL metric: bytes for ``size``,
    seconds for ``timing``/``nsTiming``, the count for ``sum``. Values
    aggregated over several tasks print as ``total (min, med, max ...)``
    followed by the total on the next line; that total is taken."""
    line = text.split("\n")[-1]
    m = _VAL.match(line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if kind == "size":
        return v * _SIZE.get(unit, 1)
    if kind in ("timing", "nsTiming"):
        return v * _TIME.get(unit, 1e-3)
    return v


_METRIC = re.compile(r"SQLPlanMetric\((.*?),(\d+),(\w+)\)")
_KV = re.compile(r"(?:^\w*Map\(|, )(\d+) -> ")


def _metric_values(jmap) -> dict:
    """accumulator id -> formatted value, from one ``toString`` call (a
    value never contains ``", <digits> -> "``)."""
    s = jmap.toString()
    if s.endswith(")"):
        s = s[:-1]
    keys = list(_KV.finditer(s))
    out = {}
    for i, m in enumerate(keys):
        end = keys[i + 1].start() if i + 1 < len(keys) else len(s)
        out[int(m.group(1))] = s[m.end():end]
    return out


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


class SparkProbe:
    """Reads Spark's status stores after an action: the SQL executions
    that ``new_executions`` has not returned yet, and their stages.

    The stores are filled by Spark's asynchronous listener bus, so every
    read first waits until the bus has delivered all events posted so
    far: an action has posted its job, stage, task and SQL-execution end
    events by the time it returns, and after the wait they are in the
    stores."""

    #: how long one wait for the listener bus may take
    DRAIN_MS = 60_000

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.bus = self.sc._jsc.sc().listenerBus()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.app_store = self.sc._jsc.sc().statusStore()
        self.last_exec = self._max_exec_id()

    def drain(self) -> None:
        """Wait until the listener bus is empty (raises on timeout)."""
        self.bus.waitUntilEmpty(self.DRAIN_MS)

    def _max_exec_id(self) -> int:
        self.drain()
        ids = [e.executionId() for e in _seq(self.sql_store.executionsList())]
        return max(ids) if ids else -1

    def new_executions(self) -> list:
        """Executions started since the previous call, oldest first."""
        self.drain()
        out = []
        for e in _seq(self.sql_store.executionsList()):
            if e.executionId() > self.last_exec:
                out.append(e)
        if out:
            self.last_exec = max(e.executionId() for e in out)
        return sorted(out, key=lambda e: e.executionId())

    def jobs_in_group(self, group: str) -> list:
        self.drain()
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def execution_metrics(self, executions) -> dict:
        """Per-layer sums over the plan nodes and stages of ``executions``."""
        acc: dict = {}
        stages = set()
        for e in executions:
            eid = e.executionId()
            values = _metric_values(self.sql_store.executionMetrics(eid))
            for node in _seq(self.sql_store.planGraph(eid).allNodes()):
                name = node.name()
                metrics = _METRIC.findall(node.metrics().toString())
                kind = _node_kind(name, metrics)
                _add(acc, f"nodes.{name}", 1)
                if kind is None:
                    continue
                _add(acc, f"nodes.{kind}", 1)
                for mname, acc_id, mtype in metrics:
                    if int(acc_id) in values:
                        _add(acc, f"{kind}.{mname}", parse_metric(values[int(acc_id)], mtype))
            jstages = e.stages()
            it = jstages.iterator()
            while it.hasNext():
                stages.add(int(it.next()))
        return merge(acc, self.stage_metrics(sorted(stages)))

    def stage_metrics(self, stage_ids) -> dict:
        acc: dict = {}
        widest = (0, None, None)
        for sid in stage_ids:
            try:
                st = self.app_store.lastStageAttempt(sid)
            except Exception:  # stage evicted from the store: nothing to read
                continue
            for key, v in (
                ("stage.run_s", st.executorRunTime() / 1e3),
                ("stage.cpu_s", st.executorCpuTime() / 1e9),
                ("stage.gc_s", st.jvmGcTime() / 1e3),
                ("stage.spill_bytes", st.memoryBytesSpilled() + st.diskBytesSpilled()),
                ("stage.failed_tasks", st.numFailedTasks()),
                ("stage.tasks", st.numTasks()),
                ("stage.fetch_wait_s", st.shuffleFetchWaitTime() / 1e3),
                ("stage.shuffle_write_s", st.shuffleWriteTime() / 1e9),
                ("stage.count", 1),
            ):
                _add(acc, key, v)
            if st.numTasks() > widest[0]:
                widest = (st.numTasks(), sid, st.attemptId())
        if widest[1] is not None:
            acc["stage.widest_skew"] = self.task_skew(widest[1], widest[2])
        return acc

    def task_skew(self, stage_id: int, attempt: int) -> float:
        """max / median task duration of one stage attempt."""
        durs = []
        for t in _seq(self.app_store.taskList(stage_id, attempt, 100000)):
            d = t.duration()
            if d.isDefined():
                durs.append(float(d.get()))
        if not durs or statistics.median(durs) <= 0:
            return 0.0
        return max(durs) / statistics.median(durs)


def _node_kind(name: str, metrics: list) -> str | None:
    """The layer a plan node belongs to. Python nodes (ArrowEvalPython,
    MapInPandas, FlatMapGroupsInPandas, ...) are recognised by their
    Python-worker metrics, whatever the Spark version names them."""
    if name.startswith("Scan "):
        return "scan"
    if name == "BroadcastExchange":
        return "broadcast"
    if name == "Exchange":
        return "exchange"
    if any("Python workers" in m[0] for m in metrics):
        return "python"
    return None


def _add(acc: dict, key: str, v) -> None:
    acc[key] = acc.get(key, 0.0) + float(v)


def merge(acc: dict, m: dict) -> dict:
    """Add the readings ``m`` into ``acc``; the task skew is a max."""
    for k, v in m.items():
        if k == "stage.widest_skew":
            acc[k] = max(acc.get(k, 0.0), v)
        else:
            _add(acc, k, v)
    return acc


#: how a layer metric is read from ``SparkProbe.execution_metrics``
LAYER_KEYS = {
    "spark.scan.bytes": "scan.size of files read",
    "spark.scan.time_s": "scan.scan time",
    "spark.python.start_s": "python.time to start Python workers",
    "spark.python.init_s": "python.time to initialize Python workers",
    "spark.python.run_s": "python.time to run Python workers",
    "spark.python.bytes_sent": "python.data sent to Python workers",
    "spark.python.bytes_returned": "python.data returned from Python workers",
    "spark.shuffle.bytes_written": "exchange.shuffle bytes written",
    "spark.shuffle.records_written": "exchange.shuffle records written",
    "spark.shuffle.write_s": "stage.shuffle_write_s",
    "spark.shuffle.fetch_wait_s": "stage.fetch_wait_s",
    "spark.broadcast.collect_s": "broadcast.time to collect",
    "spark.broadcast.build_s": "broadcast.time to build",
    "spark.broadcast.bytes": "broadcast.data size",
    "spark.spill_bytes": "stage.spill_bytes",
    "spark.task.run_s": "stage.run_s",
    "spark.task.cpu_s": "stage.cpu_s",
    "spark.task.gc_s": "stage.gc_s",
    "spark.task.skew": "stage.widest_skew",
    "spark.tasks_failed": "stage.failed_tasks",
    "spark.stages": "stage.count",
    "spark.tasks": "stage.tasks",
    "spark.jobs": "jobs",
    "queries.build_s": "queries.build_s",
    "queries.build_jobs": "queries.build_jobs",
    "queries.action_s": "queries.action_s",
    "spark.catalyst_s": "spark.catalyst_s",
}


def layer_values(m: dict) -> dict:
    """The layer metrics one sample (a pass, a job run) holds."""
    return {name: m[key] for name, key in LAYER_KEYS.items() if key in m}


def node_counts(m: dict) -> dict:
    """Exact plan-node counts of the executions ``m`` was read from."""
    return {
        "ArrowEvalPython": int(m.get("nodes.ArrowEvalPython", 0)),
        "python_nodes": int(m.get("nodes.python", 0)),
        "Exchange": int(m.get("nodes.Exchange", 0)),
        "BroadcastExchange": int(m.get("nodes.BroadcastExchange", 0)),
    }


def count_mismatches(counts: dict) -> list:
    """``counts`` maps an operation (a query, a pass level) to the count
    records of its repeats; returns one message per operation whose
    repeats do not all agree with its first."""
    out = []
    for key, recs in counts.items():
        odd = [r for r in recs[1:] if r != recs[0]]
        if odd:
            out.append(f"{key}: counts {odd[0]} differ from the first repeat's {recs[0]}")
    return out


def write_trace(path_base: str, doc: dict, tracer: Tracer, layer_table: list) -> None:
    """``<path_base>.json`` (spans, per-layer metrics, per-op records) and
    ``<path_base>.md`` (the per-layer table)."""
    os.makedirs(os.path.dirname(path_base), exist_ok=True)
    t0 = tracer.spans[0]["start"] if tracer.spans else 0.0
    spans = [dict(s, start=round(s["start"] - t0, 6),
                  end=round((s["end"] or s["start"]) - t0, 6)) for s in tracer.spans]
    self_t = {k: {"total_s": round(v[0], 6), "self_s": round(v[1], 6), "n": v[2]}
              for k, v in tracer.self_times().items()}
    with open(path_base + ".json", "w") as f:
        json.dump(dict(doc, span_self_times=self_t, spans=spans), f, indent=1)
    lines = [f"# perfbench trace: {doc['workload']} seed {doc['seed']}", "",
             "| layer metric | value | unit | should move |", "|---|---|---|---|"]
    for name, value, unit, moves in layer_table:
        lines.append(f"| `{name}` | {value:.6g} | {unit} | {moves} |")
    lines += ["", "| span | total s | self s | n |", "|---|---|---|---|"]
    for k, v in sorted(self_t.items(), key=lambda kv: -kv[1]["total_s"]):
        lines.append(f"| `{k}` | {v['total_s']:.4f} | {v['self_s']:.4f} | {v['n']} |")
    with open(path_base + ".md", "w") as f:
        f.write("\n".join(lines) + "\n")
