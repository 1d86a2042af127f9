"""Tracing for the benchmark's traced run: spans, streaming progress and
the Spark event log, all observed from outside the engine.

- :class:`Tracer` records spans (name, start, end, parent, op id) in
  memory. With tracing off it records nothing and sets no job groups.
- :func:`instrument` wraps the engine's public entry points
  (``KsqlEngine.execute`` / ``.refresh``, ``ExactlyOnceParquetSink``
  ``__call__`` / ``.read_current``) for the life of a run.
- :func:`make_progress_listener` builds a ``StreamingQueryListener`` that
  keeps every micro-batch's progress.
- :func:`fold_event_log` reads Spark's event log into per-job-group task,
  shuffle, spill and per-operator SQL metrics.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self, spark, workload: str, enabled: bool):
        self.spark = spark
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main: list[dict] = []
        self._op = None

    def _stack(self) -> list[dict]:
        if threading.current_thread() is threading.main_thread():
            return self._main
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        # a callback thread (foreachBatch) nests under the main thread's
        # open span: that is the call that is waiting for it
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        s = {"id": next(self._ids), "name": name, "parent": parent["id"] if parent else None,
             "op": self._op, "start": time.time(), "end": None, **attrs}
        self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            stack.pop()

    @contextlib.contextmanager
    def op(self, name: str):
        """One op: a root span and, when tracing, a job group naming it."""
        if not self.enabled:
            yield None
            return
        self._op = f"{self.workload}:{name}:{next(self._ids)}"
        self.spark.sparkContext.setJobGroup(f"{self.workload}:{name}", self._op)
        try:
            with self.span("op", label=name) as s:
                yield s
        finally:
            self.spark.sparkContext.setJobGroup("", "")
            self._op = None


def self_time(span: dict, spans: list[dict]) -> float:
    """Duration minus the part of it covered by the span's children."""
    kids = sorted((c["start"], c["end"]) for c in spans if c["parent"] == span["id"])
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        s, e = max(s, span["start"]), min(e, span["end"])
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the engine's public entry points with spans for the run."""
    from ksql_udaf_statistics_spark.frontend.ksql import KsqlEngine
    from ksql_udaf_statistics_spark.streaming.sink import ExactlyOnceParquetSink

    def wrap(cls, attr, name, label=None):
        orig = getattr(cls, attr)

        @functools.wraps(orig)
        def inner(*a, **kw):
            extra = label(*a, **kw) if label else {}
            with tracer.span(name, **extra):
                return orig(*a, **kw)

        setattr(cls, attr, inner)
        return cls, attr, orig

    def stmt_kind(_self, sql, *a, **kw):
        return {"kind": sql.lstrip().split(None, 1)[0].upper()}

    saved = [
        wrap(KsqlEngine, "execute", "frontend.execute", stmt_kind),
        wrap(KsqlEngine, "refresh", "frontend.refresh"),
        wrap(ExactlyOnceParquetSink, "__call__", "sink.write"),
        wrap(ExactlyOnceParquetSink, "read_current", "sink.read_current"),
    ]
    try:
        yield
    finally:
        for cls, attr, orig in saved:
            setattr(cls, attr, orig)


def make_progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """Keeps every micro-batch progress report as a dict."""

        def __init__(self):
            self.events: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with self._lock:
                self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

PY_NODES = ("MapInPandas", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "MapInArrow",
            "FlatMapGroupsInArrow")
UDF_NODES = ("ArrowEvalPython", "BatchEvalPython")


def _walk_plan(info: dict, out: dict) -> None:
    node = info.get("nodeName", "")
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (node, m["name"], m.get("metricType", "sum"))
    for c in info.get("children", []):
        _walk_plan(c, out)


def fold_event_log(log_dir: str, t0: float, t1: float) -> dict:
    """Fold the event log over the wall interval ``[t0, t1]`` (epoch s).

    Returns ``jobs`` (id -> group, call site, submit time), per-group task
    totals under ``groups``, and per-(group, node, metric) SQL metric sums
    under ``sql`` (peak-memory metrics keep the largest task value).
    """
    paths = glob.glob(f"{log_dir}/*")
    acc: dict[int, tuple] = {}
    stage_group: dict[int, str] = {}
    jobs: dict[int, dict] = {}
    groups: dict[str, dict] = {}
    sql: dict[tuple, float] = {}
    lo, hi = t0 * 1000, t1 * 1000
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _walk_plan(ev.get("sparkPlanInfo", {}), acc)
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    stage_group[ev["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id") or ""
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    t = ev.get("Submission Time", 0)
                    if lo <= t <= hi:
                        jobs[ev["Job ID"]] = {
                            "group": props.get("spark.jobGroup.id") or "",
                            "site": props.get("callSite.short") or "",
                            "execution": props.get("spark.sql.execution.id"),
                            "checkpoint_rdd": any(
                                (r.get("Callsite") or "").startswith("localCheckpoint")
                                for st in ev.get("Stage Infos", []) for r in st.get("RDD Info", [])),
                            "time": t / 1000.0,
                        }
                elif kind == "SparkListenerTaskEnd":
                    info, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    if not lo <= info.get("Launch Time", 0) <= hi:
                        continue
                    g = stage_group.get(ev.get("Stage ID"), "")
                    d = groups.setdefault(g, {"tasks": 0, "run_ms": 0, "cpu_ms": 0.0, "gc_ms": 0,
                                              "shuffle_write_b": 0, "spill_b": 0})
                    d["tasks"] += 1
                    d["run_ms"] += tm.get("Executor Run Time", 0)
                    d["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                    d["gc_ms"] += tm.get("JVM GC Time", 0)
                    d["shuffle_write_b"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    d["spill_b"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    for a in info.get("Accumulables", []):
                        meta = acc.get(a.get("ID"))
                        if meta is None or not isinstance(a.get("Update"), (int, str)):
                            continue
                        try:
                            v = float(a["Update"])
                        except ValueError:
                            continue
                        node, name, mtype = meta
                        if mtype == "nsTiming":
                            v /= 1e6
                        key = (g, node, name)
                        sql[key] = max(sql.get(key, 0.0), v) if "peak" in name else sql.get(key, 0.0) + v
    return {"jobs": jobs, "groups": groups, "sql": sql}


def checkpoint_jobs(folded: dict) -> int:
    """Jobs of the SQL executions an eager ``localCheckpoint`` launched:
    no Python call site (no action of the caller's started them) and a
    ``localCheckpoint`` RDD in the execution."""
    jobs = folded["jobs"].values()
    execs = {j["execution"] for j in jobs if j["checkpoint_rdd"] and not j["site"]}
    return sum(1 for j in jobs if not j["site"] and j["execution"] in execs - {None})


def sql_total(folded: dict, nodes, metric: str, peak=False) -> float:
    """Sum (or, with ``peak``, the largest) of a SQL metric over plan nodes
    whose name starts with one of ``nodes``."""
    vals = [v for (_, node, name), v in folded["sql"].items()
            if node.startswith(tuple(nodes)) and name == metric]
    if not vals:
        return 0.0
    return max(vals) if peak else sum(vals)
