"""Per-layer metrics of the traced run.

The traced run first runs the workload's timed phase untraced, then again
with spans, job groups and the streaming-progress listener on; the ratio
of the two is the tracing overhead. Every per-layer number is observed
from outside the engine: spans around calls into its public functions,
``StreamingQueryProgress`` and Spark's event log. A layer a workload does
not exercise reads 0.

Normalization: ``*_ms`` streaming phases are means per micro-batch;
event-log totals (shuffle, spill, Python time, jobs, tasks, CPU, GC) are
per op unit (one query pass for ``batch``, one op otherwise).
"""

from __future__ import annotations

import json
import os
import statistics
import time
from datetime import datetime

import tracing
import workloads

MB = 1024 * 1024

# (name, unit) of every per-layer metric, in BENCHMARK.json order
FIXED = [
    ("frontend.insert_ms", "ms"), ("frontend.refresh_ms", "ms"), ("frontend.read_ms", "ms"),
    ("frontend.query_overhead_ms", "ms"), ("frontend.fresh_p90_ms", "ms"),
    ("frontend.ops", "count"), ("frontend.ops_failed", "count"),
    ("sources.latest_offset_ms", "ms"), ("sources.get_batch_ms", "ms"),
    ("sources.files_listed", "count"), ("sources.input_rows", "count"),
    ("streaming.add_batch_ms", "ms"), ("streaming.query_planning_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"), ("streaming.commit_offsets_ms", "ms"),
    ("streaming.batches", "count"), ("streaming.rows_per_batch", "count"),
    ("sink.write_ms", "ms"), ("sink.jobs_per_batch", "count"), ("sink.read_current_ms", "ms"),
    ("sink.committed_batches", "count"),
    ("state.rows_total", "count"), ("state.memory_mb", "MB"), ("state.commit_ms", "ms"),
    ("state.rows_dropped_by_watermark", "count"),
    ("operators.shuffle_write_mb", "MB"), ("operators.spill_mb", "MB"),
    ("operators.python_ms", "ms"), ("operators.checkpoint_jobs", "count"),
    ("stats.expand_rows", "count"), ("stats.agg_peak_mem_mb", "MB"),
    ("stats.shuffle_write_mb", "MB"),
    ("functions.python_ms", "ms"), ("functions.arrow_sent_mb", "MB"),
    ("spark.task_cpu_ms", "ms"), ("spark.gc_ms", "ms"), ("spark.jobs", "count"),
    ("spark.tasks", "count"), ("spark.cached_mb", "MB"),
    ("host.cpu_probe", "ms"),
    ("trace.overhead_pct", "%"), ("trace.span_coverage_pct", "%"),
]


def names() -> list[tuple[str, str]]:
    out = list(FIXED)
    for q in workloads.Batch.queries:
        out += [(f"plans.{q}.build_ms", "ms"), (f"plans.{q}.run_ms", "ms"), (f"plans.{q}.jobs", "count")]
    return out


def traced_phase(r: workloads.Run, wl) -> dict:
    """Run the timed phase again with tracing on, then once more without
    (so warm-up drift between phases does not read as overhead); return
    what the traced phase saw."""
    tr = tracing.Tracer(r.spark, wl.name, enabled=True)
    r.tracer = tr
    listener = tracing.make_progress_listener()
    r.spark.streams.addListener(listener)
    failed0 = r.failed
    t0 = time.time()
    try:
        with tracing.instrument(tr):
            res = wl.timed(r)
    finally:
        t1 = time.time()
        r.spark.streams.removeListener(listener)
    storage = r.spark.sparkContext._jsc.sc().getRDDStorageInfo()
    cached = sum(s.memSize() + s.diskSize() for s in storage)
    failed = r.failed - failed0
    r.tracer = tracing.Tracer(r.spark, wl.name, enabled=False)
    after = wl.timed(r)
    return {"res": res, "after": after, "spans": tr.spans, "progress": list(listener.events),
            "t0": t0, "t1": t1, "cached_b": cached, "failed": failed}


def _dur_ms(s: dict) -> float:
    return (s["end"] - s["start"]) * 1000


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _p90(xs) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def _ts(p: dict) -> float:
    return datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").timestamp()


def per_layer(wl, tp: dict, plain: dict, event_log: str, probe_ms: float, out_dir: str) -> dict:
    spans, prog = tp["spans"], tp["progress"]
    res = tp["res"]
    folded = tracing.fold_event_log(event_log, tp["t0"], tp["t1"])
    ops = [s for s in spans if s["name"] == "op"]
    # one "unit" per op, except batch: one unit per pass over the list
    units = max(1, len(ops) / len(wl.queries) if isinstance(wl, workloads.Batch) else len(ops))
    m: dict[str, float] = {}

    # frontend.ksql
    execs = [s for s in spans if s["name"] == "frontend.execute"]
    pulls = [s for s in execs if s.get("kind") == "SELECT"]
    refreshes = [s for s in spans if s["name"] == "frontend.refresh"]
    trig_in = [
        sum(p["durationMs"].get("triggerExecution", 0) for p in prog if s["start"] <= _ts(p) <= s["end"])
        for s in refreshes
    ]
    ksql_ops = [s for s in ops if s.get("label") == "insert_pull"]
    m["frontend.insert_ms"] = _med([_dur_ms(s) for s in execs if s.get("kind") == "INSERT"])
    m["frontend.refresh_ms"] = _med([_dur_ms(s) for s in refreshes])
    m["frontend.read_ms"] = _med([tracing.self_time(s, spans) * 1000 for s in pulls])
    m["frontend.query_overhead_ms"] = _med([_dur_ms(s) - t for s, t in zip(refreshes, trig_in)])
    m["frontend.fresh_p90_ms"] = _p90([_dur_ms(s) for s in ksql_ops])
    m["frontend.ops"] = float(len(ksql_ops))
    m["frontend.ops_failed"] = float(tp["failed"]) if ksql_ops else 0.0

    # sources + micro-batch engine + state store, per micro-batch
    nonempty = [p for p in prog if p.get("numInputRows", 0) > 0]

    def phase(key):
        return _mean([p["durationMs"].get(key, 0) for p in nonempty])

    def state(p, key):
        return sum(o.get(key, 0) for o in p.get("stateOperators", []))

    rows = sum(p.get("numInputRows", 0) for p in prog)
    m["sources.latest_offset_ms"] = phase("latestOffset")
    m["sources.get_batch_ms"] = phase("getBatch")
    m["sources.files_listed"] = float(sum(s.get("files_listed", 0) for s in spans)) / units
    m["sources.input_rows"] = float(rows) / units
    m["streaming.add_batch_ms"] = phase("addBatch")
    m["streaming.query_planning_ms"] = phase("queryPlanning")
    m["streaming.wal_commit_ms"] = phase("walCommit")
    m["streaming.commit_offsets_ms"] = phase("commitOffsets")
    m["streaming.batches"] = float(len(nonempty)) / units
    m["streaming.rows_per_batch"] = rows / len(nonempty) if nonempty else 0.0
    m["state.rows_total"] = float(max((state(p, "numRowsTotal") for p in prog), default=0))
    m["state.memory_mb"] = max((state(p, "memoryUsedBytes") for p in prog), default=0) / MB
    m["state.commit_ms"] = _mean([state(p, "commitTimeMs") for p in nonempty])
    m["state.rows_dropped_by_watermark"] = float(sum(state(p, "numRowsDroppedByWatermark") for p in prog))

    # streaming.sink
    writes = [s for s in spans if s["name"] == "sink.write"]
    jobs = folded["jobs"].values()
    in_writes = sum(1 for j in jobs for s in writes if s["start"] <= j["time"] <= s["end"])
    m["sink.write_ms"] = _mean([_dur_ms(s) for s in writes])
    m["sink.jobs_per_batch"] = in_writes / len(writes) if writes else 0.0
    m["sink.read_current_ms"] = _med([_dur_ms(s) for s in spans if s["name"] == "sink.read_current"])
    m["sink.committed_batches"] = float(len(writes)) / units

    # plans.queries
    batch_q = getattr(wl, "queries", [])
    for q in workloads.Batch.queries:
        m[f"plans.{q}.build_ms"] = _med([_dur_ms(s) for s in spans
                                         if s["name"] == "plans.build" and s.get("query") == q])
        m[f"plans.{q}.run_ms"] = _med([_dur_ms(s) for s in spans
                                       if s["name"] == "plans.run" and s.get("query") == q])
        runs = sum(1 for s in ops if s.get("label") == q)
        m[f"plans.{q}.jobs"] = (sum(1 for j in jobs if j["group"] == f"{wl.name}:{q}") / runs
                                if q in batch_q and runs else 0.0)

    # operators vs stats: by which declared query launched the work
    op_groups = {f"batch:{q}" for q in workloads.NEARDUP}
    groups = folded["groups"]

    def gsum(key, want_ops):
        return sum(d[key] for g, d in groups.items() if (g in op_groups) == want_ops)

    m["operators.shuffle_write_mb"] = gsum("shuffle_write_b", True) / MB / units
    m["operators.spill_mb"] = gsum("spill_b", True) / MB / units
    m["operators.python_ms"] = tracing.sql_total(folded, tracing.PY_NODES, "time to run Python workers") / units
    m["operators.checkpoint_jobs"] = tracing.checkpoint_jobs(folded) / units
    m["stats.expand_rows"] = tracing.sql_total(folded, ("Expand",), "number of output rows") / units
    m["stats.agg_peak_mem_mb"] = tracing.sql_total(
        folded, ("HashAggregate", "ObjectHashAggregate"), "peak memory", peak=True) / MB
    m["stats.shuffle_write_mb"] = gsum("shuffle_write_b", False) / MB / units
    m["functions.python_ms"] = tracing.sql_total(folded, tracing.UDF_NODES, "time to run Python workers") / units
    m["functions.arrow_sent_mb"] = tracing.sql_total(
        folded, tracing.UDF_NODES, "data sent to Python workers") / MB / units

    # Spark runtime + host
    m["spark.task_cpu_ms"] = sum(d["cpu_ms"] for d in groups.values()) / units
    m["spark.gc_ms"] = sum(d["gc_ms"] for d in groups.values()) / units
    m["spark.jobs"] = len(folded["jobs"]) / units
    m["spark.tasks"] = sum(d["tasks"] for d in groups.values()) / units
    m["spark.cached_mb"] = tp["cached_b"] / MB
    m["host.cpu_probe"] = probe_ms

    # tracing overhead and how much of each op the child spans explain
    def rate(x):
        return x["items"] / x["busy_s"] if x["busy_s"] else 0.0

    plain_rate = (plain["work_per_s"]["value"] + rate(tp["after"])) / 2
    m["trace.overhead_pct"] = (plain_rate / rate(res) - 1) * 100 if rate(res) else 0.0
    op_ms = sum(_dur_ms(s) for s in ops)
    m["trace.span_coverage_pct"] = (
        (op_ms - sum(tracing.self_time(s, spans) * 1000 for s in ops)) / op_ms * 100 if op_ms else 0.0)

    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "spans.json"), "w") as f:
        json.dump(spans, f)
    with open(os.path.join(out_dir, "progress.json"), "w") as f:
        json.dump(prog, f)
    with open(os.path.join(out_dir, "jobs.json"), "w") as f:
        json.dump(folded["jobs"], f, indent=0)
    units_of = dict(names())
    return {k: {"value": float(m[k]), "unit": units_of[k]} for k, _ in names()}
