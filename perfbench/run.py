"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ksql_pull --seed 1 --seconds 20 --trace 0

Workloads: ``ksql_pull`` and ``batch``; see ``perfbench/README.md``.

Run from the root of a checkout that holds the ``ksql_udaf_statistics_spark``
package. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones (``BENCHMARK.json`` ``end_to_end``); with
``--trace 1`` they are the per-layer ones, from a traced run that also
reports its tracing overhead and writes its spans under ``.perfbench/``.
Human-readable detail goes to standard error.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

PACKAGE = "ksql_udaf_statistics_spark"
WORK_ROOT = ".perfbench"
KEEP_TRACES = 8


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def cpu_probe_ms() -> float:
    """A short Spark-free CPU burn; a high reading flags a contended host."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_500_000):
        x += i * i
    return (time.perf_counter() - t0) * 1000


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def end_to_end(res: dict, setup_s: float, rss_mb: float) -> dict:
    lat = res["lat_ms"]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
        "op_p50_ms": {"value": res["p50_ms"], "unit": "ms"},
        "op_geomean_ms": {"value": geomean(lat), "unit": "ms"},
        "work_per_s": {"value": res["items"] / res["busy_s"], "unit": "1/s"},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true", help="tiny inputs, for the smoke tests")
    ap.add_argument("--slots", type=int, default=0,
                    help="task slots (default nproc-1); 1 gives the single-slot baseline")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        log(f"error: no {PACKAGE} package in {root}; run from the root of a checkout")
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import session
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"error: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        return 2

    # everything the run writes stays inside the checkout
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    cache = os.path.join(root, WORK_ROOT, "cache")
    work = os.path.join(root, WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(cache, exist_ok=True)
    os.makedirs(work)
    import tempfile

    tempfile.tempdir = os.path.join(work, "tmp")
    os.makedirs(tempfile.tempdir)
    os.environ["TMPDIR"] = tempfile.tempdir
    try:
        return _run(args, root, work, cache, session, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, root, work, cache, session, workloads) -> int:
    import layers
    import tracing

    slots = args.slots or session.slots()
    wl = workloads.WORKLOADS[args.workload]()
    r = workloads.Run(None, None, work, cache, args.seed, args.seconds, slots, args.small)
    wl.prepare(r)
    gen_s = r.gen_s
    t = time.perf_counter()
    probe = cpu_probe_ms()
    probe_s = time.perf_counter() - t
    log(f"[{args.workload}] seed={args.seed} nproc={os.cpu_count()} slots={slots} "
        f"inputs={gen_s:.1f}s host.cpu_probe={probe:.0f}ms")

    event_log = os.path.join(work, "eventlog") if args.trace else None
    spark = session.build(work, slots, event_log)
    log(f"[{args.workload}] session up at {time.perf_counter() - T_START:.1f}s")
    try:
        r.spark = spark
        r.tracer = tracing.Tracer(spark, args.workload, enabled=False)
        wl.setup(r)
        setup_s = time.perf_counter() - T_START - gen_s - probe_s
        res = wl.timed(r)
        if not res["lat_ms"]:
            for p in r.problems[:10]:
                log(f"[{args.workload}] FAILED {p}")
            log(f"[{args.workload}] error: no op succeeded, so there is nothing to measure")
            return 1
        traced = layers.traced_phase(r, wl) if args.trace else None
        rss_py, rss_jvm = session.hwm_mb(os.getpid()), session.hwm_mb(session.jvm_pid(spark))
    finally:
        session.stop(spark)
    metrics = end_to_end(res, setup_s, rss_py + rss_jvm)
    log(f"[{args.workload}] peak rss: python {rss_py:.0f}MB + jvm {rss_jvm:.0f}MB")
    log(f"[{args.workload}] end-to-end ({len(res['lat_ms'])} ops): "
        + " ".join(f"{k}={v['value']:.4g}{v['unit']}" for k, v in metrics.items()))
    if traced is not None:
        trace_root = os.path.join(root, WORK_ROOT, "trace")
        out_dir = os.path.join(trace_root, f"{args.workload}-s{args.seed}-{os.getpid()}")
        metrics = layers.per_layer(wl, traced, metrics, event_log, probe, out_dir)
        # keep the newest few traces
        olds = sorted((os.path.join(trace_root, d) for d in os.listdir(trace_root)), key=os.path.getmtime)
        for d in olds[:-KEEP_TRACES]:
            shutil.rmtree(d, ignore_errors=True)
        log(f"[{args.workload}] tracing overhead {metrics['trace.overhead_pct']['value']:.1f}% "
            f"of work_per_s; spans in {out_dir}")
        for k, v in metrics.items():
            log(f"  {k} = {v['value']:.6g} {v['unit']}")
    for p in r.problems[:10]:
        log(f"[{args.workload}] FAILED {p}")
    print(json.dumps({"correct": r.failed == 0, "attempted": r.attempted, "failed": r.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
