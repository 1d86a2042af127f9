"""Steadiness self-check for the benchmark.

    python3 perfbench/steady.py --runs 10 [--sets 2] [--workloads ksql_pull,batch]

Runs ``BENCHMARK.json``'s command ``--runs`` times per workload and set,
each time with another seed, and prints per end-to-end metric the median,
the quartiles, the spread (inter-quartile distance as a share of the
median, as ``statistics.quantiles(values, n=4)`` gives it) against a third
of the metric's bound, and, with two sets, how far the second median moved
from the first against the bound. ``--traced`` adds one traced run per
workload and prints its tracing overhead; ``--baseline`` adds one
single-slot run per workload (ungated). Writes the raw results to
``.perfbench/steady-<time>.json``. Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time


def run_once(cmd, workload, seed, seconds, trace=0, extra=()) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [*cmd, "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace), *extra],
        capture_output=True, text=True, timeout=900,
    )
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    out = json.loads(lines[-1])
    out["wall_s"] = wall
    probe = re.search(r"host\.cpu_probe=(\d+)ms", p.stderr)
    out["probe_ms"] = int(probe.group(1)) if probe else None
    rss = re.search(r"peak rss: (.*)", p.stderr)
    out["rss"] = rss.group(1) if rss else ""
    return out


def spread(values) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1, choices=(1, 2))
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--baseline", action="store_true")
    args = ap.parse_args()

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    cmd, seconds = bench["command"], bench["run_seconds"]
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    raw: dict = {}
    ok = True
    for w in names:
        sets = []
        for s in range(args.sets):
            runs = []
            for i in range(args.runs):
                seed = args.seed0 + 1000 * s + i
                r = run_once(cmd, w, seed, seconds)
                print(f"{w} set {s} seed {seed}: wall {r['wall_s']:.1f}s probe {r['probe_ms']}ms "
                      f"rss ({r['rss']}) correct={r['correct']} "
                      f"failed={r['failed']}/{r['attempted']} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
                ok &= r["correct"] and r["failed"] == 0
                runs.append(r)
            sets.append(runs)
        raw[w] = sets
        print(f"\n{w}: {args.runs} runs x {args.sets} set(s), "
              f"wall median {statistics.median(r['wall_s'] for s in sets for r in s):.1f}s")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            stats = [spread([r["metrics"][name]["value"] for r in runs]) for runs in sets]
            cells = []
            for med, q1, q3, sp in stats:
                flag = "" if sp < bound / 3 else "  <-- spread over bound/3"
                ok &= sp <= bound
                cells.append(f"median {med:.5g} [{q1:.5g}, {q3:.5g}] spread {sp:.3f}{flag}")
            line = f"  {name:<14} " + " | ".join(cells)
            if len(stats) == 2:
                worse = (stats[1][0] - stats[0][0]) / stats[0][0]
                if m["better"] == "higher":
                    worse = -worse
                agree = worse <= bound
                ok &= agree
                line += f" | 2nd vs 1st {worse:+.3f} (bound {bound}) {'ok' if agree else 'DRIFT'}"
            print(line, flush=True)
        if args.traced:
            t = run_once(cmd, w, args.seed0 + 7, seconds, trace=1)
            raw.setdefault("traced", {})[w] = t
            print(f"  traced run: overhead {t['metrics']['trace.overhead_pct']['value']:.1f}% "
                  f"of work_per_s, span coverage {t['metrics']['trace.span_coverage_pct']['value']:.1f}%")
        if args.baseline:
            b = run_once(cmd, w, args.seed0 + 8, seconds, extra=("--slots", "1"))
            raw.setdefault("baseline", {})[w] = b
            print("  single-slot baseline (ungated): "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in b["metrics"].items()))
    os.makedirs(".perfbench", exist_ok=True)
    path = f".perfbench/steady-{int(time.time())}.json"
    with open(path, "w") as f:
        json.dump(raw, f)
    print(f"\n{'STEADY' if ok else 'NOT STEADY'}; raw results in {path}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
