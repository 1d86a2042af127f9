#!/usr/bin/env python
"""Idle cost of the front-end's persistent queries.

Each CTAS keeps one persistent streaming query that polls its stream
directory every ``TRIGGER_INTERVAL``. This script measures what that
polling costs while nothing is inserted: the driver JVM's CPU time
(utime + stime from ``/proc/<jvm pid>/stat``) over a quiet window, with
0, 1 and 5 idle tables, each table after one INSERT and one pull. An
unreported first round with one table warms the JVM up, so that JIT
compilation of the pull path does not land in a measured window.

    python BENCH/idle_poll_cost.py [--seconds 10] [--slots 3]

Run from the repo root. Prints one JSON line per table count.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def cpu_s(pid: int) -> float:
    """utime + stime of ``pid`` in seconds."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--slots", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from ksql_udaf_statistics_spark.frontend import KsqlEngine

    spark = (SparkSession.builder.master(f"local[{args.slots}]")
             .config("spark.sql.shuffle.partitions", str(args.slots))
             .config("spark.ui.enabled", "false")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    jvm = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    for n in (None, 0, 1, 5):
        work = tempfile.mkdtemp(prefix="kuss_idle_")
        eng = KsqlEngine(spark, work)
        try:
            eng.execute("CREATE STREAM s (k VARCHAR, val DOUBLE) "
                        "WITH (kafka_topic='s', value_format='json');"
                        "INSERT INTO s (k, val) VALUES ('a', 1.0);")
            for i in range(1 if n is None else n):
                eng.execute(f"CREATE TABLE t{i} AS SELECT k AS k, COUNT(*) AS n, "
                            f"SKEWNESS(val) AS sk FROM s GROUP BY k EMIT CHANGES;")
                eng.execute(f"SELECT * FROM t{i};")
            if n is None:
                continue
            time.sleep(2.0)  # let the last batch's bookkeeping settle
            c0, t0 = cpu_s(jvm), time.perf_counter()
            time.sleep(args.seconds)
            c1, t1 = cpu_s(jvm), time.perf_counter()
            print(json.dumps({"tables": n, "queries": len(spark.streams.active),
                              "seconds": round(t1 - t0, 2),
                              "jvm_cpu_s": round(c1 - c0, 3),
                              "jvm_cpu_pct_of_one_core": round((c1 - c0) / (t1 - t0) * 100, 2)}),
                  flush=True)
        finally:
            eng.close()
            shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
