"""The benchmark's Spark session and process bookkeeping.

Noise controls, fixed here for every workload:

- ``local[nproc-1]`` task slots: one core stays free for the driver's
  Python, GC and the Python-worker handoff;
- shuffle partitions, default parallelism and input splits are a multiple
  of the slot count, so no stage ends in a one-task second wave;
- a fixed 1 GiB driver heap that fits the host (the frozen harness asks
  for 16g), collected by the parallel collector with a fixed 256 MiB young
  generation, so peak RSS moves with the heap the program retains and its
  off-heap memory rather than with the collector's heap sizing;
- otherwise the frozen harness's ``build_spark`` settings: zstd codec, AQE,
  RocksDB state with changelog checkpointing, 16m max partition bytes;
- UI, console progress bar and (untraced) event log off;
- every scratch path (Spark local dirs, JVM tmp, warehouse, checkpoints,
  sinks) under the benchmark's work directory inside the checkout.
"""

from __future__ import annotations

import os
import subprocess
import time

HEAP = "1g"
YOUNG = "256m"


def slots() -> int:
    return max(1, (os.cpu_count() or 2) - 1)


def build(work: str, n_slots: int, event_log: str | None = None):
    from pyspark.sql import SparkSession

    local = os.path.join(work, "spark-local")
    jtmp = os.path.join(work, "jvm-tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(jtmp, exist_ok=True)
    # the launcher JVM that spark-submit starts first, likewise
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData"
    b = (
        SparkSession.builder.master(f"local[{n_slots}]")
        .appName("perfbench")
        .config("spark.driver.memory", HEAP)
        # a fixed heap with a fixed young generation and a compacting old
        # generation: resident size is the young generation plus the old
        # generation's peak occupancy plus off-heap memory, so it tracks
        # what the program retains rather than the collector's sizing
        # (G1 touched the whole heap on every run); no hsperfdata file
        # outside the checkout
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={jtmp} -Xms{HEAP} -Xmn{YOUNG} -XX:+UseParallelGC "
                "-XX:-UsePerfData")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(n_slots))
        .config("spark.default.parallelism", str(n_slots))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.io.compression.codec", "zstd")
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    else:
        b = b.config("spark.eventLog.enabled", "false")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop(spark, timeout: float = 60.0) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    from pyspark import SparkContext

    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(10)
    # Python workers are the JVM's children; give the daemon time to exit
    deadline = time.monotonic() + 10
    while _children() and time.monotonic() < deadline:
        time.sleep(0.1)


def _children() -> list[int]:
    me = os.getpid()
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == me:
                        out.append(int(d))
            except (OSError, ValueError, IndexError):
                pass
    return out
