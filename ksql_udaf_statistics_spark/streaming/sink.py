"""Exactly-once sinks for streaming aggregates (parquet stand-in for Iceberg).

The reference materializes its continuous aggregate into a Kafka changelog
topic (AllUdafIT.java:593-600); ksqlDB's state store + changelog give it
effective exactly-once. Our equivalent (north_rule): ``foreachBatch``
writing an idempotent, replay-safe table.

Mechanism — **overwrite-by-batch-partition**:

- every micro-batch writes its rows under ``batch_id=<N>`` using dynamic
  partition overwrite, so a replayed batch (after a crash between "write"
  and "commit offsets") overwrites its own partition with identical
  content instead of duplicating — idempotence without a transaction log;
- with update-mode aggregations the same (window, key) may be re-emitted
  in later batches; ``read_current`` resolves to the latest batch per key
  (row_number over batch_id desc) — the parquet analogue of an Iceberg
  MERGE keyed by (window, source), SURVEY.md §7 substitution note;
- a ``_ledger`` directory records each committed batch id, the rows that
  commit wrote (observed on the write itself — one Spark action per
  batch) and its wall time: the list of what the table serves, and a
  cheap audit that replays happened.

Input lineage is not the sink's job: the query checkpoint's ``offsets/``
and ``commits/`` logs already record which input each batch id consumed.

On a real cluster the same class swaps parquet for Iceberg by replacing
``_write_batch`` with a MERGE INTO — the foreachBatch topology, checkpoint
contract, and key discipline are unchanged.
"""

from __future__ import annotations

import json
import os
import threading
import time
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# upper bound on one bounded (availableNow) drain, and on one catch-up wait
# of a persistent query; a query still busy after it is stopped and the
# wait raises
DRAIN_TIMEOUT_S = 360


def _observe_rows(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row counter riding on its next action: the ledger's
    row count costs no extra Spark job."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def _commit_ledger(ledger_dir: str, batch_id: int, rows: int) -> None:
    """Commit one batch's ledger entry atomically.

    One file per batch id, so a replay overwrites the same file
    (idempotent). The entry is written to a temp name and ``os.replace``d
    into place: a crash mid-write leaves only the temp file, which
    ``committed_batches`` ignores, never a torn ``batch-*.json``.
    """
    os.makedirs(ledger_dir, exist_ok=True)
    entry = {
        "batch_id": batch_id,
        "rows": rows,
        "wall_time": time.time(),
    }
    path = os.path.join(ledger_dir, f"batch-{batch_id:012d}.json")
    with open(path + ".tmp", "w") as f:
        json.dump(entry, f)
    os.replace(path + ".tmp", path)


class ExactlyOnceParquetSink:
    """foreachBatch sink with batch-id idempotence + key-upsert reads."""

    def __init__(self, path: str, key_cols: Sequence[str]):
        self.path = path
        self.key_cols = list(key_cols)
        self.ledger_dir = os.path.join(path, "_ledger")

    # -- write side ---------------------------------------------------------

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self._write_batch(batch_df, batch_id)

    def _write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # the write is the batch's only action, so nothing is cached.
        # Windowed-aggregate outputs are tiny (one row per (window, key)):
        # one file per batch, not one per shuffle partition, keeps file
        # creation and listing off the sink table's hot path
        out, obs = _observe_rows(batch_df)
        (
            out.withColumn("batch_id", F.lit(batch_id)).coalesce(1)
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(os.path.join(self.path, "data"))
        )
        _commit_ledger(self.ledger_dir, batch_id, obs.get["rows"])

    # -- read side ----------------------------------------------------------

    def read_all(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.path, "data"))

    def read_current(self, spark: SparkSession) -> DataFrame:
        """Latest emission per key — the materialized-table ("pull query")
        view (AllUdafIT.java:654-671).

        Only COMMITTED batches (present in the ledger) are served: a batch
        directory written by a crash between data-write and ledger-commit
        is invisible until its replay commits — the ledger is the source
        of truth for what exists, exactly like an Iceberg snapshot list.
        """
        df = self.read_all(spark)
        committed = [e["batch_id"] for e in self.committed_batches()]
        if not committed:
            return df.filter(F.lit(False)).drop("batch_id")
        # exact ledger intersection: only directories with a ledger entry
        # are served (a crashed batch's directory is invisible whatever its
        # id). Large committed lists compile to an InSet over the batch_id
        # partition column — still partition-pruned, O(1) per-row
        df = df.filter(F.col("batch_id").isin(committed))
        w = Window.partitionBy(*self.key_cols).orderBy(F.col("batch_id").desc())
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "batch_id")
        )

    def read_latest_batch(self, spark: SparkSession) -> DataFrame:
        """Rows of the most recent COMMITTED batch ONLY.

        Required for COMPLETE-output-mode queries (session windows): each
        batch re-emits the ENTIRE aggregate, so the latest batch IS the
        table. Resolving latest-per-key across batches (read_current) is
        wrong there — a session merged away by a later batch would still
        surface its pre-merge row from an earlier batch (phantom stale
        rows). batch_id is the partition column, so the filter prunes to
        one partition directory.

        "Committed" means present in the ledger: a data directory written
        by a batch that crashed before its ledger commit is never served
        (it will be overwritten identically on replay, and only then
        becomes visible). An empty ledger yields an empty table, not the
        newest uncommitted directory.
        """
        df = self.read_all(spark)
        entries = self.committed_batches()
        if not entries:
            return df.filter(F.lit(False)).drop("batch_id")
        latest = max(e["batch_id"] for e in entries)
        return df.filter(F.col("batch_id") == latest).drop("batch_id")

    def committed_batches(self) -> list[dict]:
        if not os.path.isdir(self.ledger_dir):
            return []
        entries = []
        for name in sorted(os.listdir(self.ledger_dir)):
            if name.startswith("batch-") and name.endswith(".json"):
                with open(os.path.join(self.ledger_dir, name)) as f:
                    entries.append(json.load(f))
        return entries


class MergeUpsertParquetSink(ExactlyOnceParquetSink):
    """foreachBatch sink with true key-level MERGE semantics.

    Where :class:`ExactlyOnceParquetSink` appends batch partitions and
    resolves the latest row per key at READ time, this sink maintains the
    merged table at WRITE time — the parquet analogue of Iceberg's
    ``MERGE INTO target USING batch ON keys WHEN MATCHED UPDATE``
    (SURVEY.md §7): after every batch the stored table holds exactly one
    row per key.

    Snapshot-and-pointer commit (the Iceberg snapshot model in one file):

    - each batch writes a full new snapshot directory
      ``snapshot=<batch_id>`` = (previous snapshot minus keys present in
      the batch) union (batch rows);
    - a ``_current`` pointer file is then replaced atomically
      (``os.replace``). A crash before the repoint leaves the previous
      snapshot live; a replayed batch rewrites the same snapshot from the
      same previous state and repoints — idempotent, exactly-once.

    Cost shape: a full-table rewrite per batch. That is the right trade
    for a materialized *aggregate* (O(windows x keys) rows, tiny next to
    the input stream); a real Iceberg MERGE avoids the rewrite via
    file-level pruning, and swapping this class for it changes only
    ``_write_batch`` — the foreachBatch topology, checkpoint contract and
    key discipline are identical.
    """

    def _snapshot_dir(self, batch_id: int) -> str:
        return os.path.join(self.path, "data", f"snapshot={batch_id:012d}")

    def _pointer_file(self) -> str:
        return os.path.join(self.path, "_current")

    def _current_snapshot(self) -> Optional[str]:
        try:
            with open(self._pointer_file()) as f:
                return f.read().strip() or None
        except FileNotFoundError:
            return None

    def _write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # the plan reads the batch twice (broadcast key side + union):
        # cache it so the micro-batch is computed once
        batch_df.persist()
        try:
            # one row per key within the batch (update-mode re-emissions of
            # the same key in one batch collapse to the last state, which
            # for our monotone accumulators equals max of every stat column;
            # rows within a foreachBatch df for one key are identical)
            new = batch_df.dropDuplicates(self.key_cols)
            cur_name = self._current_snapshot()
            # a replayed batch must merge against the state BEFORE itself,
            # not its own output, or deletes-by-overwrite double-apply
            if cur_name is not None and int(cur_name.split("=")[1]) == batch_id:
                committed = [
                    e["batch_id"] for e in self.committed_batches()
                    if e["batch_id"] < batch_id
                ]
                cur_name = (
                    f"snapshot={max(committed):012d}" if committed else None
                )
            if cur_name is not None:
                cur = spark.read.parquet(
                    os.path.join(self.path, "data", cur_name)
                )
                keep = cur.join(
                    F.broadcast(new.select(*self.key_cols)),
                    self.key_cols,
                    "left_anti",
                )
                out = keep.unionByName(new.select(*cur.columns))
            else:
                out = new
            out, obs = _observe_rows(out.coalesce(1))
            out.write.mode("overwrite").parquet(self._snapshot_dir(batch_id))
        finally:
            batch_df.unpersist()
        tmp = self._pointer_file() + ".tmp"
        with open(tmp, "w") as f:
            f.write(f"snapshot={batch_id:012d}")
        os.replace(tmp, self._pointer_file())
        # rows = the whole snapshot this commit wrote, not just the batch
        _commit_ledger(self.ledger_dir, batch_id, obs.get["rows"])

    def read_all(self, spark: SparkSession) -> DataFrame:
        cur = self._current_snapshot()
        if cur is None:
            raise FileNotFoundError(f"no committed snapshot under {self.path}")
        return spark.read.parquet(os.path.join(self.path, "data", cur))

    def read_current(self, spark: SparkSession) -> DataFrame:
        # the table IS the merged state — no read-time resolution needed
        return self.read_all(spark)

    # -- time travel ---------------------------------------------------------

    def snapshots(self) -> list[int]:
        """Committed snapshot ids (batch ids), oldest first — Iceberg's
        snapshot log. Only snapshots at or before the current pointer
        count as committed (a crash can leave a newer orphan directory,
        which a replay overwrites)."""
        cur = self._current_snapshot()
        if cur is None:
            return []
        cur_id = int(cur.split("=")[1])
        data = os.path.join(self.path, "data")
        out = []
        for name in os.listdir(data):
            if name.startswith("snapshot="):
                sid = int(name.split("=")[1])
                if sid <= cur_id:
                    out.append(sid)
        return sorted(out)

    def read_as_of(self, spark: SparkSession, batch_id: int) -> DataFrame:
        """Time-travel read: the merged table as of the latest committed
        snapshot with id <= ``batch_id`` (Iceberg ``VERSION AS OF``).
        Every snapshot is a full consistent table, so this is just a
        different directory scan — no reconstruction."""
        eligible = [s for s in self.snapshots() if s <= batch_id]
        if not eligible:
            raise FileNotFoundError(
                f"no committed snapshot at or before batch {batch_id} "
                f"under {self.path}"
            )
        return spark.read.parquet(
            os.path.join(self.path, "data", f"snapshot={max(eligible):012d}")
        )


def run_streaming_stats(
    source_df: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    transform: Callable[[DataFrame], DataFrame],
    output_mode: str = "update",
    query_name: str = "windowed_stats",
    processing_time: Optional[str] = None,
):
    """Start source → transform → ``foreachBatch(sink)`` with a checkpoint.

    The one ``foreachBatch`` wiring. By default the trigger is
    ``availableNow``: the query drains all currently-available input then
    stops, and a restart with the same checkpoint resumes from the last
    committed offsets (north_rule checkpoint-resume requirement);
    ``drain_available_now`` waits for it. With ``processing_time`` (e.g.
    ``"100 milliseconds"``) the query is persistent: it polls its source
    at that interval until stopped, and ``await_caught_up`` waits for it
    to process what was published before the call. Returns the running
    query without blocking, so a caller can poll its progress.
    """
    w = (
        transform(source_df).writeStream.outputMode(output_mode)
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    if processing_time is None:
        w = w.trigger(availableNow=True)
    else:
        w = w.trigger(processingTime=processing_time)
    return w.start()


def drain_available_now(query, what: str):
    """Block until an ``availableNow`` query finishes draining, stopping
    it and raising if ``DRAIN_TIMEOUT_S`` elapses first — a partial drain
    must never be read as a finished table. The one drain policy for every
    bounded streaming job (gates, continuous aggregates, drift, the
    front-end's stream-table-join tables).
    """
    if not query.awaitTermination(DRAIN_TIMEOUT_S):
        query.stop()
        raise RuntimeError(f"{what} did not drain within {DRAIN_TIMEOUT_S}s")
    return query


def await_caught_up(query, what: str):
    """Block until a persistent (``processingTime``) query has processed
    every input published before the call, stopping it and raising if
    ``DRAIN_TIMEOUT_S`` elapses first. A query that dies while waited
    for raises its ``StreamingQueryException``.

    Why ``processAllAvailable()`` twice: a call returns when a trigger
    reports "no new data" after the call began, and that trigger may have
    listed its source *before* the publish — one call alone can return
    without the caller's records. Triggers run one after another on the
    query's thread, and each reports at most once, at the end of its
    listing. Trigger A satisfies the first call, so A reported after that
    call began, i.e. after the publish. Trigger B satisfies the second
    call, so B reported after the first call returned, after A's report:
    B is a later trigger than A and its listing began after A's ended,
    after the publish. B saw every published file and found nothing new,
    so the triggers before it had already run and committed the batches
    holding them. The price is at most one more trigger interval.

    The wait runs on a helper thread so that it has a bound: the query's
    own wait has none.
    """
    err: list[BaseException] = []

    def wait() -> None:
        try:
            query.processAllAvailable()
            query.processAllAvailable()
        except BaseException as e:  # re-raised on the caller's thread
            err.append(e)

    t = threading.Thread(target=wait, name=f"await {what}", daemon=True)
    t.start()
    t.join(DRAIN_TIMEOUT_S)
    if t.is_alive():
        query.stop()
        raise RuntimeError(f"{what} did not catch up within {DRAIN_TIMEOUT_S}s")
    if err:
        raise err[0]
    return query
