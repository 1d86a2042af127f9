"""Streaming curation funnel: quality gate -> near-dup gate -> funnel table.

The batch capstone ``plans.queries.q_curation_funnel`` composes quality
filtering, exact dedup and near-dup removal into one plan and reports the
per-source retention funnel. Real ingest pipelines need the same funnel
CONTINUOUSLY: every arriving micro-batch must (a) admit only curated
documents into the corpus and (b) keep a per-source funnel-counts table
current — the ksqlDB pattern of a second EMIT CHANGES table fed by the
same query (reference README.md:69-76 materializes running aggregates the
same way; here the aggregate is the curation ledger itself).

One streaming query, two materialized tables:

- **kept** (``ExactlyOnceParquetSink`` keyed by doc_id): documents that
  pass the stateless quality filter AND the watermark-bounded MinHash
  near-dup gate (``streaming/neardup.py``; exact duplicates need no
  separate stage — identical texts share all 16 band buckets, so the gate
  subsumes exact dedup, matching the batch twin).
- **funnel** (per-source counts ``n_docs / n_quality / n_kept /
  tokens_kept``): additive across batches. Each batch writes the FULL
  updated table (one row per source — tiny), so the latest committed
  batch IS the table, exactly like a ksqlDB table sink.

Replay safety: the additive base read inside ``foreachBatch`` uses only
ledger-committed batches with ``batch_id < current`` — a replayed batch
re-adds its deltas onto the same pre-batch base and overwrites its own
partition, so funnel counts are exactly-once even across crash/replay
(the plain ``read_current`` would double-add on replay).

100 TB shape: the stateful shuffle carries ``(band, bucket, doc_id, ts,
source, n_tok)`` — the near-dup gate's id-only discipline plus ~16 bytes
of funnel metadata per band row, never text or signatures. The quality
filter is stateless Column code ahead of the shuffle, so junk documents
never enter the stateful operator at all (they take the stateless union
branch). The funnel aggregation is one hash agg per micro-batch over
per-doc verdict rows; the funnel table itself is O(#sources) rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import quality_score
from .neardup import minhash_dedup_batch, stream_minhash_decisions
from .sink import ExactlyOnceParquetSink, drain_available_now, run_streaming_stats

FUNNEL_AGGS = [
    F.count(F.lit(1)).alias("n_docs"),
    F.sum(F.col("q_ok").cast("long")).alias("n_quality"),
    F.sum(F.col("kept").cast("long")).alias("n_kept"),
    F.sum(F.when(F.col("kept"), F.col("n_tok")).otherwise(0))
    .cast("long").alias("tokens_kept"),
]


def _with_quality(docs: DataFrame, threshold: float) -> DataFrame:
    return docs.withColumn(
        "n_tok", F.size(F.split(F.col("text"), " ")).cast("long")
    ).withColumn("q_ok", quality_score(F.col("text")) >= threshold)


def _committed_funnel_before(
    sink: ExactlyOnceParquetSink, spark: SparkSession, batch_id: int
) -> DataFrame | None:
    """Funnel table as of the last COMMITTED batch strictly before
    ``batch_id`` — the replay-safe additive base (a replayed batch must
    not see its own previous, about-to-be-overwritten write)."""
    committed = [
        e["batch_id"] for e in sink.committed_batches()
        if e["batch_id"] < batch_id
    ]
    if not committed:
        return None
    # every batch writes the FULL cumulative table (emit unions the base
    # into its deltas before writing), so the latest committed batch
    # strictly before batch_id IS the base — one partition read, no
    # all-batches scan or per-source window
    return (
        sink.read_all(spark)
        .filter(F.col("batch_id") == max(committed))
        .drop("batch_id")
    )


def run_stream_curation_funnel(
    stream_docs: DataFrame,
    kept_sink: ExactlyOnceParquetSink,
    funnel_sink: ExactlyOnceParquetSink,
    checkpoint: str,
    quality_threshold: float = 0.5,
    watermark: str = "1 hour",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    seed: int = 1,
):
    """Run the continuous curation pipeline over a ``(doc_id, source,
    text, ts)`` stream to the end of its available input. Returns the
    drained StreamingQuery.

    Quality-passing docs flow through the stateful near-dup gate with
    ``(source, n_tok)`` carried; quality-failing docs take a stateless
    union branch (they still count in ``n_docs``). Per-doc verdicts and
    both table updates happen in one ``foreachBatch`` transaction pair.
    """
    docs = _with_quality(stream_docs, quality_threshold)
    passq = docs.filter(F.col("q_ok"))
    junk = docs.filter(~F.col("q_ok"))

    decisions = stream_minhash_decisions(
        passq, watermark=watermark, n=n, num_hashes=num_hashes,
        bands=bands, seed=seed, carry_cols=["source", "n_tok"],
    ).withColumn("q_ok", F.lit(True))
    junk_rows = junk.select(
        "doc_id", "ts", F.lit(False).alias("collided"),
        "source", "n_tok", F.lit(False).alias("q_ok"),
    )
    unioned = decisions.unionByName(junk_rows)

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        per_doc = (
            batch_df.groupBy("doc_id")
            .agg(
                F.min("ts").alias("ts"),
                F.max("collided").alias("dup"),
                F.first("source").alias("source"),
                F.first("n_tok").alias("n_tok"),
                F.max("q_ok").alias("q_ok"),
            )
            .withColumn("kept", F.col("q_ok") & ~F.col("dup"))
        )
        per_doc.persist()
        try:
            kept_sink(
                per_doc.filter(F.col("kept")).select("doc_id", "ts"),
                batch_id,
            )
            deltas = per_doc.groupBy("source").agg(*FUNNEL_AGGS)
            base = _committed_funnel_before(funnel_sink, spark, batch_id)
            if base is not None:
                deltas = (
                    deltas.unionByName(base)
                    .groupBy("source")
                    .agg(*[
                        F.sum(c).cast("long").alias(c)
                        for c in ("n_docs", "n_quality", "n_kept",
                                  "tokens_kept")
                    ])
                )
            funnel_sink(deltas, batch_id)
        finally:
            per_doc.unpersist()

    q = run_streaming_stats(
        unioned, emit, checkpoint, lambda df: df,
        output_mode="append", query_name="stream_curation_funnel",
    )
    return drain_available_now(q, "streaming curation funnel")


def curation_funnel_batch_twin(
    documents: DataFrame,
    quality_threshold: float = 0.5,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    seed: int = 1,
) -> DataFrame:
    """Batch twin of the streaming funnel: same quality rule, same
    MinHash gate semantics (``minhash_dedup_batch`` — claims are
    unconditional in (ts, doc_id) order), same per-source counts.

    Note this twin deliberately uses the GATE's near-dup semantics (first
    arrival claims the bucket set), not the batch capstone's
    connected-components cluster removal — stream/batch parity requires
    identical semantics, and a continuous pipeline can never see the full
    pair graph before admitting a document."""
    docs = _with_quality(documents, quality_threshold)
    kept_ids = minhash_dedup_batch(
        docs.filter(F.col("q_ok")), n=n, num_hashes=num_hashes,
        bands=bands, seed=seed,
    ).select("doc_id")
    flagged = docs.join(
        kept_ids.withColumn("kept", F.lit(True)), "doc_id", "left"
    ).fillna({"kept": False})
    return flagged.groupBy("source").agg(*FUNNEL_AGGS)


def read_funnel_table(
    funnel_sink: ExactlyOnceParquetSink, spark: SparkSession
) -> DataFrame:
    """The current funnel table = latest committed batch's full write."""
    return funnel_sink.read_latest_batch(spark)
