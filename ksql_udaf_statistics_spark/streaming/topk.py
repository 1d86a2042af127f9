"""Continuous aggregate tables (ksqlDB ``CREATE TABLE ... GROUP BY ...
EMIT CHANGES``): update-mode streaming aggregates written to the
exactly-once table sink and read as the latest emission per key. Two
operators ride the generic runner:

- per-source token heavy hitters (streaming twin of the batch
  ``token_topk_per_source`` query) — the repo's second HASH-ORACLED
  streaming gate entry;
- the power-of-two length-bucket histogram (streaming twin of
  ``length_bucket_histogram``) — the third.

Both aggregates are pure integer counts/sums, so the drained table equals
the batch query with no floating-point replication at all: the pattern
generalizes to any count/integer-sum EMIT CHANGES aggregate.

The plan builders (:func:`token_counts_agg`, :func:`length_buckets_agg`,
:func:`topk_tokens`) are engine-agnostic Column algebra — the BATCH gate
queries ``token_topk_per_source`` and ``length_bucket_histogram`` call the
very same functions, so stream/batch hash parity is structural (one plan
definition), not a maintained-in-two-places invariant.

Shape: a ksqlDB ``CREATE TABLE ... GROUP BY ... EMIT CHANGES`` aggregate
(the reference's continuous-CTAS model, AllUdafIT.java:593-600) —
unwindowed state that lives forever, every micro-batch emitting refreshed
totals for the keys it touched. Spark's update-mode streaming aggregation
emits exactly those refreshed totals, and
:class:`~..streaming.sink.ExactlyOnceParquetSink` stores each batch's
emissions under its batch id; ``read_current`` serves the latest one per
``(source, tok)``, so the table read holds one row per key (exactly-once
under replay: a replayed batch overwrites its own partition).

Unlike the moment statistics, the aggregate here is an INTEGER count —
order-independent with no floating-point accumulation at all — so the
drained stream's top-k equals the batch query bit for bit with no decimal
gymnastics: hash parity against the batch DuckDB oracle is free.

100 TB shape: the only shuffle is the (source, tok) hash partitioing of
exploded tokens with map-side partial counts; aggregation state and the
table read are vocab-bounded (#sources x #distinct tokens), independent
of stream volume — the standing-state contract of every ksqlDB table.
The stored emissions grow with the batches that touch each key: the sink
does not compact them yet.
The top-k read ranks the materialized counts with a per-source window
(WindowGroupLimit), never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .sink import ExactlyOnceParquetSink, drain_available_now, run_streaming_stats


def token_counts_agg(docs: DataFrame) -> DataFrame:
    """Per-(source, token) counts over (text, source) rows — ONE plan
    definition shared by the batch ``token_topk_per_source`` query and the
    update-mode streaming twin. Tokens are the per-word character lengths
    (the repo's SQL-matchable tokenization,
    sources/tables.py::tokens_from_documents)."""
    words = F.split(F.col("text"), " ")
    toks = docs.select(
        "source",
        F.explode(
            F.transform(words, lambda w: F.length(w).cast("int"))
        ).alias("tok"),
    )
    return (
        toks.withColumn("tok", F.col("tok").cast("long"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def run_continuous_aggregate(
    agg: DataFrame,
    sink: ExactlyOnceParquetSink,
    checkpoint: str,
):
    """Drain any update-mode streaming aggregate into the exactly-once
    table sink — the generic CREATE TABLE ... EMIT CHANGES runner,
    delegating to the one foreachBatch wiring in sink.py. The aggregate's
    grouping keys must equal the sink's ``key_cols`` so every refreshed
    total supersedes its prior row. E.g.
    ``run_continuous_aggregate(token_counts_agg(s), sink, ckpt)`` keeps
    the per-(source, tok) count table."""
    q = run_streaming_stats(
        agg, sink, checkpoint, lambda df: df,
        output_mode="update", query_name="continuous_aggregate",
    )
    return drain_available_now(q, "continuous aggregate")


def length_buckets_agg(docs: DataFrame) -> DataFrame:
    """Power-of-two length-bucket histogram over (text, source) rows —
    ONE plan definition shared by the batch ``length_bucket_histogram``
    query and the streaming twin. Docs in [bucket_lo, 2*bucket_lo) are
    padded to 2*bucket_lo - 1 tokens (the inclusive bucket max). Bucket
    boundaries use INTEGER bit-length arithmetic (length(bin(n)), exact
    on both engines), never floor(log2(n)) — libm rounding at exact
    powers of two differs across engines. Every aggregate is an integer
    count/sum — order-independent, so drained stream == batch exactly."""
    n_tok = F.size(F.split(F.col("text"), " "))
    bucket = F.pow(2, F.length(F.bin(n_tok)) - 1).cast("long")
    return (
        docs.select(
            "source", n_tok.alias("n_tok"), bucket.alias("bucket_lo")
        )
        .groupBy("source", "bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.sum(F.col("bucket_lo") * 2 - 1 - F.col("n_tok")).cast("long")
            .alias("padding_waste"),
        )
    )


def topk_tokens(counts: DataFrame, k: int = 5) -> DataFrame:
    """Per-source top-k by (n DESC, tok ASC) — the batch query's exact
    ranking, WindowGroupLimit-friendly."""
    w = Window.partitionBy("source").orderBy(
        F.col("n").desc(), F.col("tok").asc()
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("source", "tok", "n", "rnk")
    )


def read_topk(
    spark: SparkSession, sink: ExactlyOnceParquetSink, k: int = 5
) -> DataFrame:
    return topk_tokens(sink.read_current(spark), k)
