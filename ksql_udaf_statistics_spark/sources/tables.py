"""Table sources: the testdata table names + deterministic token-table synthesis.

The engine's primary input (BASELINE.json ``input_hint``) is an
Iceberg-style table of pre-tokenized training sequences::

    doc_id:string, tokens:array<int32>, n_tok:int32, source:string, ts:timestamp

No Iceberg runtime jars ship in this sandbox, so the physical format is
partitioned parquet with the identical schema and an idempotent
overwrite-by-partition sink standing in for Iceberg MERGE (documented
substitution, SURVEY.md §7). The synthesis is fully distributed and
deterministic: every cell is a pure function of (seed, row id) built from
JVM-side expressions (xxhash64/sequence/transform) — no driver-side data, no
per-row Python — so it scales to any row count and any parallelism produces
byte-identical tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

TOKEN_SCHEMA = (
    "doc_id string, tokens array<int>, n_tok int, source string, ts timestamp"
)


def synthesize_token_table(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    n_sources: int = 10,
    vocab_size: int = 50_257,
    min_tok: int = 8,
    max_tok: int = 512,
    start_ts: str = "2024-01-01 00:00:00",
    duration_seconds: int = 3600,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic distributed token-sequence table.

    - ``source`` follows a Zipf-like skew (source src0 dominates) to
      exercise skew-handling: src index = floor((n+1)^u) - 1 for u~U[0,1),
      i.e. log-uniform over ranks — heavy head, long tail.
    - ``tokens[i] = xxhash64(seed, id, i) mod vocab`` — reproducible at any
      parallelism; per-row token-array equality is therefore a meaningful
      bitwise invariant (input_hint).
    - ``ts`` spreads rows uniformly over ``duration_seconds`` after
      ``start_ts`` in row-id order, so event time is monotone in id and
      window membership is deterministic.
    """
    base = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)
    u = (F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit("src")), 1_000_000) / 1_000_000.0)
    src_idx = F.floor(F.pow(F.lit(float(n_sources + 1)), u)) - 1
    n_tok = (
        F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit("len")), max_tok - min_tok + 1)
        + min_tok
    ).cast("int")
    tokens = F.transform(
        F.sequence(F.lit(1), n_tok),
        lambda i: F.pmod(F.xxhash64(F.col("id"), F.lit(seed), i), vocab_size).cast("int"),
    )
    ts = F.timestamp_seconds(
        F.unix_timestamp(F.lit(start_ts))
        + (F.col("id") * duration_seconds / n_docs).cast("long")
    )
    return base.select(
        F.format_string("doc-%012d", F.col("id")).alias("doc_id"),
        tokens.alias("tokens"),
        n_tok.alias("n_tok"),
        F.concat(F.lit("src"), src_idx.cast("string")).alias("source"),
        ts.alias("ts"),
    )


def token_value_streams(df: DataFrame) -> DataFrame:
    """Derive the numeric streams the statistics run on (FIXTURES.md F3):

    - value  = ``token_mean`` (mean token id per row, a token-derived
      double) — computed by the Arrow reduction kernel
      (functions/token_ops.py): one ``np.add.reduceat`` pass per record
      batch, ~2µs/row vs ~60µs/row for the interpreted
      ``F.aggregate`` higher-order function this previously used (r3
      measurement; HOFs never enter whole-stage codegen). Token ids and
      counts are small ints, so the float64 sum is exact and the derived
      mean is bit-identical to the HOF form.
    - weight = ``n_tok`` (frequency-weight semantics, §2.1).
    """
    from ..functions.token_ops import with_token_stats_arrow

    out = with_token_stats_arrow(df)
    return out.drop("token_var", "token_max", "token_min")


def tokens_from_documents(documents: DataFrame) -> DataFrame:
    """Token view of the driver's ``documents`` table, SQL-matchable in
    DuckDB: tokens = per-word character lengths of whitespace-split text.

    Keeps the (doc_id, tokens, n_tok, source) shape of ``input_hint`` while
    every derived number is expressible in ANSI SQL for the oracle harness.
    """
    words = F.split(F.col("text"), " ")
    return documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.transform(words, lambda w: F.length(w).cast("int")).alias("tokens"),
        F.size(words).cast("int").alias("n_tok"),
        "source",
    )
