"""Windowed statistics jobs — tumbling / sliding / session, batch or stream.

The reference's continuous query shape (AllUdafIT.java:593-600,
README.md:157-172) is ``CREATE TABLE ... AS SELECT <UDAF>(...) FROM stream
[WINDOW TUMBLING ...] GROUP BY key EMIT CHANGES``. Here that becomes one
builder that works identically on a batch DataFrame and a streaming
DataFrame (the aggregate Columns are plain sum-decompositions, so
Structured Streaming's state store holds exactly the reference's
accumulator struct and merges it with native partial aggregation).

Skew handling needs no extra stage: the accumulator is a commutative monoid
of sums (SkewnessUdaf.java:198-206), so the partial ``HashAggregate`` below
the shuffle already reduces a hot key to one row per map task
(``tests/test_spark_agg.py::test_plan_is_single_hash_aggregate``).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..stats import spark_agg as SA


def stat_columns(value: str, weight: Optional[str]) -> list[Column]:
    """The full reference UDAF surface as aliased aggregate Columns: both
    the population and the sample variant of every unweighted moment."""
    cols = [
        SA.skewness(value, sample=False).alias("skewness"),
        SA.skewness(value, sample=True).alias("skewness_sample"),
        SA.kurtosis(value, sample=False).alias("kurtosis"),
        SA.kurtosis(value, sample=True).alias("kurtosis_sample"),
    ]
    if weight is not None:
        cols += [
            SA.stddev_weighted(value, weight).alias("stddev_weighted"),
            SA.skewness_weighted(value, weight).alias("skewness_weighted"),
            SA.kurtosis_weighted(value, weight).alias("kurtosis_weighted"),
        ]
    return cols


def windowed_stats(
    df: DataFrame,
    value: str,
    weight: Optional[str] = None,
    keys: Sequence[str] = ("source",),
    ts_col: str = "ts",
    window_size: str = "5 minutes",
    slide: Optional[str] = None,
    session_gap: Optional[str] = None,
    watermark: Optional[str] = None,
    count_col: str = "n_rows",
) -> DataFrame:
    """Per-(window, *keys) statistics; tumbling by default.

    - ``slide`` -> sliding window (F.window(ts, size, slide));
    - ``session_gap`` -> session window (F.session_window(ts, gap));
    - ``watermark`` (streaming only) -> late rows beyond the delay are
      dropped and windows finalize for append-mode sinks.

    Works on batch and streaming inputs unchanged — the ksqlDB
    TABLE/pull-query split (AllUdafIT.java:593-600 vs :654-671) becomes
    "same query, different source".
    """
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    if session_gap is not None:
        win = F.session_window(F.col(ts_col), session_gap)
    elif slide is not None:
        win = F.window(F.col(ts_col), window_size, slide)
    else:
        win = F.window(F.col(ts_col), window_size)
    agg = df.groupBy(win.alias("window"), *keys).agg(
        F.count(F.lit(1)).alias(count_col), *stat_columns(value, weight)
    )
    return agg.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *keys,
        count_col,
        *[c for c in agg.columns if c not in {"window", count_col, *keys}],
    )


def token_value_windowed_stats(
    df: DataFrame,
    ts_col: str = "ts",
    keys: Sequence[str] = ("source",),
    window_size: str = "5 minutes",
    watermark: Optional[str] = None,
) -> DataFrame:
    """Per-(window, *keys) statistics over raw token VALUES and over n_tok —
    the scale-path flagship for 10^12-sequence tables.

    Design: ``explode(tokens)`` then built-in sums. Everything stays inside
    whole-stage codegen (no interpreted higher-order functions, no Python),
    and Spark's partial aggregation collapses the exploded rows to one
    accumulator per (window, key) on the map side BEFORE the shuffle — the
    shuffle volume is ~250 groups, not 10^14 tokens.

    n_tok statistics ride the same exploded aggregation exactly via an
    inverse-frequency weight: each doc appears n_tok times, so summing
    ``n_tok^k / n_tok`` over exploded rows reproduces the doc-level
    ``Σ n_tok^k`` (and ``Σ 1/n_tok * n_tok = doc count``). No second pass,
    no second shuffle. These sums are the weighted accumulator of
    (x = n_tok, w = 1/n_tok) over the exploded rows, so the weighted
    finalizers (and their zero-variance guard) turn them into
    ``stddev_n_tok`` and ``skewness_n_tok``.

    The terms are written so the sums stay exact for integer n_tok:
    ``w·n_tokᵏ`` is summed as ``n_tok^(k-1)``, and ``Σw`` (a sum of
    inexact ``1/n_tok``) is rounded to the doc count it stands for. A
    window whose docs all have the same n_tok then has a variance of
    exactly 0, however many tokens it holds; summing the rounded
    ``1/n_tok·n_tokᵏ`` products instead leaves ~1e-12·m2 of noise at
    1000 docs, above the weighted stddev's zero-variance bound.
    """
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    tok = F.col("tok").cast("double")
    ntokd = F.col("n_tok").cast("double")
    # r7: the window bucket and the per-sequence weight terms are
    # CONSTANT per sequence, so compute them BEFORE the explode — once
    # per sequence instead of once per token (32x less window arithmetic
    # and weight multiplication at the bench's 32-token sequences). The
    # values are the identical expressions over the identical inputs and
    # the per-token summation order is unchanged, so every aggregate is
    # bit-identical to the explode-then-compute plan. w_k = n_tok^(k-1)
    # is 1/n_tok · n_tokᵏ without the rounding of the product.
    exploded = df.select(
        F.window(F.col(ts_col), window_size).alias("window"),
        *keys,
        (F.lit(1.0) / ntokd).alias("w0"),
        F.lit(1.0).alias("w1"),
        ntokd.alias("w2"),
        (ntokd * ntokd).alias("w3"),
        F.explode("tokens").alias("tok"),
    )
    agg = exploded.groupBy("window", *keys).agg(
        # doc-level n_tok moments in the weighted layout: Σw·n_tokᵏ over
        # the exploded rows with w = 1/n_tok
        F.sum("w0").alias("nt_sw"),
        F.sum("w1").alias("nt_swx"),
        F.sum("w2").alias("nt_swx2"),
        F.sum("w3").alias("nt_swx3"),
        # token-value moments (population skew/kurt of the token stream)
        F.count(tok).alias("t_n"),
        F.sum(tok).alias("t_s1"),
        F.sum(tok * tok).alias("t_s2"),
        F.sum(tok * tok * tok).alias("t_s3"),
        F.sum(tok * tok * tok * tok).alias("t_s4"),
    )
    nd = F.col("nt_sw")
    return agg.withColumn("nt_sw", F.round(nd)).select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *keys,
        nd.cast("long").alias("n_docs"),
        F.col("t_n").alias("n_tokens"),
        SA.skewness_from_sums("t").alias("skewness_token"),
        SA.kurtosis_from_sums("t").alias("kurtosis_token"),
        (F.col("nt_swx") / nd).alias("mean_n_tok"),
        SA.stddev_weighted_from_sums("nt").alias("stddev_n_tok"),
        SA.skewness_weighted_from_sums("nt").alias("skewness_n_tok"),
    )


def dedup_stream(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication with bounded state: keep the first
    occurrence of each key, dropping re-deliveries that arrive within the
    watermark horizon; state for keys older than the watermark is evicted
    (``dropDuplicatesWithinWatermark``), so the operator runs forever on
    an unbounded stream — the streaming twin of operators.dedup.dedup_exact
    (which needs the full key set). Use content hashes as keys
    (md5(text)) for document streams."""
    if not df.isStreaming:
        return df.dropDuplicates(list(key_cols))
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )
