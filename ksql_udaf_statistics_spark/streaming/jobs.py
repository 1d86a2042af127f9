"""Windowed statistics jobs — tumbling / sliding / session, batch or stream.

The reference's continuous query shape (AllUdafIT.java:593-600,
README.md:157-172) is ``CREATE TABLE ... AS SELECT <UDAF>(...) FROM stream
[WINDOW TUMBLING ...] GROUP BY key EMIT CHANGES``. Here that becomes one
builder that works identically on a batch DataFrame and a streaming
DataFrame (the aggregate Columns are plain sum-decompositions, so
Structured Streaming's state store holds exactly the reference's
accumulator struct and merges it with native partial aggregation).

Skew handling: ``salted_group_stats`` does exact two-level aggregation —
partial sums per (key, salt) then final sum-of-sums per key — valid because
the accumulator is a commutative monoid (SkewnessUdaf.java:198-206).
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
    no second shuffle.
    """
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    tok = F.col("tok").cast("double")
    inv = F.lit(1.0) / F.col("n_tok").cast("double")
    ntokd = F.col("n_tok").cast("double")
    # r7: the window bucket and the per-sequence weight terms are
    # CONSTANT per sequence, so compute them BEFORE the explode — once
    # per sequence instead of once per token (32x less window arithmetic
    # and weight multiplication at the bench's 32-token sequences). The
    # values are the identical expressions over the identical inputs and
    # the per-token summation order is unchanged, so every aggregate is
    # bit-identical to the explode-then-compute plan.
    exploded = df.select(
        F.window(F.col(ts_col), window_size).alias("window"),
        *keys,
        inv.alias("w0"),
        (inv * ntokd).alias("w1"),
        (inv * ntokd * ntokd).alias("w2"),
        (inv * ntokd * ntokd * ntokd).alias("w3"),
        F.explode("tokens").alias("tok"),
    )
    agg = exploded.groupBy("window", *keys).agg(
        # doc-level n_tok moments via the 1/n_tok weight
        F.sum("w0").alias("n_docs_d"),
        F.sum("w1").alias("nt_s1"),
        F.sum("w2").alias("nt_s2"),
        F.sum("w3").alias("nt_s3"),
        # token-value moments (population skew/kurt of the token stream)
        F.count(tok).alias("t_n"),
        F.sum(tok).alias("t_s1"),
        F.sum(tok * tok).alias("t_s2"),
        F.sum(tok * tok * tok).alias("t_s3"),
        F.sum(tok * tok * tok * tok).alias("t_s4"),
    )
    nd = F.col("n_docs_d")
    nt_mean = F.col("nt_s1") / nd
    nt_var_raw = F.col("nt_s2") / nd - nt_mean * nt_mean
    # the inverse-weight sums re-add each doc's contribution n_tok times, so
    # a mathematically-zero variance comes back as ~mean^2 * 1e-13 of FP
    # noise; clamp with a RELATIVE epsilon or the zero-variance guard never
    # fires and skewness would divide by noise^1.5 (reference semantics:
    # zero variance -> exactly 0.0, SkewnessUdaf.java:173-175)
    nt_var = F.when(
        nt_var_raw <= nt_mean * nt_mean * 1e-10, F.lit(0.0)
    ).otherwise(nt_var_raw)
    nt_m3 = F.col("nt_s3") / nd - 3.0 * nt_mean * (F.col("nt_s2") / nd) + 2.0 * F.pow(nt_mean, 3)
    return agg.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *keys,
        F.round(nd).cast("long").alias("n_docs"),
        F.col("t_n").alias("n_tokens"),
        SA.skewness_from_sums("t").alias("skewness_token"),
        SA.kurtosis_from_sums("t").alias("kurtosis_token"),
        nt_mean.alias("mean_n_tok"),
        F.sqrt(F.greatest(nt_var, F.lit(0.0))).alias("stddev_n_tok"),
        F.when(nt_var <= 0.0, F.lit(0.0))
        .otherwise(nt_m3 / F.pow(nt_var, 1.5))
        .alias("skewness_n_tok"),
    )


def salted_group_stats(
    df: DataFrame,
    value: str,
    weight: Optional[str] = None,
    keys: Sequence[str] = ("source",),
    n_salt: int = 16,
    sample: bool = False,
    discriminator: Optional[str] = None,
) -> DataFrame:
    """Exact grouped stats via salted two-level aggregation.

    Level 1 aggregates per (keys, salt) — spreading a hot key over
    ``n_salt`` reducers; level 2 sums the partial sums per key and
    finalizes. Results are identical to the direct aggregation (monoid
    merge), only the shuffle layout changes. Use when a group key is so
    skewed that one reducer would own most rows (e.g. the Zipf ``source``
    head at 10^12 rows).

    ``discriminator``: a per-row-unique column (doc_id, a Kafka
    partition/offset pair, a file+rownum id from the source) used as the
    salt hash input. Pass one whenever the data may contain byte-identical
    duplicate rows: the default full-row content hash is retry-stable but
    maps identical rows to ONE salt bucket, so a hot key dominated by
    duplicates would keep its skew — exactly the scenario salting exists
    for.
    """
    # Salt from a deterministic hash, NOT monotonically_increasing_id():
    # the latter changes across task retries, so after a fetch failure a
    # recomputed map task could re-salt rows differently and double-count /
    # lose partial sums in partially-consumed reduce partitions
    # (SPARK-23207 class of bug). Hashing the discriminator (preferred) or
    # the full row content is retry-stable.
    salt_input = (
        [F.col(discriminator)] if discriminator
        else [F.col(c) for c in df.columns]
    )
    salt = F.pmod(F.xxhash64(*salt_input), n_salt).alias("_salt")
    partial_aggs = SA.moment_sums(value)
    if weight is not None:
        partial_aggs = partial_aggs + SA.weighted_sums(value, weight)
    partial = df.withColumn("_salt", salt).groupBy(*keys, "_salt").agg(*partial_aggs)
    sum_cols = [c for c in partial.columns if c.startswith(("m_", "w_"))]
    merged = partial.groupBy(*keys).agg(*[F.sum(c).alias(c) for c in sum_cols])
    out = [
        SA.skewness_from_sums(sample=sample).alias("skewness"),
        SA.kurtosis_from_sums(sample=sample).alias("kurtosis"),
    ]
    if weight is not None:
        out += [
            SA.stddev_weighted_from_sums().alias("stddev_weighted"),
            SA.skewness_weighted_from_sums().alias("skewness_weighted"),
            SA.kurtosis_weighted_from_sums().alias("kurtosis_weighted"),
        ]
    return merged.select(*keys, F.col("m_n").alias("n_rows"), *out)


def grouped_stats_apply_in_pandas(
    df: DataFrame,
    value: str,
    weight: Optional[str] = None,
    keys: Sequence[str] = ("source",),
) -> DataFrame:
    """Arrow-vectorized ``applyInPandas`` variant of the grouped stats.

    Exercises the pandas/Arrow UDF path required by ``input_hint`` using
    the same pure kernel (stats.moments) the unit tests cover; numerically
    identical to the Column path. The Column path remains the default —
    this variant exists for parity testing and for statistics that ever
    outgrow Column algebra.
    """
    import pandas as pd  # local import: executors only

    from ..stats import moments as M

    keys = list(keys)
    schema = ", ".join(f"{k} string" for k in keys) + (
        ", n_rows long, skewness double, kurtosis double"
        + (", stddev_weighted double, skewness_weighted double, kurtosis_weighted double"
           if weight else "")
    )

    def compute(pdf: pd.DataFrame) -> pd.DataFrame:
        st = M.MomentState.zero().update(pdf[value].to_numpy())
        row = {k: pdf[k].iloc[0] for k in keys}
        row.update(
            n_rows=len(pdf),
            skewness=M.finalize_skewness(st),
            kurtosis=M.finalize_kurtosis(st),
        )
        if weight:
            ws = M.WeightedState.zero().update(
                pdf[value].to_numpy(), pdf[weight].to_numpy()
            )
            row.update(
                stddev_weighted=M.finalize_stddev_weighted(ws),
                skewness_weighted=M.finalize_skewness_weighted(ws),
                kurtosis_weighted=M.finalize_kurtosis_weighted(ws),
            )
        return pd.DataFrame([row])

    return df.groupBy(*keys).applyInPandas(compute, schema)


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
