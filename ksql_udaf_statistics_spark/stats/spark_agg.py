"""Spark-native aggregate surface for the five reference UDAFs.

This is the engine's only implementation of the five UDAFs: every declared
query, front-end CTAS, streaming job and benchmark reaches them here.
``stats/moments.py`` is the Spark-free mirror the unit tests pin to the
reference's golden values; the one thing both share is the zero-variance
guard, :func:`~ksql_udaf_statistics_spark.stats.moments.is_zero_variance`.

Design (SURVEY.md §2.3): every reference accumulator field is a plain sum,
and ``merge`` is field-wise addition (SkewnessUdaf.java:198-206), which is
*exactly* Spark's partial/final aggregation contract. So each UDAF becomes

    built-in ``sum()/count()`` aggregates over power terms
    + a closed-form finalize Column expression

with no custom Catalyst aggregate, no per-row Python, full whole-stage
codegen, and identical behavior in batch, micro-batch streaming, and
``foreachBatch``. Catalyst deduplicates identical aggregate children, so an
expression that mentions ``sum(x*x)`` three times computes it once. Because
the partial aggregate below the shuffle already reduces each group to one
row per map task, a hot key costs no more shuffle than a cold one.

Two API levels:

1. **One-shot Columns** — ``skewness(col)`` etc. return a single Column
   usable directly in ``df.groupBy(...).agg(...)`` (the ksqlDB SQL-call
   shape, README.md:146-156).
2. **Two-stage sums + finalize** — ``moment_sums()/weighted_sums()`` emit
   aliased sum columns; ``*_from_sums()`` finalizes them. This services
   sums computed by hand (the streaming flagship's exploded token sums)
   and re-aggregation of pre-aggregated shards (exact because of the
   monoid property).
"""

from __future__ import annotations

from typing import Optional, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

from .moments import STDDEV_ZERO_VAR_REL, is_zero_variance

ColumnOrName = Union[Column, str]

def _nan() -> Column:
    # built lazily: F.lit needs an active SparkSession at call time
    return F.lit(float("nan"))


def _double(c: ColumnOrName) -> Column:
    return (F.col(c) if isinstance(c, str) else c).cast("double")


# ---------------------------------------------------------------------------
# Level 2: sum columns (the accumulator Struct, as ordinary columns)
# ---------------------------------------------------------------------------

def moment_sums(col: ColumnOrName, prefix: str = "m") -> list[Column]:
    """The unweighted accumulator as aliased aggregate Columns.

    Mirrors STRUCT<COUNT, SUM, SUM_SQUARES, SUM_CUBES, SUM_QUARTIC>
    (KurtosisUdaf.java:48-54). Spark's partial aggregation of these IS the
    reference's ``merge``.
    """
    x = _double(col)
    x2 = x * x
    return [
        F.count(x).alias(f"{prefix}_n"),
        F.sum(x).alias(f"{prefix}_s1"),
        F.sum(x2).alias(f"{prefix}_s2"),
        F.sum(x2 * x).alias(f"{prefix}_s3"),
        F.sum(x2 * x2).alias(f"{prefix}_s4"),
    ]


def weighted_sums(
    val: ColumnOrName, weight: ColumnOrName, prefix: str = "w"
) -> list[Column]:
    """The weighted accumulator as aliased aggregate Columns.

    Mirrors STRUCT<SUM_VALUES, SUM_WEIGHTS, SUM_WEIGHT_SQUARES,
    SUM_WEIGHT_CUBES, SUM_WEIGHT_QUARTIC> (WeightedKurtosisUdaf.java:49-55)
    where SUM_VALUES = Σw·x (WeightedStdDevUdaf.java:104-107).
    """
    x = _double(val)
    w = _double(weight)
    wx = w * x
    return [
        F.sum(w).alias(f"{prefix}_sw"),
        F.sum(wx).alias(f"{prefix}_swx"),
        F.sum(wx * x).alias(f"{prefix}_swx2"),
        F.sum(wx * x * x).alias(f"{prefix}_swx3"),
        F.sum(wx * x * x * x).alias(f"{prefix}_swx4"),
    ]


# ---------------------------------------------------------------------------
# Finalize expressions over already-aggregated sum columns
# ---------------------------------------------------------------------------

def _skewness_finalize(n: Column, s1: Column, s2: Column, s3: Column,
                       sample: bool) -> Column:
    """map() of SkewnessUdaf.java:153-189 as a Column expression."""
    nd = n.cast("double")
    mean = s1 / nd
    m2 = s2 / nd
    var = m2 - mean * mean
    zero_var = is_zero_variance(var, m2)
    if sample:
        var = var * (nd / (nd - 1.0))
    m3 = s3 / nd - 3.0 * mean * m2 + 2.0 * F.pow(mean, 3)
    skew = m3 / F.pow(var, 1.5)
    if sample:
        skew = skew * (nd * nd) / ((nd - 1.0) * (nd - 2.0))
    guarded = F.when(n == 0, F.lit(0.0))
    if sample:
        guarded = guarded.when(n < 3, _nan())
    return guarded.when(zero_var, F.lit(0.0)).otherwise(skew)


def _kurtosis_finalize(n: Column, s1: Column, s2: Column, s3: Column,
                       s4: Column, sample: bool) -> Column:
    """map() of KurtosisUdaf.java:159-198: population=RAW, sample=excess G2."""
    nd = n.cast("double")
    mean = s1 / nd
    m2 = s2 / nd
    var = m2 - mean * mean
    zero_var = is_zero_variance(var, m2)
    m4 = (
        s4 / nd
        - 4.0 * mean * (s3 / nd)
        + 6.0 * mean * mean * m2
        - 3.0 * F.pow(mean, 4)
    )
    if sample:
        var = var * (nd / (nd - 1.0))
    kurt = m4 / (var * var)
    if sample:
        kurt = ((nd * nd * (nd + 1.0)) / ((nd - 1.0) * (nd - 2.0) * (nd - 3.0))) * kurt \
            - (3.0 * (nd - 1.0) * (nd - 1.0)) / ((nd - 2.0) * (nd - 3.0))
    guarded = F.when(n == 0, F.lit(0.0))
    if sample:
        guarded = guarded.when(n < 4, _nan())
    return guarded.when(zero_var, F.lit(0.0)).otherwise(kurt)


def skewness_from_sums(prefix: str = "m", sample: bool = False) -> Column:
    c = F.col
    return _skewness_finalize(
        c(f"{prefix}_n"), c(f"{prefix}_s1"), c(f"{prefix}_s2"), c(f"{prefix}_s3"),
        sample,
    )


def kurtosis_from_sums(prefix: str = "m", sample: bool = False) -> Column:
    c = F.col
    return _kurtosis_finalize(
        c(f"{prefix}_n"), c(f"{prefix}_s1"), c(f"{prefix}_s2"), c(f"{prefix}_s3"),
        c(f"{prefix}_s4"), sample,
    )


def _weighted_parts(prefix: str):
    c = F.col
    return (c(f"{prefix}_sw"), c(f"{prefix}_swx"), c(f"{prefix}_swx2"),
            c(f"{prefix}_swx3"), c(f"{prefix}_swx4"))


def _weighted_moments(sw: Column, swx: Column, swx2: Column):
    """(mean, m2, var) of the weighted accumulator."""
    mean = swx / sw
    m2 = swx2 / sw
    return mean, m2, m2 - mean * mean


def _weighted_guard(sw: Column, zero_var: Column, value: Column) -> Column:
    """``value`` unless Σw == 0 or the variance is zero; then 0.0."""
    return (
        F.when(sw == 0.0, F.lit(0.0))
        .when(zero_var, F.lit(0.0))
        .otherwise(value)
    )


def _stddev_weighted_finalize(sw, swx, swx2) -> Column:
    """map() of WeightedStdDevUdaf.java:122-142."""
    _, m2, var = _weighted_moments(sw, swx, swx2)
    zero_var = is_zero_variance(var, m2, STDDEV_ZERO_VAR_REL)
    return _weighted_guard(sw, zero_var, F.sqrt(var))


def _skewness_weighted_finalize(sw, swx, swx2, swx3) -> Column:
    """map() of WeightedSkewnessUdaf.java:131-161."""
    mean, m2, var = _weighted_moments(sw, swx, swx2)
    m3 = swx3 / sw - 3.0 * mean * m2 + 2.0 * F.pow(mean, 3)
    return _weighted_guard(sw, is_zero_variance(var, m2), m3 / F.pow(var, 1.5))


def _kurtosis_weighted_finalize(sw, swx, swx2, swx3, swx4) -> Column:
    """map() of WeightedKurtosisUdaf.java:132-161 (RAW, not excess)."""
    mean, m2, var = _weighted_moments(sw, swx, swx2)
    m4 = (
        swx4 / sw
        - 4.0 * mean * (swx3 / sw)
        + 6.0 * mean * mean * m2
        - 3.0 * F.pow(mean, 4)
    )
    return _weighted_guard(sw, is_zero_variance(var, m2), m4 / (var * var))


def stddev_weighted_from_sums(prefix: str = "w") -> Column:
    sw, swx, swx2, _, _ = _weighted_parts(prefix)
    return _stddev_weighted_finalize(sw, swx, swx2)


def skewness_weighted_from_sums(prefix: str = "w") -> Column:
    sw, swx, swx2, swx3, _ = _weighted_parts(prefix)
    return _skewness_weighted_finalize(sw, swx, swx2, swx3)


def kurtosis_weighted_from_sums(prefix: str = "w") -> Column:
    sw, swx, swx2, swx3, swx4 = _weighted_parts(prefix)
    return _kurtosis_weighted_finalize(sw, swx, swx2, swx3, swx4)


# ---------------------------------------------------------------------------
# Level 1: one-shot aggregate Columns (SQL-call shape)
# ---------------------------------------------------------------------------

def skewness(col: ColumnOrName, sample: bool = False) -> Column:
    """SKEWNESS(val[, isSample]) as a single aggregate Column.

    Population form equals Spark's built-in ``F.skewness``; the sample form
    (G1) does NOT — Spark has no sample skewness (SkewnessUdaf.java:62-83).
    """
    x = _double(col)
    x2 = x * x
    return _skewness_finalize(F.count(x), F.sum(x), F.sum(x2), F.sum(x2 * x), sample)


def kurtosis(col: ColumnOrName, sample: bool = False) -> Column:
    """KURTOSIS(val[, isSample]): population=RAW m4/var², sample=excess G2.

    Spark's built-in ``F.kurtosis`` is population *excess* — off by 3 from
    the reference's population convention; never substitute it
    (KurtosisUdafTest.java:122: golden raw 1.4400).
    """
    x = _double(col)
    x2 = x * x
    return _kurtosis_finalize(
        F.count(x), F.sum(x), F.sum(x2), F.sum(x2 * x), F.sum(x2 * x2), sample
    )


def stddev_weighted(val: ColumnOrName, weight: ColumnOrName) -> Column:
    """STDDEV_WEIGHTED(val, weight): weighted population stddev."""
    x = _double(val)
    w = _double(weight)
    wx = w * x
    return _stddev_weighted_finalize(F.sum(w), F.sum(wx), F.sum(wx * x))


def skewness_weighted(val: ColumnOrName, weight: ColumnOrName) -> Column:
    """SKEWNESS_WEIGHTED(val, weight): weighted population skewness."""
    x = _double(val)
    w = _double(weight)
    wx = w * x
    return _skewness_weighted_finalize(
        F.sum(w), F.sum(wx), F.sum(wx * x), F.sum(wx * x * x)
    )


def kurtosis_weighted(val: ColumnOrName, weight: ColumnOrName) -> Column:
    """KURTOSIS_WEIGHTED(val, weight): weighted population RAW kurtosis."""
    x = _double(val)
    w = _double(weight)
    wx = w * x
    return _kurtosis_weighted_finalize(
        F.sum(w), F.sum(wx), F.sum(wx * x), F.sum(wx * x * x), F.sum(wx * x * x * x)
    )


#: All five statistics at once over (value[, weight]); one HashAggregate
#: pair with deduplicated sum children (test_plan_is_single_hash_aggregate).
def all_stats(val: ColumnOrName, weight: Optional[ColumnOrName] = None,
              sample: bool = False) -> list[Column]:
    cols = [
        skewness(val, sample=sample).alias("skewness"),
        kurtosis(val, sample=sample).alias("kurtosis"),
    ]
    if weight is not None:
        cols += [
            stddev_weighted(val, weight).alias("stddev_weighted"),
            skewness_weighted(val, weight).alias("skewness_weighted"),
            kurtosis_weighted(val, weight).alias("kurtosis_weighted"),
        ]
    return cols
