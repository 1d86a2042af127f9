"""DataFrame-level tests for the sum-decomposed aggregate surface.

Asserts: golden values (same vectors as the reference ITs), one-shot vs
two-stage equivalence (proving the Spark partial/final merge == the
reference's ``merge``), cross-checks against Spark built-ins with the
documented convention adjustments, the zero-variance guard on constant
groups, and NaN edge cases.
"""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ksql_udaf_statistics_spark.stats import spark_agg as SA

TOL = 1e-4

GOLDEN = [3.0, 3.0, 4.0, 7.0, 7.0, 13.0, 16.0, 16.0, 16.0, 20.0]
WV = [(3.0, 2.0), (4.0, 1.0), (7.0, 2.0), (13.0, 1.0), (16.0, 3.0), (20.0, 1.0)]


@pytest.fixture(scope="module")
def golden_df(spark):
    return spark.createDataFrame([Row(x=v) for v in GOLDEN]).repartition(4)


@pytest.fixture(scope="module")
def weighted_df(spark):
    return spark.createDataFrame([Row(x=v, w=w) for v, w in WV]).repartition(3)


def one(df, col):
    return df.agg(col.alias("r")).collect()[0]["r"]


def test_golden_values_one_shot(golden_df, weighted_df):
    assert one(golden_df, SA.skewness("x")) == pytest.approx(0.075718, abs=TOL)
    assert one(golden_df, SA.kurtosis("x")) == pytest.approx(1.4400, abs=TOL)
    assert one(weighted_df, SA.stddev_weighted("x", "w")) == pytest.approx(6.0539, abs=TOL)
    assert one(weighted_df, SA.skewness_weighted("x", "w")) == pytest.approx(0.075718, abs=TOL)
    assert one(weighted_df, SA.kurtosis_weighted("x", "w")) == pytest.approx(1.4400, abs=TOL)


def test_two_stage_equals_one_shot(golden_df, weighted_df):
    """sums → re-aggregate → finalize == direct: the merge contract."""
    # two-level aggregation: partial sums per partition, then merge
    partial = (
        golden_df.withColumn("part", F.spark_partition_id())
        .groupBy("part")
        .agg(*SA.moment_sums("x"))
    )
    merged = partial.agg(
        F.sum("m_n").alias("m_n"),
        *[F.sum(c).alias(c) for c in ["m_s1", "m_s2", "m_s3", "m_s4"]],
    )
    row = merged.select(
        SA.skewness_from_sums().alias("sk"),
        SA.kurtosis_from_sums().alias("ku"),
        SA.skewness_from_sums(sample=True).alias("sks"),
        SA.kurtosis_from_sums(sample=True).alias("kus"),
    ).collect()[0]
    assert row["sk"] == pytest.approx(one(golden_df, SA.skewness("x")), abs=1e-10)
    assert row["ku"] == pytest.approx(one(golden_df, SA.kurtosis("x")), abs=1e-10)
    assert row["sks"] == pytest.approx(one(golden_df, SA.skewness("x", sample=True)), abs=1e-10)
    assert row["kus"] == pytest.approx(one(golden_df, SA.kurtosis("x", sample=True)), abs=1e-10)

    wpartial = (
        weighted_df.withColumn("part", F.spark_partition_id())
        .groupBy("part")
        .agg(*SA.weighted_sums("x", "w"))
    )
    wm = wpartial.agg(*[F.sum(c).alias(c) for c in ["w_sw", "w_swx", "w_swx2", "w_swx3", "w_swx4"]])
    wrow = wm.select(
        SA.stddev_weighted_from_sums().alias("sd"),
        SA.skewness_weighted_from_sums().alias("sk"),
        SA.kurtosis_weighted_from_sums().alias("ku"),
    ).collect()[0]
    assert wrow["sd"] == pytest.approx(6.0539, abs=TOL)
    assert wrow["sk"] == pytest.approx(0.075718, abs=TOL)
    assert wrow["ku"] == pytest.approx(1.4400, abs=TOL)


def test_builtin_cross_checks(golden_df):
    """Population skew == F.skewness; raw kurt == F.kurtosis + 3
    (the ±3 convention trap, SURVEY.md §7)."""
    row = golden_df.agg(
        SA.skewness("x").alias("ours"),
        F.skewness("x").alias("builtin_skew"),
        SA.kurtosis("x").alias("ours_kurt"),
        F.kurtosis("x").alias("builtin_kurt"),
    ).collect()[0]
    assert row["ours"] == pytest.approx(row["builtin_skew"], abs=1e-8)
    assert row["ours_kurt"] == pytest.approx(row["builtin_kurt"] + 3.0, abs=1e-8)


def test_edge_cases_on_dataframes(spark):
    df = spark.createDataFrame([Row(x=1.0), Row(x=2.0)])
    assert math.isnan(one(df, SA.skewness("x", sample=True)))
    df3 = spark.createDataFrame([Row(x=1.0), Row(x=2.0), Row(x=3.0)])
    assert math.isnan(one(df3, SA.kurtosis("x", sample=True)))
    const = spark.createDataFrame([Row(x=1.0)] * 4)
    assert one(const, SA.skewness("x")) == 0.0
    assert one(const, SA.kurtosis("x", sample=True)) == 0.0
    zw = spark.createDataFrame([Row(x=0.0, w=0.0)] * 3)
    assert one(zw, SA.stddev_weighted("x", "w")) == 0.0
    assert one(zw, SA.skewness_weighted("x", "w")) == 0.0
    assert one(zw, SA.kurtosis_weighted("x", "w")) == 0.0


def test_grouped_stats_on_events(spark, sf_dir):
    """Grouped aggregation on the driver's events table vs pandas oracle."""
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = {
        r["event_type"]: (r["sk"], r["sds"])
        for r in df.groupBy("event_type")
        .agg(
            SA.skewness("value", sample=True).alias("sk"),
            SA.stddev_weighted("value", F.lit(1.0)).alias("sds"),
        )
        .collect()
    }
    pdf = df.select("event_type", "value").toPandas()
    for et, grp in pdf.groupby("event_type"):
        assert got[et][0] == pytest.approx(grp["value"].skew(), abs=1e-8)
        assert got[et][1] == pytest.approx(grp["value"].std(ddof=0), abs=1e-8)


def _constant_groups(seed=20261019, n_groups=240):
    """Constant-value groups: value of random sign and magnitude
    log-uniform over 1e-8..1e3 (every 40th exactly 0), n log-uniform in
    1..2000,
    positive weights log-uniform over exp(+-10). Plus the one-row
    (w in {3, 5, 7}) x (x in {1.7, 3.3}) groups whose absolute-guard
    results were -1.9e8 / 7.2e16 / 2.1e-8."""
    rng = np.random.default_rng(seed)
    groups = [(x, 1, np.array([w])) for w in (3.0, 5.0, 7.0) for x in (1.7, 3.3)]
    for g in range(n_groups):
        x = rng.choice([-1.0, 1.0]) * 10.0 ** rng.uniform(-8, 3) if g % 40 else 0.0
        n = int(np.exp(rng.uniform(0, np.log(2000))))
        groups.append((float(x), n, np.exp(rng.uniform(-10, 10, n))))
    return pd.DataFrame({
        "g": np.concatenate([np.full(n, i) for i, (_, n, _) in enumerate(groups)]),
        "x": np.concatenate([np.full(n, x) for x, n, _ in groups]),
        "w": np.concatenate([w for _, _, w in groups]),
    }), groups


def test_constant_groups_finalize_to_zero(spark):
    """Every UDAF, both ``sample`` flags, exactly 0.0 on every constant
    group (NaN below the sample minimum n) — all groups in one Spark job,
    rows shuffled over 4 partitions so partial sums merge."""
    pdf, groups = _constant_groups()
    df = spark.createDataFrame(pdf.sample(frac=1.0, random_state=1)).repartition(4)
    rows = df.groupBy("g").agg(
        F.count("x").alias("n"),
        SA.skewness("x").alias("sk"),
        SA.skewness("x", sample=True).alias("sk_s"),
        SA.kurtosis("x").alias("ku"),
        SA.kurtosis("x", sample=True).alias("ku_s"),
        SA.stddev_weighted("x", "w").alias("sdw"),
        SA.skewness_weighted("x", "w").alias("skw"),
        SA.kurtosis_weighted("x", "w").alias("kuw"),
    ).collect()
    assert len(rows) == len(groups)
    for r in rows:
        ctx = (groups[r["g"]][0], r["n"])
        for c in ("sk", "ku", "sdw", "skw", "kuw"):
            assert r[c] == 0.0, (c, ctx, r[c])
        assert math.isnan(r["sk_s"]) if r["n"] < 3 else r["sk_s"] == 0.0, ctx
        assert math.isnan(r["ku_s"]) if r["n"] < 4 else r["ku_s"] == 0.0, ctx


def test_stddev_weighted_keeps_small_true_variance(spark):
    """Column form of ``test_moments.test_stddev_weighted_keeps_small_true_variance``:
    two-row groups whose variance is tiny next to m2 but well above the
    rounding noise keep their stddev."""
    df = spark.createDataFrame(
        [(0, 1e6, 1.0), (0, 1e6 + 1, 1.0), (1, 100.0, 1.0), (1, 100.001, 1.0)],
        "g int, x double, w double",
    )
    got = dict(df.groupBy("g").agg(SA.stddev_weighted("x", "w").alias("sd")).collect())
    assert got[0] == pytest.approx(0.5, rel=1e-6)
    assert got[1] == pytest.approx(5e-4, rel=1e-6)


def test_plan_is_single_hash_aggregate(golden_df):
    """All five one-shot stats over the same column must plan as ONE
    HashAggregate pair (partial+final) with deduped sum children and no
    Python UDFs — the scale-critical property. Grouped, the partial
    aggregate (``partial_sum``) sits below the ``Exchange``: each map task
    combines a hot key to one row before the shuffle, which is why the
    engine needs no salting for skewed keys."""
    plans = {
        "global": golden_df.agg(*SA.all_stats("x", F.lit(1.0))),
        "grouped": golden_df.groupBy((F.col("x") > 5).alias("k"))
        .agg(*SA.all_stats("x", F.lit(1.0))),
    }
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "HashAggregate" in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
    grouped = plans["grouped"]._jdf.queryExecution().executedPlan().toString()
    assert grouped.count("HashAggregate") == 2
    exchange = grouped.index("Exchange hashpartitioning")
    assert "partial_sum" in grouped[exchange:], grouped
