"""Unit tests for the pure moment kernel — mirrors the reference's JUnit
layer 1:1 (SkewnessUdafTest.java et al.): zeroed initialize, vectorized
aggregate, field-wise merge, golden finalize values at 1e-4, and every edge
case. pandas Series.skew()/.kurt() (exact G1 / excess G2) play the role of
the Apache Commons Math oracle (SkewnessUdafTest.java:131-144).
"""

import math

import numpy as np
import pandas as pd
import pytest

from ksql_udaf_statistics_spark.stats.moments import (
    MomentState,
    WeightedState,
    finalize_kurtosis,
    finalize_kurtosis_weighted,
    finalize_skewness,
    finalize_skewness_weighted,
    finalize_stddev_weighted,
)

TOL = 1e-4  # the reference's own tolerance (SkewnessUdafTest.java:119)

GOLDEN_VALUES = [3.0, 3.0, 4.0, 7.0, 7.0, 13.0, 16.0, 16.0, 16.0, 20.0]
WEIGHTED_V = [3.0, 4.0, 7.0, 13.0, 16.0, 20.0]
WEIGHTED_W = [2.0, 1.0, 2.0, 1.0, 3.0, 1.0]


def test_initialize_zeroed():
    s = MomentState.zero()
    assert (s.count, s.s1, s.s2, s.s3, s.s4) == (0, 0.0, 0.0, 0.0, 0.0)
    w = WeightedState.zero()
    assert (w.sw, w.swx, w.swx2, w.swx3, w.swx4) == (0.0, 0.0, 0.0, 0.0, 0.0)


def test_aggregate_updates_sums():
    # SkewnessUdafTest.java:78-100: one new value updates each sum
    s = MomentState.zero().update([4.0])
    assert s.count == 1 and s.s1 == 4.0 and s.s2 == 16.0 and s.s3 == 64.0 and s.s4 == 256.0
    w = WeightedState.zero().update([5.0], [2.0])
    assert w.sw == 2.0 and w.swx == 10.0 and w.swx2 == 50.0 and w.swx3 == 250.0 and w.swx4 == 1250.0


def test_merge_fieldwise_addition():
    a = MomentState.zero().update([1.0, 2.0])
    b = MomentState.zero().update([3.0])
    merged = a.merge(b)
    full = MomentState.zero().update([1.0, 2.0, 3.0])
    assert merged == full
    wa = WeightedState.zero().update([1.0], [2.0])
    wb = WeightedState.zero().update([3.0], [4.0])
    assert wa.merge(wb) == WeightedState.zero().update([1.0, 3.0], [2.0, 4.0])


def test_golden_population_skewness():
    s = MomentState.zero().update(GOLDEN_VALUES)
    assert finalize_skewness(s) == pytest.approx(0.075718, abs=TOL)


def test_golden_population_kurtosis_raw():
    s = MomentState.zero().update(GOLDEN_VALUES)
    assert finalize_kurtosis(s) == pytest.approx(1.4400, abs=TOL)


def test_golden_weighted_stddev():
    w = WeightedState.zero().update(WEIGHTED_V, WEIGHTED_W)
    assert finalize_stddev_weighted(w) == pytest.approx(6.0539, abs=TOL)


def test_golden_weighted_skewness():
    w = WeightedState.zero().update(WEIGHTED_V, WEIGHTED_W)
    assert finalize_skewness_weighted(w) == pytest.approx(0.075718, abs=TOL)


def test_golden_weighted_kurtosis_raw():
    w = WeightedState.zero().update(WEIGHTED_V, WEIGHTED_W)
    assert finalize_kurtosis_weighted(w) == pytest.approx(1.4400, abs=TOL)


def test_frequency_weight_invariant():
    """Integer weights == unweighted stat on the expanded multiset
    (WeightedSkewnessUdafTest.java:127 vs SkewnessUdafTest.java:119)."""
    expanded = np.repeat(WEIGHTED_V, np.asarray(WEIGHTED_W, dtype=int))
    s = MomentState.zero().update(expanded)
    w = WeightedState.zero().update(WEIGHTED_V, WEIGHTED_W)
    assert finalize_skewness(s) == pytest.approx(finalize_skewness_weighted(w), abs=1e-12)
    assert finalize_kurtosis(s) == pytest.approx(finalize_kurtosis_weighted(w), abs=1e-12)
    pop_std = math.sqrt(np.var(expanded))
    assert finalize_stddev_weighted(w) == pytest.approx(pop_std, abs=1e-12)


def test_sample_skewness_matches_pandas_g1():
    # AllUdafIT.java:220-233 (commons-math Skewness == G1 == pandas .skew())
    vals = [4.0, 7.0, 13.0, 16.0, 20.0]
    s = MomentState.zero().update(vals)
    assert finalize_skewness(s, sample=True) == pytest.approx(
        pd.Series(vals).skew(), abs=1e-10
    )


def test_sample_kurtosis_matches_pandas_g2():
    # AllUdafIT.java:352-365 (commons-math Kurtosis == excess G2 == pandas .kurt())
    vals = [14.0, 7.0, 13.0, 16.0, 20.0, 15.0]
    s = MomentState.zero().update(vals)
    assert finalize_kurtosis(s, sample=True) == pytest.approx(
        pd.Series(vals).kurt(), abs=1e-10
    )


def test_empty_state_returns_zero():
    # SkewnessUdafTest.java:150-160
    s = MomentState.zero()
    assert finalize_skewness(s) == 0.0
    assert finalize_kurtosis(s) == 0.0
    w = WeightedState.zero()
    assert finalize_stddev_weighted(w) == 0.0
    assert finalize_skewness_weighted(w) == 0.0
    assert finalize_kurtosis_weighted(w) == 0.0


def test_insufficient_n_returns_nan():
    # skew n<3: SkewnessUdaf.java:162-164; kurt n<4: KurtosisUdaf.java:168-170
    s2 = MomentState.zero().update([1.0, 2.0])
    assert math.isnan(finalize_skewness(s2, sample=True))
    s3 = MomentState.zero().update([1.0, 2.0, 3.0])
    assert math.isnan(finalize_kurtosis(s3, sample=True))
    assert not math.isnan(finalize_skewness(s3, sample=True))


def test_zero_variance_returns_zero():
    # AllUdafIT.java:297-304,427-434
    s = MomentState.zero().update([1.0, 1.0, 1.0, 1.0])
    assert finalize_skewness(s) == 0.0
    assert finalize_skewness(s, sample=True) == 0.0
    assert finalize_kurtosis(s) == 0.0
    assert finalize_kurtosis(s, sample=True) == 0.0
    w = WeightedState.zero().update([3.0, 3.0, 3.0, 3.0], [1.0, 1.0, 1.0, 1.0])
    assert finalize_skewness_weighted(w) == 0.0
    assert finalize_kurtosis_weighted(w) == 0.0
    assert finalize_stddev_weighted(w) == 0.0


@pytest.mark.parametrize("x", [1.7, 3.3])
@pytest.mark.parametrize("w", [3.0, 5.0, 7.0])
def test_one_row_weighted_group_is_zero_variance(w, x):
    """One weighted row has zero variance, but its power sums leave
    swx2/sw - mean² = 4.4e-16 at (w=3, x=1.7); an absolute ``var <= 0``
    guard let that through as skewness -1.9e8, kurtosis 7.2e16 and
    stddev 2.1e-8. The relative guard returns exactly 0.0."""
    st = WeightedState.zero().update([x], [w])
    assert finalize_stddev_weighted(st) == 0.0
    assert finalize_skewness_weighted(st) == 0.0
    assert finalize_kurtosis_weighted(st) == 0.0


@pytest.mark.parametrize("x, want", [
    ([1e6, 1e6 + 1], 0.5),            # exact sums, var/m2 = 2.5e-13
    ([100.0, 100.001], 5e-4),         # 3-decimal data, var/m2 = 2.5e-11
])
def test_stddev_weighted_keeps_small_true_variance(x, want):
    """The weighted stddev needs only the variance, which stays correct
    to several digits far below the skewness/kurtosis bound; it is zeroed
    only below the variance's own rounding noise, not at 1e-10·m2."""
    st = WeightedState.zero().update(x, [1.0, 1.0])
    assert finalize_stddev_weighted(st) == pytest.approx(want, rel=1e-6)


UNDERFLOW_X = [1e-90, 2e-90, 3e-90, 5e-90]


def test_kurtosis_survives_variance_square_underflow():
    """A non-constant group around 1e-90 has var ~ 2e-180 > 0, whose
    square underflows to 0.0: ``m4 / (var * var)`` raised
    ZeroDivisionError. Every kurtosis finalizer returns a finite value."""
    st = MomentState.zero().update(UNDERFLOW_X)
    ws = WeightedState.zero().update(UNDERFLOW_X, [1.0] * 4)
    assert st.s2 / 4 - (st.s1 / 4) ** 2 > 0.0
    for kurt in (finalize_kurtosis(st), finalize_kurtosis(st, sample=True),
                 finalize_kurtosis_weighted(ws)):
        assert math.isfinite(kurt)


def test_all_zero_weights_return_zero():
    # AllUdafIT.java:181-191,278-288,409-418
    w = WeightedState.zero().update([0.0, 0.0, 0.0], [0.0, 0.0, 0.0])
    assert finalize_stddev_weighted(w) == 0.0
    assert finalize_skewness_weighted(w) == 0.0
    assert finalize_kurtosis_weighted(w) == 0.0


def test_weighted_it_vectors_match_numpy_oracle():
    """AllUdafIT.java:162-172,242-252,374-383 oracles, recomputed in numpy."""
    v, w = np.array([5.0, 2.0, 8.0]), np.array([2.0, 4.0, 1.0])
    st = WeightedState.zero().update(v, w)
    mean = (v * w).sum() / w.sum()
    var = (w * v * v).sum() / w.sum() - mean**2
    assert finalize_stddev_weighted(st) == pytest.approx(math.sqrt(var), abs=1e-12)
    m3 = (w * v**3).sum() / w.sum() - 3 * mean * (w * v * v).sum() / w.sum() + 2 * mean**3
    assert finalize_skewness_weighted(st) == pytest.approx(m3 / var**1.5, abs=1e-12)
    v4, w4 = np.array([5.0, 2.0, 8.0, 4.0]), np.array([2.0, 4.0, 1.0, 2.0])
    st4 = WeightedState.zero().update(v4, w4)
    mean4 = (v4 * w4).sum() / w4.sum()
    var4 = (w4 * v4 * v4).sum() / w4.sum() - mean4**2
    m4 = (
        (w4 * v4**4).sum() / w4.sum()
        - 4 * mean4 * (w4 * v4**3).sum() / w4.sum()
        + 6 * mean4**2 * (w4 * v4**2).sum() / w4.sum()
        - 3 * mean4**4
    )
    assert finalize_kurtosis_weighted(st4) == pytest.approx(m4 / var4**2, abs=1e-12)


def test_merge_associativity_random_partitions():
    """The monoid property that makes the Spark decomposition exact."""
    rng = np.random.default_rng(42)
    data = rng.normal(100.0, 15.0, size=1000)
    whole = MomentState.zero().update(data)
    parts = np.array_split(data, 7)
    merged = MomentState.zero()
    for p in parts:
        merged = merged.merge(MomentState.zero().update(p))
    assert finalize_skewness(merged) == pytest.approx(finalize_skewness(whole), abs=1e-9)
    assert finalize_kurtosis(merged, sample=True) == pytest.approx(
        finalize_kurtosis(whole, sample=True), abs=1e-9
    )
