"""Property-based tests (hypothesis) for the moments kernel — the
algebraic contract the streaming engine leans on: the accumulator is a
commutative monoid under merge (SkewnessUdaf.java:198-206 is plain
field-wise addition), arbitrary split points reproduce the one-shot
result (this IS Spark's partial/final aggregation), integer weights are
frequency weights, and the reference's guard semantics hold on every
input, not just the golden datasets."""

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from ksql_udaf_statistics_spark.stats import moments as M

# bounded, well-conditioned values: the kernel stores raw power sums
# (reference parity), whose conditioning degrades for |x| >> 1e4; the
# reference's own tolerance is 1e-4 (SkewnessUdafTest.java:119)
values = st.lists(
    st.floats(min_value=-1000, max_value=1000, allow_nan=False,
              allow_infinity=False, width=32),
    min_size=0, max_size=120,
)


def _one_shot(vals):
    return M.MomentState.zero().update(np.asarray(vals, dtype=np.float64))


@settings(max_examples=200, deadline=None)
@given(values, st.integers(min_value=0, max_value=120))
def test_split_merge_equals_one_shot(vals, cut):
    """merge(update(A), update(B)) finalizes to the same statistics as
    update(A+B) for every split point — the partial-aggregation law."""
    cut = min(cut, len(vals))
    a = M.MomentState.zero().update(np.asarray(vals[:cut], dtype=np.float64))
    b = M.MomentState.zero().update(np.asarray(vals[cut:], dtype=np.float64))
    merged = a.merge(b)
    merged_rev = b.merge(a)
    whole = _one_shot(vals)
    for fin in (M.finalize_skewness, M.finalize_kurtosis):
        for sample in (False, True):
            x, y, z = fin(merged, sample), fin(whole, sample), fin(merged_rev, sample)
            if math.isnan(y):
                assert math.isnan(x) and math.isnan(z)
            else:
                assert x == pytest_approx(y) and z == pytest_approx(y)


def pytest_approx(v):
    import pytest

    # reference tolerance 1e-4 absolute; merge-order float drift is far
    # below that, but scale the bound for large statistic magnitudes
    return pytest.approx(v, abs=1e-6, rel=1e-9)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(
    st.floats(min_value=-100, max_value=100, allow_nan=False,
              allow_infinity=False, width=32),
    st.integers(min_value=0, max_value=5)), min_size=0, max_size=40))
def test_integer_weights_are_frequency_weights(pairs):
    """Weighted statistics with integer weights equal the unweighted
    statistics of the expanded multiset (WeightedSkewnessUdafTest.java:
    100-127) — on arbitrary inputs, not just the golden set."""
    vals = np.asarray([v for v, _ in pairs], dtype=np.float64)
    wts = np.asarray([w for _, w in pairs], dtype=np.float64)
    ws = M.WeightedState.zero().update(vals, wts)
    expanded = np.repeat(vals, [int(w) for _, w in pairs])
    ms = M.MomentState.zero().update(expanded)
    # weighted population stats vs unweighted population on the expansion
    got_sk = M.finalize_skewness_weighted(ws)
    want_sk = M.finalize_skewness(ms, sample=False)
    got_ku = M.finalize_kurtosis_weighted(ws)
    want_ku = M.finalize_kurtosis(ms, sample=False)
    assert got_sk == pytest_approx(want_sk)
    assert got_ku == pytest_approx(want_ku)


# any float in +-1e3 (subnormals and signed zero included)
constants = st.floats(min_value=-1000, max_value=1000, allow_nan=False,
                      allow_infinity=False)


@settings(max_examples=200, deadline=None)
@given(constants, st.integers(min_value=1, max_value=50))
def test_constant_input_guards(v, n):
    """Zero variance -> exactly 0.0 (never NaN/inf) on constant input;
    empty -> 0.0; sample variants -> NaN below their minimum n.

    Constants are arbitrary floats: their raw power sums do not cancel to
    var == 0 exactly (1.7 gives ±1e-16 relative noise), so this checks the
    relative zero-variance guard (``moments.is_zero_variance``), not just
    the reference's exact ``== 0`` on integer constants."""
    ms = M.MomentState.zero().update(np.full(n, v))
    if n >= 3:
        assert M.finalize_skewness(ms, sample=True) == 0.0
    else:
        assert math.isnan(M.finalize_skewness(ms, sample=True))
    if n >= 4:
        assert M.finalize_kurtosis(ms, sample=True) == 0.0
    else:
        assert math.isnan(M.finalize_kurtosis(ms, sample=True))
    assert M.finalize_skewness(ms, sample=False) == 0.0
    assert M.finalize_kurtosis(ms, sample=False) == 0.0
    empty = M.MomentState.zero()
    assert M.finalize_skewness(empty) == 0.0
    assert M.finalize_kurtosis(empty) == 0.0


@settings(max_examples=300, deadline=None)
@given(constants, st.integers(min_value=1, max_value=2000),
       st.integers(min_value=0, max_value=2**32 - 1),
       st.floats(min_value=0.0, max_value=20.0))
def test_constant_group_finalizes_to_zero(v, n, seed, spread):
    """A constant group, for any n up to 2000, any positive weights and
    any value in +-1e3, finalizes to exactly 0.0 for all five UDAFs and
    both ``sample`` flags (NaN below the sample minimum n)."""
    vals = np.full(n, v)
    # positive weights, log-uniform over exp(+-spread)
    weights = np.exp(np.random.default_rng(seed).uniform(-spread, spread, n))
    ms = M.MomentState.zero().update(vals)
    ws = M.WeightedState.zero().update(vals, weights)
    assert M.finalize_skewness(ms) == 0.0
    assert M.finalize_kurtosis(ms) == 0.0
    sk_s, ku_s = M.finalize_skewness(ms, sample=True), M.finalize_kurtosis(ms, sample=True)
    assert math.isnan(sk_s) if n < 3 else sk_s == 0.0
    assert math.isnan(ku_s) if n < 4 else ku_s == 0.0
    assert M.finalize_stddev_weighted(ws) == 0.0
    assert M.finalize_skewness_weighted(ws) == 0.0
    assert M.finalize_kurtosis_weighted(ws) == 0.0
