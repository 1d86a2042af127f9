"""Pure-Python/numpy moment-accumulator kernel.

Mirrors the ksqlDB UDAF lifecycle of the reference —
``initialize() -> aggregate(row, acc) -> merge(a, b) -> map(acc)`` — as plain
functions over dataclass states, so pytest can exercise the identical
contract without a SparkSession (reference test structure:
SkewnessUdafTest.java:64-218).

Semantics reproduced exactly (with file:line cites into /root/reference):

- unweighted state = raw power sums (count, Σx, Σx², Σx³[, Σx⁴])
  (SkewnessUdaf.java:45-50, KurtosisUdaf.java:48-54);
- weighted state = (Σw·x, Σw, Σw·x², Σw·x³[, Σw·x⁴])
  (WeightedStdDevUdaf.java:43-47, WeightedKurtosisUdaf.java:49-55);
- merge = field-wise addition (SkewnessUdaf.java:198-206) — a commutative
  monoid, which is what makes the Spark sum-column decomposition exact;
- finalize formulas and guards:
  * n==0 -> 0.0                      (SkewnessUdaf.java:158-160)
  * sample skew, n<3 -> NaN          (SkewnessUdaf.java:162-164)
  * sample kurt, n<4 -> NaN          (KurtosisUdaf.java:168-170)
  * zero variance -> 0.0             (SkewnessUdaf.java:173-175; see
    :func:`is_zero_variance` for why the reference's ``== 0`` becomes a
    relative bound)
  * Σw==0 -> 0.0                     (WeightedStdDevUdaf.java:129-132)
  * population kurtosis is RAW m4/var² (KurtosisUdaf.java:187); sample
    kurtosis is EXCESS G2 (KurtosisUdaf.java:189-195) — asymmetric on
    purpose; never substitute Spark's built-ins (both are excess).

All update functions are numpy-vectorized (no per-row Python). The engine
itself never calls this module: its one implementation of the five UDAFs
is the sum-Column form in ``stats/spark_agg.py``, which imports only
:func:`is_zero_variance` and its bounds from here. This module is the Spark-free mirror
that the unit tests pin to the reference's golden values.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

__all__ = [
    "ZERO_VAR_REL",
    "STDDEV_ZERO_VAR_REL",
    "is_zero_variance",
    "MomentState",
    "WeightedState",
    "finalize_skewness",
    "finalize_kurtosis",
    "finalize_stddev_weighted",
    "finalize_skewness_weighted",
    "finalize_kurtosis_weighted",
]


#: Bound ``c`` of :func:`is_zero_variance` for skewness and kurtosis.
ZERO_VAR_REL = 1e-10
#: Bound ``c`` of :func:`is_zero_variance` for the weighted stddev.
STDDEV_ZERO_VAR_REL = 1e-13


def is_zero_variance(var, m2, c=ZERO_VAR_REL):
    """The one zero-variance guard of all five finalizers, numpy and Spark.

    ``var`` is the population variance ``m2 - mean²`` computed from the
    raw power sums, and ``m2`` is the second raw moment ``s2/n``
    (``swx2/sw`` weighted). The variance counts as zero when
    ``var <= c * m2``. Works on floats and on Spark Columns alike, so the
    numpy kernel and the Column finalizers share it. Being relative to
    ``m2`` rather than ``mean²``, the bound stays defined for mean 0. A
    negative ``var`` (cancellation below zero) always counts as zero.

    The reference tests ``variance == 0`` (SkewnessUdaf.java:173-175).
    That is exact only when the power sums are exact, e.g. for integer
    constants. For a constant group of arbitrary floats, ``m2`` and
    ``mean²`` each carry a rounding error of a few units of 2^-53 per
    summation step, so ``var`` comes back as ±noise·m2 instead of 0: a
    one-row group with w=3, x=1.7 gives var = 4.4e-16 and skewness
    -1.9e8. Constant groups summed sequentially, as Spark's ``Sum`` does,
    with values in ±1e3 and weights up to e^±20, gave a worst |var|/m2 of
    1.1e-13 unweighted and 8.6e-15 weighted at up to 2000 rows, and
    5.0e-12 unweighted and 2.9e-14 weighted at 1e5 rows. The noise grows
    with the rows in one sequential partial sum, so a constant group of
    many more rows in one partition may still escape the guard.

    ``c`` is sized to what the statistic loses near zero variance:

    - Skewness and kurtosis: ``ZERO_VAR_REL = 1e-10``, 20x above the
      unweighted noise at 1e5 rows. The bound fires only when
      σ/|μ| < 1e-5. There the raw-sum third and fourth central moments
      cancel by a factor of at least 1e15 and carry no correct digit, so
      0.0 is no worse than the computed value.
    - Weighted stddev: ``STDDEV_ZERO_VAR_REL = 1e-13``. ``sqrt(var)``
      needs only ``var`` itself, whose condition number is m2/var, so a
      variance well above the noise is correct to several digits and
      must survive: [1e6, 1e6 + 1] has var/m2 = 2.5e-13 and exact sums,
      and keeps its stddev 0.5. The bound sits 3x above the weighted
      noise at 1e5 rows and 12x above it at 2000 rows, and it zeroes only
      σ/|μ| < 3.2e-7, where short sums leave var about 1% of error.
    """
    return var <= c * m2


@dataclass(frozen=True)
class MomentState:
    """Unweighted accumulator: raw power sums up to the 4th moment.

    The reference keeps Σx³ only for skewness and adds Σx⁴ for kurtosis;
    we carry all four — the extra sum is free and lets one state service
    both finalizers.
    """

    count: int = 0
    s1: float = 0.0  # Σx
    s2: float = 0.0  # Σx²
    s3: float = 0.0  # Σx³
    s4: float = 0.0  # Σx⁴

    @staticmethod
    def zero() -> "MomentState":
        """initialize(): zeroed state (SkewnessUdaf.java:111-118)."""
        return MomentState()

    def update(self, values) -> "MomentState":
        """aggregate(): vectorized over a batch of values.

        Equivalent to folding SkewnessUdaf.java:127-145 /
        KurtosisUdaf.java:131-151 over the batch, but in one numpy pass.
        """
        x = np.asarray(values, dtype=np.float64)
        x = x[~np.isnan(x)]  # SQL aggregates skip NULLs; ksqlDB never feeds null
        x2 = x * x
        return MomentState(
            count=self.count + int(x.size),
            s1=self.s1 + float(x.sum()),
            s2=self.s2 + float(x2.sum()),
            s3=self.s3 + float((x2 * x).sum()),
            s4=self.s4 + float((x2 * x2).sum()),
        )

    def merge(self, other: "MomentState") -> "MomentState":
        """merge(): field-wise addition (SkewnessUdaf.java:198-206)."""
        return MomentState(
            self.count + other.count,
            self.s1 + other.s1,
            self.s2 + other.s2,
            self.s3 + other.s3,
            self.s4 + other.s4,
        )


@dataclass(frozen=True)
class WeightedState:
    """Weighted accumulator: Σw·xᵏ sums (frequency-weight semantics).

    Integer weights reproduce the unweighted statistic on the expanded
    multiset (WeightedSkewnessUdafTest.java:100-127).
    """

    sw: float = 0.0    # Σw
    swx: float = 0.0   # Σw·x
    swx2: float = 0.0  # Σw·x²
    swx3: float = 0.0  # Σw·x³
    swx4: float = 0.0  # Σw·x⁴

    @staticmethod
    def zero() -> "WeightedState":
        return WeightedState()

    def update(self, values, weights) -> "WeightedState":
        """aggregate(): vectorized (WeightedKurtosisUdaf.java:107-124)."""
        x = np.asarray(values, dtype=np.float64)
        w = np.asarray(weights, dtype=np.float64)
        keep = ~(np.isnan(x) | np.isnan(w))
        x, w = x[keep], w[keep]
        wx = w * x
        return WeightedState(
            sw=self.sw + float(w.sum()),
            swx=self.swx + float(wx.sum()),
            swx2=self.swx2 + float((wx * x).sum()),
            swx3=self.swx3 + float((wx * x * x).sum()),
            swx4=self.swx4 + float((wx * x * x * x).sum()),
        )

    def merge(self, other: "WeightedState") -> "WeightedState":
        """merge(): field-wise addition (WeightedStdDevUdaf.java:151-163)."""
        return WeightedState(
            self.sw + other.sw,
            self.swx + other.swx,
            self.swx2 + other.swx2,
            self.swx3 + other.swx3,
            self.swx4 + other.swx4,
        )


def finalize_skewness(state: MomentState, sample: bool = False) -> float:
    """map() for SKEWNESS / SKEWNESS(isSample) (SkewnessUdaf.java:153-189).

    Population: m3 / var^1.5.  Sample: Bessel-corrected variance then the
    n²/((n-1)(n-2)) correction — algebraically Commons-Math G1.
    """
    n = state.count
    if n == 0:
        return 0.0
    if sample and n < 3:
        return math.nan
    mean = state.s1 / n
    m2 = state.s2 / n
    var = m2 - mean * mean
    if is_zero_variance(var, m2):
        return 0.0
    if sample:
        var *= n / (n - 1.0)
    m3 = state.s3 / n - 3.0 * mean * m2 + 2.0 * mean**3
    skew = m3 / var**1.5
    if sample:
        skew *= (n * n) / ((n - 1.0) * (n - 2.0))
    return skew


def finalize_kurtosis(state: MomentState, sample: bool = False) -> float:
    """map() for KURTOSIS / KURTOSIS(isSample) (KurtosisUdaf.java:159-198).

    Population: RAW m4/var² (golden 1.4400, KurtosisUdafTest.java:122).
    Sample: EXCESS G2. The population/sample raw-vs-excess asymmetry is a
    reference behavior we preserve deliberately.
    """
    n = state.count
    if n == 0:
        return 0.0
    if sample and n < 4:
        return math.nan
    mean = state.s1 / n
    m2 = state.s2 / n
    var = m2 - mean * mean
    if is_zero_variance(var, m2):
        return 0.0
    m4 = (
        state.s4 / n
        - 4.0 * mean * (state.s3 / n)
        + 6.0 * mean * mean * m2
        - 3.0 * mean**4
    )
    if sample:
        var *= n / (n - 1.0)
    kurt = m4 / (var * var)
    if sample:
        kurt = ((n * n * (n + 1.0)) / ((n - 1.0) * (n - 2.0) * (n - 3.0))) * kurt - (
            3.0 * (n - 1.0) * (n - 1.0)
        ) / ((n - 2.0) * (n - 3.0))
    return kurt


def _weighted_mean_m2_var(state: WeightedState) -> tuple[float, float, float]:
    mean = state.swx / state.sw
    m2 = state.swx2 / state.sw
    return mean, m2, m2 - mean * mean


def finalize_stddev_weighted(state: WeightedState) -> float:
    """map() for STDDEV_WEIGHTED (WeightedStdDevUdaf.java:122-142).

    Weighted population stddev (frequency weights, no Bessel); Σw==0 or
    zero variance -> 0.
    """
    if state.sw == 0.0:
        return 0.0
    _, m2, var = _weighted_mean_m2_var(state)
    if is_zero_variance(var, m2, STDDEV_ZERO_VAR_REL):
        return 0.0
    return math.sqrt(var)


def finalize_skewness_weighted(state: WeightedState) -> float:
    """map() for SKEWNESS_WEIGHTED (WeightedSkewnessUdaf.java:131-161)."""
    if state.sw == 0.0:
        return 0.0
    mean, m2, var = _weighted_mean_m2_var(state)
    if is_zero_variance(var, m2):
        return 0.0
    m3 = state.swx3 / state.sw - 3.0 * mean * m2 + 2.0 * mean**3
    return m3 / var**1.5


def finalize_kurtosis_weighted(state: WeightedState) -> float:
    """map() for KURTOSIS_WEIGHTED (WeightedKurtosisUdaf.java:132-161).

    RAW weighted kurtosis m4/var² (golden 1.4400,
    WeightedKurtosisUdafTest.java:134); Σw==0 or zero variance -> 0.
    """
    if state.sw == 0.0:
        return 0.0
    mean, m2, var = _weighted_mean_m2_var(state)
    if is_zero_variance(var, m2):
        return 0.0
    m4 = (
        state.swx4 / state.sw
        - 4.0 * mean * (state.swx3 / state.sw)
        + 6.0 * mean * mean * m2
        - 3.0 * mean**4
    )
    return m4 / (var * var)
