"""Streaming windowed DRIFT DETECTOR: CEP-style anomaly flags on a live
event stream, bit-identical to the batch twin.

The batch query ``drift_detector_events`` (plans/queries.py) flags a
(key, tumbling-window) pair whose window mean departs from the running
baseline of all PRIOR finalized windows of that key by more than
``z_threshold`` sample standard deviations. This module is its streaming
twin: one ``applyInPandasWithState`` operator keyed by the drift key
maintains

- the OPEN windows' partial sums (exact ``decimal(38,12)`` accumulation,
  mirroring Spark's ``sum(value.cast(decimal(38,12)))``), and
- the BASELINE moments (count, Σmean, Σmean²) over windows already
  finalized, in the same exact decimal arithmetic,

and emits a window's verdict exactly once, when the event-time watermark
passes the window end (append semantics — a finalized verdict is never
revised, the same claims-are-final discipline as streaming/neardup.py).
Windows finalize in ascending event-time order per key, so the baseline
each window sees is byte-identical to the batch query's
``ROWS UNBOUNDED PRECEDING AND 1 PRECEDING`` frame. Because every
floating-point step of the batch plan (decimal casts HALF_UP at scale 12,
exact decimal sums, one IEEE division chain, decimal-routed 6-dp rounds)
is replicated with ``decimal.Decimal``, the drained stream's rows hash-
match the batch query — and therefore its DuckDB oracle — bit for bit.
This is what lets the driver gate hash-oracle a stateful streaming query
(``drift_detector_stream``) instead of settling for a rows-only check.

Keys with no fresh traffic still finalize their open windows: the
operator arms an ``EventTimeTimeout`` at the earliest open window end,
so the state handler runs (with no input rows) once the watermark
crosses it. Baseline state never expires — it is the running history of
the key, bounded by #keys × 3 decimals, not by traffic.

100 TB shape (r7): the raw event rows never reach the stateful operator.
A stateless ``mapInPandas`` pre-reduction inside the scan stage collapses
each partition's rows to one (key, window) partial — count, valid count,
exact decimal sum — so the stateful shuffle carries O(#keys × #windows ×
#source-partitions) partial rows per micro-batch and the state handler
merges partials, never events (VERDICT r6 #2; decimal sums are exact and
order-independent, so the merge is bit-identical to per-row
accumulation). State per key is the open-window partials (bounded by
watermark horizon / window size) plus three baseline scalars. Chaining a
real streaming aggregation ahead of the state operator would be cleaner
still, but Spark rejects it ("applyInPandasWithState in append mode is
not supported after aggregation"), so the partition-local reduction is
the strongest legal pre-aggregation.
"""

from __future__ import annotations

import json
import math
from collections.abc import Iterator
from decimal import ROUND_HALF_UP, Decimal, localcontext

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StringType, StructField, StructType,
)

from .neardup import duration_to_ms
from .sink import drain_available_now

_Q12 = Decimal("1e-12")
_Q6 = Decimal("1e-6")

_STATE_SCHEMA = StructType([
    StructField("open_json", StringType()),   # {ws_ms: [n_rows, n_val, s1]}
    StructField("bn", LongType()),            # finalized-window count
    StructField("bs1", StringType()),         # Σ mean   (decimal string)
    StructField("bs2", StringType()),         # Σ mean²  (decimal string)
])

_OUT_SCHEMA = StructType([
    StructField("key", StringType()),
    StructField("ws_ms", LongType()),
    StructField("n_rows", LongType()),
    StructField("mean_value", DoubleType()),
    StructField("n_baseline", LongType()),
    StructField("baseline_mean", DoubleType()),
    StructField("baseline_std", DoubleType()),
    StructField("z_score", DoubleType()),
    StructField("is_drift", IntegerType()),
])


def _dec12(x: float) -> Decimal:
    """Spark's ``double -> decimal(38,12)`` cast: HALF_UP at scale 12 of
    the double's exact value."""
    return Decimal(x).quantize(_Q12, rounding=ROUND_HALF_UP)


def _mean6(s1: Decimal, n_val: int) -> float:
    """Replicates plans.queries.mean6 step for step: decimal sum -> double
    cast -> one IEEE division -> decimal(38,12) cast -> ROUND(.., 6)
    (decimal HALF_UP) -> double cast -> ``+ 0.0``."""
    m = float(s1) / n_val
    r = _dec12(m).quantize(_Q6, rounding=ROUND_HALF_UP)
    return float(r) + 0.0


def _round6d(x: float) -> float:
    """Replicates plans.queries.round6d: double -> decimal(38,12) HALF_UP
    -> ROUND 6 HALF_UP -> double, preserving its double-rounding exactly."""
    r = _dec12(x).quantize(_Q6, rounding=ROUND_HALF_UP)
    return float(r) + 0.0


def stage_ordered_stream_files(
    df: DataFrame, src_dir: str, n_files: int, order_col: str = "ts"
) -> None:
    """Stage ``df`` as ``n_files`` parquet files under ``src_dir`` whose
    FileStreamSource delivery order equals event-time order.

    ``repartitionByRange`` alone is NOT enough: the write tasks run in
    parallel and finish in arbitrary order, and FileStreamSource lists
    new files by *modification time* — so a later-range file can land an
    earlier mtime and be delivered first, making the entire earlier-range
    file LATE against the advanced watermark (silently dropped). Observed
    exactly that with 3 range files of the events table: the middle file
    vanished. The fix is to copy the parts out in range order (part file
    index == range partition index) with explicitly increasing mtimes."""
    import glob
    import os
    import shutil
    import tempfile
    import time

    staged = tempfile.mkdtemp(prefix="kuss_drift_stage_")
    try:
        out = os.path.join(staged, "parts")
        df.repartitionByRange(n_files, F.col(order_col)).write.parquet(out)
        parts = sorted(glob.glob(os.path.join(out, "part-*.parquet")))
        os.makedirs(src_dir, exist_ok=True)
        t0 = time.time() - 3600
        for i, p in enumerate(parts):
            dst = os.path.join(src_dir, f"{i:05d}.parquet")
            shutil.copy(p, dst)
            os.utime(dst, (t0 + i, t0 + i))
    finally:
        shutil.rmtree(staged, ignore_errors=True)


def reduce_event_partials(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Stateless per-partition pre-reduction for the drift stream (r7,
    VERDICT r6 #2): the per-row decimal quantization and summation happen
    HERE, spread over every core, inside the micro-batch's scan stage —
    the stateful operator then receives one partial row per (key, window,
    partition) instead of every event row. The decimal(38,12) sums are
    exact and order-independent, so merging partials downstream is
    bit-identical to the former per-row accumulation. ``p_ts`` carries
    each group's max event time: the post-reduction ``withWatermark(
    p_ts)`` then advances the query watermark to max(ts) - delay, exactly
    the value a pre-reduction watermark produced (max of group maxes ==
    global max).

    Input columns: key, ws_ms, value, ts. Output: key, ws_ms, p_rows,
    p_val, p_s1 (decimal string), p_ts.
    """
    import numpy as np

    with localcontext() as ctx:
        ctx.prec = 50
        for pdf in batches:
            if pdf.empty:
                continue
            keys = pdf["key"].to_numpy()
            ws = pdf["ws_ms"].to_numpy()
            vals = pdf["value"].to_numpy()
            ts = pdf["ts"].to_numpy()
            order = np.lexsort((ws, keys))
            keys, ws, vals, ts = keys[order], ws[order], vals[order], ts[order]
            # group boundaries over the (key, ws_ms) sort
            new_grp = np.empty(len(ws), dtype=bool)
            new_grp[0] = True
            new_grp[1:] = (keys[1:] != keys[:-1]) | (ws[1:] != ws[:-1])
            starts = np.flatnonzero(new_grp)
            ends = np.append(starts[1:], len(ws))
            rows = []
            for s, e in zip(starts, ends):
                seg = vals[s:e]
                # pandas can't distinguish SQL NULL from NaN in a float64
                # column, so both are skipped. That matches the batch twin
                # for NULLs; actual NaN *values* are outside the contract
                # entirely — the batch/oracle decimal cast (ANSI) rejects
                # them.
                valid = seg == seg
                s1 = sum((_dec12(float(v)) for v in seg[valid]), Decimal(0))
                rows.append(
                    (
                        keys[s],
                        int(ws[s]),
                        int(e - s),
                        int(valid.sum()),
                        str(s1),
                        ts[s:e].max(),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["key", "ws_ms", "p_rows", "p_val", "p_s1", "p_ts"],
            )


def stream_drift_decisions(
    stream_events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    window: str = "1 hour",
    watermark: str = "2 hours",
    z_threshold: float = 3.0,
) -> DataFrame:
    """Append stream of finalized (key, window) drift verdicts.

    Output columns: ``key, ws_ms, n_rows, mean_value, n_baseline,
    baseline_mean, baseline_std, z_score, is_drift`` — the batch query's
    columns with the window start as epoch millis. ``baseline_*``/
    ``z_score`` are null until the baseline has >= 2 windows with positive
    variance; callers apply their own ``n_baseline`` warmup filter (the
    gate uses 12, matching the batch query).
    """
    win_ms = duration_to_ms(window)

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        with localcontext() as ctx:
            ctx.prec = 50
            if state.exists:
                open_json, bn, bs1_s, bs2_s = state.get
                open_w = {
                    int(k): [int(v[0]), int(v[1]), Decimal(v[2])]
                    for k, v in json.loads(open_json).items()
                }
                bn = int(bn)
                bs1, bs2 = Decimal(bs1_s), Decimal(bs2_s)
            else:
                open_w, bn, bs1, bs2 = {}, 0, Decimal(0), Decimal(0)

            if not state.hasTimedOut:
                for pdf in pdfs:
                    if pdf.empty:
                        continue
                    # partial rows only: O(#windows × #source-partitions)
                    # per batch, never O(events)
                    ws_arr = pdf["ws_ms"].to_numpy()
                    pr_arr = pdf["p_rows"].to_numpy()
                    pv_arr = pdf["p_val"].to_numpy()
                    ps_arr = pdf["p_s1"].to_numpy()
                    for i in range(len(pdf)):
                        acc = open_w.setdefault(
                            int(ws_arr[i]), [0, 0, Decimal(0)]
                        )
                        acc[0] += int(pr_arr[i])
                        acc[1] += int(pv_arr[i])
                        acc[2] += Decimal(ps_arr[i])

            wm = state.getCurrentWatermarkMs()
            out_rows = []
            for w in sorted(open_w):
                if w + win_ms > wm:
                    break  # ascending: later windows are open too
                n_rows, n_val, s1 = open_w.pop(w)
                mean_value = _mean6(s1, n_val) if n_val else None
                b_mean = b_std = z = None
                is_drift = 0
                if bn >= 1:
                    b1, b2 = float(bs1), float(bs2)
                    b_mean_raw = b1 / bn
                    b_mean = _round6d(b_mean_raw)
                    if bn >= 2:
                        b_var = (b2 - b1 * b1 / bn) / (bn - 1)
                        if b_var > 0:
                            std_raw = math.sqrt(b_var)
                            b_std = _round6d(std_raw)
                            if mean_value is not None:
                                # an all-null window keeps z null and
                                # is_drift 0, like the batch twin
                                z_raw = (mean_value - b_mean_raw) / std_raw
                                z = _round6d(z_raw)
                                is_drift = (
                                    1 if abs(z_raw) > z_threshold else 0
                                )
                out_rows.append(
                    (key[0], w, n_rows, mean_value, bn, b_mean, b_std, z,
                     is_drift)
                )
                if mean_value is not None:
                    # baseline folds the ROUNDED mean quantized to SCALE 6,
                    # mirroring the batch frame's mean_value.cast(
                    # decimal(15,6)) (r6 ADVICE: quantizing at scale 12
                    # instead captured the double's representation error of
                    # the 6-dp mean once |mean| grows past ~4.5e3, and the
                    # products md*md must stay exact at scale 12, which
                    # needs <= 6 fractional digits per factor). The (15,6)
                    # cast overflows at |mean| >= 1e9 — under ANSI the
                    # batch twin fails that cast, so the stream raises the
                    # same way rather than silently diverging.
                    md = Decimal(mean_value).quantize(
                        _Q6, rounding=ROUND_HALF_UP
                    )
                    if md.copy_abs() >= Decimal("1e9"):
                        raise ArithmeticError(
                            f"window mean {md} overflows decimal(15,6), "
                            f"the batch twin's baseline cast (ANSI failure)"
                        )
                    bn += 1
                    bs1 += md
                    bs2 += md * md

            state.update((
                json.dumps({
                    str(w): [a[0], a[1], str(a[2])]
                    for w, a in open_w.items()
                }),
                bn, str(bs1), str(bs2),
            ))
            if open_w:
                # fire again when the earliest open window becomes final,
                # even if this key sees no more traffic
                state.setTimeoutTimestamp(
                    max(min(open_w) + win_ms, wm + 1)
                )
        if out_rows:
            yield pd.DataFrame(out_rows, columns=[f.name for f in
                                                  _OUT_SCHEMA.fields])

    pre = stream_events.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(ts_col).alias("ts"),
        F.col(value_col).cast("double").alias("value"),
        # floor semantics via pmod, NOT `div` (which truncates toward
        # zero and would misbucket negative-epoch timestamps relative
        # to F.window/date_trunc)
        F.expr(
            f"unix_millis({ts_col})"
            f" - pmod(unix_millis({ts_col}), {win_ms})"
        ).alias("ws_ms"),
    )
    # the watermark is declared on the PARTIALS' max event time: max of
    # per-group maxes == the batch's global max event time, so the query
    # watermark advances to exactly the value the former pre-reduction
    # watermark produced (an event-time tag cannot survive mapInPandas,
    # whose output schema is fresh — and an upstream tag alone is not
    # enough for EventTimeTimeout, the stateful operator's input must
    # carry the tagged column)
    partials = pre.mapInPandas(
        reduce_event_partials,
        "key string, ws_ms long, p_rows long, p_val long, p_s1 string, "
        "p_ts timestamp",
    ).withWatermark("p_ts", watermark)
    return partials.groupBy("key").applyInPandasWithState(
        update, _OUT_SCHEMA, _STATE_SCHEMA, "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def run_stream_drift_detector(
    stream_events: DataFrame,
    out_dir: str,
    checkpoint: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    window: str = "1 hour",
    watermark: str = "2 hours",
    z_threshold: float = 3.0,
):
    """Drain the drift stream into an append parquet sink (each finalized
    window is emitted exactly once, so plain append IS exactly-once here;
    checkpoint resume replays no finalized window). Returns the drained
    query."""
    decisions = stream_drift_decisions(
        stream_events, key_col, ts_col, value_col, window, watermark,
        z_threshold,
    )
    q = (
        decisions.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .format("parquet")
        .option("path", out_dir)
        .trigger(availableNow=True)
        .start()
    )
    return drain_available_now(q, "drift stream")
