"""Streaming NEAR-duplicate gate: watermark-bounded MinHash/LSH dedup.

``jobs.dedup_stream`` covers exact dedup (content-hash keys). Real
ingest pipelines also drop near-duplicates on arrival — a re-crawled
page with a tweaked footer must not enter the corpus twice. This module
is the streaming twin of ``operators.dedup.minhash_lsh_pairs``:

- Each arriving document is minhashed and banded JVM-side (the same
  rolling shingle hashes + banded signature as the batch operator — all
  Column expressions, no Python in the signature path).
- The exploded ``(band, bucket)`` candidate rows flow through one
  ``applyInPandasWithState`` operator KEYED BY (band, bucket): state is
  the bucket's earliest claimant ``(ts_ms, doc_id)``. Every input row is
  emitted with a ``collided`` flag — true iff some earlier arrival
  (previous batch, or earlier ``(ts, doc_id)`` in this batch) already
  claimed the bucket. State for buckets idle past the watermark horizon
  is evicted via ``EventTimeTimeout``, so state is bounded by the
  watermark window's traffic — the operator runs forever.
- All band rows of one document are exploded inside the same micro-batch,
  so the per-document verdict (duplicate iff ANY band collided) is a
  BATCH-LOCAL reduction: ``run_stream_minhash_dedup`` performs it inside
  ``foreachBatch`` and appends kept decisions through the exactly-once
  sink — no second cross-batch stateful operator is needed.

Semantics (documented contract): a document is dropped iff any of its
band-buckets was already claimed by a PRIOR-PROCESSED arrival. Within a
micro-batch, processing order is ``(ts, doc_id)``; across micro-batches
it is batch order — the claim, once made, is final (no retroactive
owner swap: an already-emitted ``kept`` verdict can never be
invalidated, so claims and verdicts stay mutually consistent). The
verdict therefore equals the batch twin ``minhash_dedup_batch`` (global
``(ts, doc_id)`` order) exactly when cross-batch arrival respects event
order — i.e. the source delivers files/offsets in event-time order, the
arrangement the gate and its tests use via range-partitioned input
files. Out-of-order delivery within the watermark keeps the
first-PROCESSED claimant instead of the event-time-earliest; both
members of the near-dup pair are interchangeable duplicates, so the
kept-set size and every downstream count are unaffected. Late data
beyond the watermark may see an evicted bucket and be kept; that is the
standard bounded-state trade every watermarked dedup makes
(``dropDuplicatesWithinWatermark`` included).

100 TB shape: the stateful shuffle moves only ``(band, bucket, doc_id,
ts)`` rows (8-byte bucket keys, no text/signature payload — the id-only
discipline of the batch LSH path); state per bucket is one (long,
string) pair; the foreachBatch reduction is a hash aggregation over the
micro-batch only. Downstream consumers semi-join kept doc_ids against
the document store (or the raw stream) by id.
"""

from __future__ import annotations

import re
from collections.abc import Iterator, Sequence
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType, LongType, StringType, StructField, StructType,
    TimestampType,
)

from ..operators.dedup import minhash_bands, minhash_signatures
from .sink import ExactlyOnceParquetSink, drain_available_now, run_streaming_stats

_UNIT_MS = {
    "millisecond": 1, "second": 1000, "minute": 60_000, "hour": 3_600_000,
    "day": 86_400_000,
}


def duration_to_ms(d: str) -> int:
    m = re.fullmatch(r"\s*(\d+)\s+(\w+?)s?\s*", d)
    if not m or m.group(2).lower() not in _UNIT_MS:
        raise ValueError(f"cannot parse duration {d!r}")
    return int(m.group(1)) * _UNIT_MS[m.group(2).lower()]


def band_buckets(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    ts_col: Optional[str] = None, n: int = 3, num_hashes: int = 32,
    bands: int = 16, seed: int = 1, carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Exploded LSH candidate rows ``(doc_id[, ts], band, bucket)``.

    The banding is ``dedup.minhash_bands``, the batch operators' band
    hash — one narrow row per (doc, band), id-only. ``carry_cols`` ride
    through for consumers that need per-doc metadata past the gate (the
    curation funnel carries ``source``/``n_tok`` — a dozen bytes per band
    row, still no text or signature payload in the stateful shuffle)."""
    docs = documents
    if id_col != "doc_id":
        docs = docs.withColumnRenamed(id_col, "doc_id")
    if ts_col and ts_col != "ts":
        docs = docs.withColumnRenamed(ts_col, "ts")
    keep = ["doc_id"] + (["ts"] if ts_col else []) + list(carry_cols)
    # ts rides THROUGH the signature projection (extra_cols) — no join
    # back to the document table just to re-attach a timestamp
    sig = minhash_signatures(
        docs.select(*keep, text_col), text_col, n, num_hashes, seed,
        extra_cols=keep[1:],
    )
    return minhash_bands(sig, num_hashes, bands, keep)


_DECISION_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("ts", TimestampType()),
    StructField("collided", BooleanType()),
])

_BUCKET_STATE = StructType([
    StructField("owner_ts_ms", LongType()),
    StructField("owner_doc", StringType()),
])


def stream_minhash_decisions(
    stream_docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    ts_col: str = "ts", watermark: str = "1 hour", n: int = 3,
    num_hashes: int = 32, bands: int = 16, seed: int = 1,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-(doc, band) collision decisions as an append stream.

    Output: one row per input (doc, band) with ``collided`` = a
    prior-processed arrival claimed this band's bucket (processing order
    is (ts, doc_id) within a batch, batch order across batches — see the
    module contract). Bucket state evicts ``watermark`` after the
    bucket's latest claim (EventTimeTimeout). ``carry_cols`` (per-doc
    metadata from ``stream_docs``) pass through unchanged, appended after
    the decision columns."""
    ttl_ms = duration_to_ms(watermark)
    carry_cols = list(carry_cols)
    in_fields = {f.name: f for f in stream_docs.schema.fields}
    out_schema = StructType(
        list(_DECISION_SCHEMA.fields)
        + [StructField(c, in_fields[c].dataType) for c in carry_cols]
    )

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        ts_ms = (rows["ts"].astype("int64") // 1_000_000).to_numpy()
        order = sorted(range(len(rows)),
                       key=lambda i: (ts_ms[i], rows["doc_id"].iat[i]))
        owner = tuple(state.get) if state.exists else None
        out_collided = [False] * len(rows)
        for i in order:
            cand = (int(ts_ms[i]), rows["doc_id"].iat[i])
            if owner is None:
                owner = cand
            elif cand != owner:
                # the existing claim is FINAL — no owner swap even when a
                # later batch delivers an event-time-earlier doc, because
                # the old owner's kept verdict was already emitted and
                # cannot be retracted (claims and verdicts must agree).
                # Exact re-delivery of the owner (cand == owner) is
                # idempotently kept, never a collision.
                out_collided[i] = True
        state.update(owner)
        # eviction at (bucket's latest traffic + ttl); Spark requires the
        # timeout to sit beyond the current watermark, which can overtake
        # a bucket fed only by late-but-not-dropped rows
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(int(ts_ms.max()) + ttl_ms, wm + 1))
        out = {
            "doc_id": rows["doc_id"], "ts": rows["ts"],
            "collided": out_collided,
        }
        for c in carry_cols:
            out[c] = rows[c]
        yield pd.DataFrame(out)

    bb = band_buckets(
        stream_docs.withWatermark(ts_col, watermark),
        text_col=text_col, id_col=id_col, ts_col=ts_col,
        n=n, num_hashes=num_hashes, bands=bands, seed=seed,
        carry_cols=carry_cols,
    )
    return bb.groupBy("band", "bucket").applyInPandasWithState(
        update, out_schema, _BUCKET_STATE, "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def run_stream_minhash_dedup(
    stream_docs: DataFrame, sink: ExactlyOnceParquetSink, checkpoint: str,
    text_col: str = "text", id_col: str = "doc_id", ts_col: str = "ts",
    watermark: str = "1 hour", n: int = 3, num_hashes: int = 32,
    bands: int = 16, seed: int = 1,
):
    """Run the full streaming near-dup gate to the end of its available
    input: decisions -> per-doc verdict (batch-local: all bands of a doc
    share its micro-batch) -> kept ``(doc_id, ts)`` rows through the
    exactly-once sink. Returns the drained query."""
    decisions = stream_minhash_decisions(
        stream_docs, text_col, id_col, ts_col, watermark,
        n, num_hashes, bands, seed,
    )

    def emit_kept(batch_df: DataFrame, batch_id: int) -> None:
        kept = (
            batch_df.groupBy("doc_id")
            .agg(F.min("ts").alias("ts"), F.max("collided").alias("dup"))
            .filter(~F.col("dup")).drop("dup")
        )
        sink(kept, batch_id)

    q = run_streaming_stats(
        decisions, emit_kept, checkpoint, lambda df: df,
        output_mode="append", query_name="stream_minhash_dedup",
    )
    return drain_available_now(q, "streaming near-dup gate")


def minhash_dedup_batch(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    ts_col: str = "ts", n: int = 3, num_hashes: int = 32, bands: int = 16,
    seed: int = 1,
) -> DataFrame:
    """Batch twin of the streaming gate (same claims-are-unconditional
    semantics, arrival order = (ts, doc_id), no watermark horizon):
    kept ``(doc_id, ts)`` rows. Plan shape: one hash aggregation for the
    bucket owners + one broadcast-able join back — no pair join at all."""
    bb = band_buckets(documents, text_col, id_col, ts_col,
                      n, num_hashes, bands, seed)
    arr = F.struct(F.col("ts").alias("ts"), F.col("doc_id").alias("doc"))
    # owner per bucket = min (ts, doc_id) struct — one hash aggregation
    owners = bb.groupBy("band", "bucket").agg(F.min(arr).alias("owner"))
    verdict = (
        bb.join(owners, ["band", "bucket"])
        .select("doc_id", "ts", (arr != F.col("owner")).alias("collided"))
        .groupBy("doc_id")
        .agg(F.min("ts").alias("ts"), F.max("collided").alias("dup"))
    )
    return verdict.filter(~F.col("dup")).drop("dup")
