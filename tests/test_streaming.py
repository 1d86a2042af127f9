"""Streaming integration tests — the pytest analogue of AllUdafIT.java:
stream in, continuous windowed aggregation, materialized exactly-once sink,
verified against an independent batch computation (the role of the IT's
Java oracles, AllUdafIT.java:747-905), plus watermark late-data, checkpoint
resume, and replay idempotence per north_rule.
"""

import math
import os

import pytest
from pyspark.sql import functions as F

from ksql_udaf_statistics_spark.sources.tables import (
    TOKEN_SCHEMA,
    synthesize_token_table,
    token_value_streams,
)
from ksql_udaf_statistics_spark.streaming.jobs import stat_columns, windowed_stats
from ksql_udaf_statistics_spark.streaming.join import interval_join
from ksql_udaf_statistics_spark.streaming.sink import (
    ExactlyOnceParquetSink,
    run_streaming_stats,
)

N_DOCS = 2000


@pytest.fixture(scope="module")
def token_df(spark):
    return synthesize_token_table(spark, N_DOCS, seed=42, duration_seconds=3600).cache()


def rows_to_map(rows, keys=("window_start", "source")):
    return {tuple(str(r[k]) for k in keys): r for r in rows}


def assert_stats_equal(got_rows, want_rows, cols, tol=1e-9):
    got, want = rows_to_map(got_rows), rows_to_map(want_rows)
    assert got.keys() == want.keys()
    for k, wr in want.items():
        gr = got[k]
        for c in cols:
            g, w = gr[c], wr[c]
            if w is not None and isinstance(w, float) and math.isnan(w):
                assert math.isnan(g), (k, c, g)
            else:
                assert g == pytest.approx(w, abs=tol), (k, c, g, w)


STAT_COLS = [
    "n_rows", "skewness", "skewness_sample", "kurtosis", "kurtosis_sample",
    "stddev_weighted", "skewness_weighted", "kurtosis_weighted",
]


def test_synthesis_is_deterministic_across_parallelism(spark):
    """Per-row token-array equality at different partition counts — the
    bitwise invariant from input_hint."""
    a = synthesize_token_table(spark, 500, seed=7, partitions=2).orderBy("doc_id").collect()
    b = synthesize_token_table(spark, 500, seed=7, partitions=16).orderBy("doc_id").collect()
    assert len(a) == len(b) == 500
    for ra, rb in zip(a, b):
        assert ra["doc_id"] == rb["doc_id"]
        assert ra["tokens"] == rb["tokens"]  # exact int equality
        assert ra["n_tok"] == len(ra["tokens"])
        assert ra["source"] == rb["source"] and ra["ts"] == rb["ts"]


def test_source_distribution_is_skewed(token_df):
    counts = {r["source"]: r["n"] for r in token_df.groupBy("source").agg(F.count("*").alias("n")).collect()}
    top = max(counts.values())
    assert top / N_DOCS > 0.2  # heavy head: one hot key


def _rows_per_batch(sink, spark):
    """{batch_id: rows} as found in an ExactlyOnceParquetSink's data."""
    counts = sink.read_all(spark).groupBy("batch_id").count().collect()
    return {r["batch_id"]: r["count"] for r in counts}


def test_stream_matches_batch_oracle(spark, token_df, tmp_dir):
    """Tumbling-window stats: streaming (availableNow, foreachBatch EOS
    sink) == batch computation on the same data."""
    src_dir = os.path.join(tmp_dir, "src")
    token_df.repartition(8).write.parquet(src_dir)

    stream = (
        spark.readStream.schema(TOKEN_SCHEMA)
        .option("maxFilesPerTrigger", 3)
        .parquet(src_dir)
    )
    # watermark > total event-time span: files arrive in arbitrary time
    # order here, so a tighter watermark would (correctly) drop stragglers;
    # the late-data path is exercised in test_checkpoint_resume_and_late_data.
    transform = lambda df: windowed_stats(
        token_value_streams(df), value="token_mean", weight="n_tok",
        window_size="10 minutes", watermark="2 hours",
    )
    sink = ExactlyOnceParquetSink(
        os.path.join(tmp_dir, "sink"), key_cols=["window_start", "source"]
    )
    q = run_streaming_stats(stream, sink, os.path.join(tmp_dir, "ckpt"), transform)
    q.awaitTermination(120)

    got = sink.read_current(spark).collect()
    want = transform(spark.read.parquet(src_dir)).collect()
    assert_stats_equal(got, want, STAT_COLS, tol=1e-6)
    # every committed batch's ledger entry counts exactly the rows that
    # batch wrote (a batch that wrote nothing has no partition directory)
    ledger = sink.committed_batches()
    assert ledger
    assert _rows_per_batch(sink, spark) == {
        e["batch_id"]: e["rows"] for e in ledger if e["rows"]
    }


def test_replay_same_batch_is_idempotent(spark, token_df, tmp_dir):
    sink = ExactlyOnceParquetSink(os.path.join(tmp_dir, "sink"), ["source"])
    agg = token_value_streams(token_df).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"), *stat_columns("token_mean", "n_tok")
    )
    sink(agg, 7)
    before = sorted(map(str, sink.read_current(spark).collect()))
    sink(agg, 7)  # crash-replay of the same micro-batch
    after = sorted(map(str, sink.read_current(spark).collect()))
    assert before == after


def test_checkpoint_resume_and_late_data(spark, tmp_dir):
    """Two availableNow passes over a growing directory with one shared
    checkpoint: (a) resume picks up only new files; (b) rows behind the
    watermark are dropped; (c) final sink == uninterrupted batch oracle on
    the non-late rows."""
    src_dir = os.path.join(tmp_dir, "src")
    os.makedirs(src_dir)
    base = synthesize_token_table(spark, 1000, seed=1, duration_seconds=3600)
    on_time = token_value_streams(base)
    on_time.coalesce(2).write.mode("append").parquet(src_dir)

    transform = lambda df: windowed_stats(
        df, value="token_mean", weight="n_tok",
        window_size="10 minutes", watermark="5 minutes",
    )
    sink = ExactlyOnceParquetSink(
        os.path.join(tmp_dir, "sink"), key_cols=["window_start", "source"]
    )
    ckpt = os.path.join(tmp_dir, "ckpt")

    # pass 1: drain the on-time data, advancing the watermark to ~59:55
    s1 = spark.readStream.schema(on_time.schema).parquet(src_dir)
    q1 = run_streaming_stats(s1, sink, ckpt, transform)
    q1.awaitTermination(120)

    # pass 2: append one very-late row (ts ~ 00:05) and one fresh row
    late_fresh = (
        spark.createDataFrame(
            [
                ("late-1", [1, 2], 2, "src0", "2024-01-01 00:05:00", 1.5),
                ("fresh-1", [3, 4], 2, "src0", "2024-01-01 01:10:00", 3.5),
            ],
            "doc_id string, tokens array<int>, n_tok int, source string, ts string, token_mean double",
        )
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select(*on_time.columns)
    )
    late_fresh.coalesce(1).write.mode("append").parquet(src_dir)
    s2 = spark.readStream.schema(on_time.schema).parquet(src_dir)
    q2 = run_streaming_stats(s2, sink, ckpt, transform)
    q2.awaitTermination(120)

    got = sink.read_current(spark).collect()
    oracle_input = spark.read.parquet(src_dir).filter(F.col("doc_id") != "late-1")
    want = transform(oracle_input).collect()
    assert_stats_equal(got, want, STAT_COLS, tol=1e-6)
    fresh_win = [r for r in got if str(r["window_start"]).startswith("2024-01-01 01:10")]
    assert fresh_win, "resumed pass must have processed the fresh row"


def test_session_window_stats(spark):
    # two sessions for src0 (gap > 5 min splits), one for src1
    rows = [
        ("a", "src0", "2024-01-01 00:00:00", 1.0),
        ("b", "src0", "2024-01-01 00:02:00", 2.0),
        ("c", "src0", "2024-01-01 00:20:00", 3.0),
        ("d", "src1", "2024-01-01 00:00:00", 4.0),
    ]
    df = (
        spark.createDataFrame(rows, "doc_id string, source string, ts string, v double")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = windowed_stats(df, value="v", session_gap="5 minutes").collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    assert len(by_src["src0"]) == 2 and len(by_src["src1"]) == 1
    sizes = sorted(r["n_rows"] for r in by_src["src0"])
    assert sizes == [1, 2]


def test_interval_join_stream_matches_batch(spark, token_df, tmp_dir):
    """Watermarked stream-stream join == the same join run in batch."""
    left_dir, right_dir = os.path.join(tmp_dir, "l"), os.path.join(tmp_dir, "r")
    left = token_value_streams(token_df).select("doc_id", "source", "ts", "token_mean")
    right = (
        token_df.groupBy("source")
        .agg(F.min("ts").alias("r_ts"))
        .withColumn("threshold", F.lit(100.0))
    )
    left.write.parquet(left_dir)
    right.write.parquet(right_dir)

    ls = spark.readStream.schema(left.schema).parquet(left_dir)
    rs = spark.readStream.schema(right.schema).parquet(right_dir)
    joined = interval_join(
        ls, rs, on="source", lower="0 minutes", upper="60 minutes",
        watermark_left="2 hours", watermark_right="2 hours",
    )
    sink_dir = os.path.join(tmp_dir, "joined")
    q = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", os.path.join(tmp_dir, "jckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(str(r) for r in spark.read.parquet(sink_dir).collect())
    want_df = interval_join(
        spark.read.parquet(left_dir), spark.read.parquet(right_dir),
        on="source", lower="0 minutes", upper="60 minutes",
    )
    want = sorted(str(r) for r in want_df.collect())
    assert got == want and len(got) > 0


def test_token_value_windowed_stats_matches_pandas(spark):
    from ksql_udaf_statistics_spark.streaming.jobs import token_value_windowed_stats

    df = synthesize_token_table(spark, 400, seed=9, duration_seconds=1200).cache()
    got = {
        (str(r["window_start"]), r["source"]): r
        for r in token_value_windowed_stats(df, window_size="5 minutes").collect()
    }
    pdf = df.toPandas()
    import numpy as np
    import pandas as pd

    pdf["window_start"] = pdf["ts"].dt.floor("5min")
    for (w, src), grp in pdf.groupby(["window_start", "source"]):
        key = (str(w), src)
        r = got[key]
        toks = np.concatenate([np.asarray(t, dtype=float) for t in grp["tokens"]])
        assert r["n_docs"] == len(grp)
        assert r["n_tokens"] == len(toks)
        mean = toks.mean(); var = toks.var()
        if var > 0:
            m3 = (toks**3).mean() - 3*mean*(toks**2).mean() + 2*mean**3
            m4 = ((toks**4).mean() - 4*mean*(toks**3).mean()
                  + 6*mean*mean*(toks**2).mean() - 3*mean**4)
            assert r["skewness_token"] == pytest.approx(m3 / var**1.5, rel=1e-6, abs=1e-6)
            assert r["kurtosis_token"] == pytest.approx(m4 / var**2, rel=1e-6, abs=1e-6)
        nt = grp["n_tok"].to_numpy(dtype=float)
        assert r["mean_n_tok"] == pytest.approx(nt.mean(), rel=1e-6)
        assert r["stddev_n_tok"] == pytest.approx(nt.std(), rel=1e-6, abs=1e-4)
        if nt.std() > 0:
            m3n = (nt**3).mean() - 3*nt.mean()*(nt**2).mean() + 2*nt.mean()**3
            assert r["skewness_n_tok"] == pytest.approx(m3n / nt.var()**1.5, rel=1e-6, abs=1e-6)


@pytest.mark.parametrize("n_tok, n_docs", [(3, 11), (7, 11), (33, 11), (37, 1000)])
def test_token_value_windowed_constant_n_tok_is_zero_variance(spark, n_tok, n_docs):
    """A window whose docs all have the same n_tok has zero n_tok
    variance, however many tokens it holds: the n_tok stddev and
    skewness are exactly 0.0. (Summing rounded 1/n_tok·n_tokᵏ products
    left ~1e-12·m2 of noise at 1000 docs.)"""
    from ksql_udaf_statistics_spark.streaming.jobs import token_value_windowed_stats

    rows = [(f"d{i}", [i + k for k in range(n_tok)], n_tok, "s0",
             f"2024-01-01 00:0{i % 5}:00") for i in range(n_docs)]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>, n_tok int, "
                                     "source string, ts string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    (r,) = token_value_windowed_stats(df, window_size="5 minutes").collect()
    assert r["n_docs"] == n_docs and r["n_tokens"] == n_docs * n_tok
    assert r["mean_n_tok"] == pytest.approx(n_tok, rel=1e-12)
    assert r["stddev_n_tok"] == 0.0
    assert r["skewness_n_tok"] == 0.0


def test_sliding_window_stream_matches_batch(spark, token_df, tmp_dir):
    """Sliding windows through the streaming path == batch on same data."""
    src_dir = os.path.join(tmp_dir, "src")
    token_value_streams(token_df).repartition(4).write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    transform = lambda df: windowed_stats(
        df, value="token_mean", weight="n_tok",
        window_size="10 minutes", slide="5 minutes", watermark="2 hours",
    )
    sink = ExactlyOnceParquetSink(
        os.path.join(tmp_dir, "sink"), key_cols=["window_start", "source"]
    )
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(src_dir)
    q = run_streaming_stats(stream, sink, os.path.join(tmp_dir, "ckpt"), transform)
    q.awaitTermination(120)
    got = sink.read_current(spark).collect()
    want = transform(spark.read.parquet(src_dir)).collect()
    assert_stats_equal(got, want, STAT_COLS, tol=1e-6)
    # every row belongs to exactly 2 sliding windows
    assert sum(r["n_rows"] for r in got) == 2 * N_DOCS


def test_session_window_stream(spark, tmp_dir):
    """Session windows through the streaming path (append mode +
    watermark): final sessions == batch sessionization on same data."""
    rows = [
        ("a", "src0", "2024-01-01 00:00:00", 1.0),
        ("b", "src0", "2024-01-01 00:02:00", 2.0),
        ("c", "src0", "2024-01-01 00:20:00", 3.0),
        ("d", "src1", "2024-01-01 00:01:00", 4.0),
        ("e", "src1", "2024-01-01 03:00:00", 5.0),  # watermark pusher
    ]
    df = (
        spark.createDataFrame(rows, "doc_id string, source string, ts string, v double")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    src_dir = os.path.join(tmp_dir, "src")
    df.coalesce(1).write.parquet(src_dir)
    stream = spark.readStream.schema(df.schema).parquet(src_dir)
    agg = windowed_stats(
        stream, value="v", session_gap="5 minutes", watermark="10 minutes"
    )
    out_dir = os.path.join(tmp_dir, "out")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet").option("path", out_dir)
        .option("checkpointLocation", os.path.join(tmp_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["source"]): r["n_rows"]
        for r in spark.read.parquet(out_dir).collect()
    }
    # sessions fully before the final watermark (03:00 - 10min) are emitted
    want = {
        ("2024-01-01 00:00:00", "src0"): 2,
        ("2024-01-01 00:20:00", "src0"): 1,
        ("2024-01-01 00:01:00", "src1"): 1,
    }
    assert got == want


def test_kafka_json_source_parity(spark, tmp_dir):
    """The reference's only source is a Kafka JSON stream with a declared
    schema (AllUdafIT.java:557-583, README.md:142-143). Exercise the same
    contract end-to-end: binary `value` payloads -> cast to string ->
    from_json with the DECLARED schema -> windowed stats -> JSON output
    with the NaN->null boundary (AllUdafIT.java:675-680). A Kafka broker is
    substituted by a file stream carrying identical (key, value) wire rows;
    swapping in `readStream.format("kafka")` changes only the reader line.
    """
    import json as _json

    from pyspark.sql.types import (
        DoubleType, StringType, StructField, StructType, TimestampType,
    )

    declared = StructType([
        StructField("val", DoubleType()),          # CREATE STREAM input (val DOUBLE, weight DOUBLE)
        StructField("weight", DoubleType()),
        StructField("source", StringType()),
        StructField("ts", TimestampType()),
    ])
    rows = []
    for i in range(40):
        rows.append(_json.dumps({
            "val": float(i % 7) + 0.5, "weight": 1.0 + (i % 3),
            "source": f"s{i % 2}", "ts": f"2024-01-01 00:{i % 50:02d}:00",
        }))
    rows.append(_json.dumps({"val": None, "weight": 1.0, "source": "s0",
                             "ts": "2024-01-01 00:01:00"}))  # JSON null value
    rows.append(_json.dumps({"val": 9.0, "weight": 1.0, "source": "s0",
                             "ts": "2024-01-01 05:00:00"}))  # lone row: n<3 -> NaN sample stats
    rows.append("{not valid json")                            # malformed record
    src_dir = os.path.join(tmp_dir, "wire")
    os.makedirs(src_dir)
    with open(os.path.join(src_dir, "part-0.txt"), "w") as f:
        f.write("\n".join(rows))

    raw = (
        spark.readStream.format("text").load(src_dir)
        # mirror the Kafka wire: value is bytes
        .select(F.col("value").cast("binary").alias("value"))
    )
    decoded = (
        raw.select(F.from_json(F.col("value").cast("string"), declared).alias("r"))
        .select("r.*")
        .filter(F.col("r.ts").isNotNull())  # malformed rows decode to null struct
    )
    transform = lambda df: windowed_stats(
        df, value="val", weight="weight", keys=("source",),
        window_size="30 minutes", watermark="2 hours",
    )
    sink = ExactlyOnceParquetSink(
        os.path.join(tmp_dir, "sink"), key_cols=["window_start", "source"]
    )
    q = run_streaming_stats(decoded, sink, os.path.join(tmp_dir, "ckpt"),
                            transform)
    q.awaitTermination(120)
    out = sink.read_current(spark)

    # (a) declared-schema contract survived the decode + aggregate
    got_types = dict(out.dtypes)
    for c in STAT_COLS[1:]:
        assert got_types[c] == "double", (c, got_types[c])
    assert got_types["source"] == "string"

    # (b) batch equivalence on the same wire data through the same decode
    batch = (
        spark.read.format("text").load(src_dir)
        .select(F.from_json(F.col("value").cast("string"), declared).alias("r"))
        .select("r.*").filter(F.col("r.ts").isNotNull())
    )
    assert_stats_equal(out.collect(), transform(batch).collect(), STAT_COLS,
                       tol=1e-9)

    # (c) NaN -> null at the JSON sink boundary (ksqlDB serializes NaN as
    # JSON null; the IT converts back for asserts, AllUdafIT.java:675-680)
    nan_safe = out.select(
        "window_start", "source",
        *[
            F.when(F.isnan(F.col(c)), F.lit(None).cast("double"))
            .otherwise(F.col(c)).alias(c)
            for c in STAT_COLS[1:]
        ],
    )
    js = nan_safe.select(F.to_json(F.struct("*")).alias("j")).collect()
    assert js and all("NaN" not in r["j"] for r in js)
    # a single-element window makes sample stats NaN -> serialized as absent/null
    single = [r["j"] for r in js]
    assert any('"skewness_sample"' not in j or '"skewness_sample":null' in j
               for j in single)


def test_sink_upserts_by_key(spark, tmp_dir):
    """read_current serves exactly one row per key: overlapping keys
    across batches take the newest batch's value, and a crash-replay of a
    batch leaves one row per key."""
    sink = ExactlyOnceParquetSink(os.path.join(tmp_dir, "t"), ["k"])
    b0 = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, v double")
    b1 = spark.createDataFrame([("b", 20.0), ("c", 3.0)], "k string, v double")

    sink(b0, 0)
    assert {(r["k"], r["v"]) for r in sink.read_current(spark).collect()} == \
        {("a", 1.0), ("b", 2.0)}
    sink(b1, 1)
    want = {("a", 1.0), ("b", 20.0), ("c", 3.0)}
    assert {(r["k"], r["v"]) for r in sink.read_current(spark).collect()} == want
    sink(b1, 1)  # crash-replay of the last batch
    got = [(r["k"], r["v"]) for r in sink.read_current(spark).collect()]
    assert set(got) == want and len(got) == 3  # exactly one row per key
    ledger = sink.committed_batches()
    assert [(e["batch_id"], e["rows"]) for e in ledger] == [(0, 2), (1, 2)]


def test_dedup_stream_within_watermark(spark, tmp_dir):
    """Streaming exact dedup: re-delivered keys within the watermark are
    dropped exactly once, across micro-batch boundaries, with bounded
    state (dropDuplicatesWithinWatermark)."""
    from ksql_udaf_statistics_spark.streaming.jobs import dedup_stream

    import glob as _glob
    import shutil as _shutil

    src = os.path.join(tmp_dir, "src")
    os.makedirs(src)
    rows1 = [("a", "2024-01-01 00:00:00", 1), ("b", "2024-01-01 00:01:00", 2),
             ("a", "2024-01-01 00:02:00", 3)]          # dup within batch
    rows2 = [("b", "2024-01-01 00:03:00", 4),           # dup across batches
             ("c", "2024-01-01 00:04:00", 5)]
    schema = "k string, ts string, seq int"
    for i, rows in enumerate([rows1, rows2]):
        staged = os.path.join(tmp_dir, f"stage{i}")
        spark.createDataFrame(rows, schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).coalesce(1).write.parquet(staged)
        # the file stream source wants flat files, not nested datasets
        part = _glob.glob(os.path.join(staged, "part-*.parquet"))[0]
        _shutil.copy(part, os.path.join(src, f"{i}.parquet"))

    stream = (
        spark.readStream.schema("k string, ts timestamp, seq int")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_dir = os.path.join(tmp_dir, "out")
    q = (
        dedup_stream(stream, ["k"], ts_col="ts", watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(tmp_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["k"] for r in spark.read.parquet(out_dir).collect()}
    assert got == {"a", "b", "c"}
    n = spark.read.parquet(out_dir).count()
    assert n == 3  # exactly one row per key survived

    # batch twin degrades to plain dropDuplicates
    batch = spark.createDataFrame(rows1 + rows2, schema)
    assert dedup_stream(batch, ["k"]).count() == 3


def test_kafka_reader_plan_contract(spark):
    """Pin the real Kafka reader contract (reference AllUdafIT.java:557-583:
    CREATE STREAM over a JSON topic) as far as this sandbox allows: build
    the `readStream.format("kafka")` + from_json plan and assert the
    analyzed schema. Analysis needs no broker — only the connector jar; the
    test skips if the jar is absent (this container ships none). The
    production swap is exactly this reader in front of the same decode
    chain the file-backed stand-in uses (frontend/ksql.py::_stream_df)."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType(
        [StructField("val", DoubleType()), StructField("weight", DoubleType())]
    )
    try:
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", "localhost:9092")
            .option("subscribe", "input_values")
            .load()
        )
    except Exception as e:  # DATA_SOURCE_NOT_FOUND without the connector jar
        pytest.skip(f"kafka connector unavailable in this sandbox: {e}")
    decoded = raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("r")
    ).select("r.*")
    assert decoded.isStreaming
    assert [f.name for f in decoded.schema.fields] == ["val", "weight"]
    assert all(isinstance(f.dataType, DoubleType) for f in decoded.schema.fields)


def test_rocksdb_state_store_provider(spark, token_df, tmp_dir):
    """The same stateful windowed aggregation on Spark's RocksDB state
    store provider — the backend a production deployment uses for large
    state (HDFS-backed heap state is the default here only because test
    state is tiny). Streaming results must equal the batch computation,
    provider-independently. Skips if the RocksDB jni jar is absent."""
    import pytest

    src_dir = os.path.join(tmp_dir, "src")
    token_df.repartition(4).write.parquet(src_dir)
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema(TOKEN_SCHEMA)
            .option("maxFilesPerTrigger", 2)
            .parquet(src_dir)
        )
        transform = lambda df: windowed_stats(
            token_value_streams(df), value="token_mean", weight="n_tok",
            window_size="10 minutes", watermark="2 hours",
        )
        sink = ExactlyOnceParquetSink(
            os.path.join(tmp_dir, "sink_rocks"), key_cols=["window_start", "source"]
        )
        try:
            q = run_streaming_stats(
                stream, sink, os.path.join(tmp_dir, "ckpt_rocks"), transform
            )
            q.awaitTermination(120)
        except Exception as e:  # pragma: no cover - environment-dependent
            pytest.skip(f"RocksDB state store unavailable: {e}")
        got = sink.read_current(spark).collect()
        want = transform(spark.read.parquet(src_dir)).collect()
        assert_stats_equal(got, want, STAT_COLS, tol=1e-6)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_sink_serves_only_committed_batches(spark, tmp_dir):
    """A batch directory written without a ledger commit (crash between
    data-write and ledger-commit) must be invisible to both read paths;
    an empty ledger yields an empty table, never uncommitted data."""
    import os

    from pyspark.sql import functions as F

    from ksql_udaf_statistics_spark.streaming.sink import ExactlyOnceParquetSink

    sink = ExactlyOnceParquetSink(os.path.join(tmp_dir, "t"), key_cols=["k"])
    # simulate a crashed batch: data files exist, no ledger entry
    (
        spark.range(3).select(F.col("id").alias("k"), F.lit(1).alias("v"))
        .withColumn("batch_id", F.lit(7))
        .write.partitionBy("batch_id")
        .parquet(os.path.join(tmp_dir, "t", "data"))
    )
    assert sink.read_latest_batch(spark).count() == 0
    assert sink.read_current(spark).count() == 0
    # commit batch 8 properly through the sink: only it is served
    batch = spark.range(2).select(F.col("id").alias("k"), F.lit(2).alias("v"))
    sink(batch, 8)
    assert sink.read_latest_batch(spark).count() == 2
    cur = sink.read_current(spark)
    assert cur.count() == 2
    assert {r["v"] for r in cur.collect()} == {2}


@pytest.mark.parametrize("sink_cls", ["ExactlyOnceParquetSink"])
def test_torn_ledger_write_is_never_committed(spark, tmp_dir, monkeypatch, sink_cls):
    """A crash partway through a ledger write leaves no torn entry: the
    ledger still lists the earlier batches, and the replayed batch then
    commits cleanly."""
    import json
    from types import SimpleNamespace

    from ksql_udaf_statistics_spark.streaming import sink as sink_mod

    sink = getattr(sink_mod, sink_cls)(os.path.join(tmp_dir, "t"), ["k"])

    def batch(v):
        return spark.range(3).select(F.col("id").alias("k"), F.lit(v).alias("v"))

    sink(batch(1), 0)

    def torn_dump(obj, f):
        f.write(json.dumps(obj)[:10])
        raise OSError("crash mid ledger write")

    monkeypatch.setattr(sink_mod, "json", SimpleNamespace(dump=torn_dump, load=json.load))
    with pytest.raises(OSError, match="crash mid ledger write"):
        sink(batch(2), 1)
    monkeypatch.undo()

    assert [e["batch_id"] for e in sink.committed_batches()] == [0]
    sink(batch(2), 1)  # replay after the crash
    assert [e["batch_id"] for e in sink.committed_batches()] == [0, 1]
    assert {(r["k"], r["v"]) for r in sink.read_current(spark).collect()} == {
        (0, 2), (1, 2), (2, 2)
    }


def test_exactly_once_sink_runs_one_spark_job_per_batch(spark, tmp_dir):
    """The sink's write is the batch's only action: the ledger's row count
    rides on it, so committing a batch launches exactly one Spark job."""
    sink = ExactlyOnceParquetSink(os.path.join(tmp_dir, "t"), ["k"])
    batch = spark.range(50).select((F.col("id") % 7).alias("k"), F.col("id").alias("v"))
    sc = spark.sparkContext
    sc.setJobGroup("sink_one_action", "exactly-once sink write")
    try:
        sink(batch, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job records reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("sink_one_action")) == 1
    assert [e["rows"] for e in sink.committed_batches()] == [50]


@pytest.mark.parametrize("sink_cls", ["ExactlyOnceParquetSink"])
def test_ledger_rows_are_rows_written(spark, tmp_dir, sink_cls):
    """Each ledger entry's ``rows`` is the rows its batch wrote, an empty
    batch included."""
    from ksql_udaf_statistics_spark.streaming import sink as sink_mod

    sink = getattr(sink_mod, sink_cls)(os.path.join(tmp_dir, "t"), ["k"])
    schema = "k long, v long"
    sink(spark.createDataFrame([], schema), 0)
    sink(spark.createDataFrame([(1, 1), (2, 1), (3, 1)], schema), 1)
    sink(spark.createDataFrame([(3, 2), (4, 2)], schema), 2)
    rows = {e["batch_id"]: e["rows"] for e in sink.committed_batches()}
    assert set(sink.committed_batches()[0]) == {"batch_id", "rows", "wall_time"}
    assert rows == {0: 0, 1: 3, 2: 2}
    assert _rows_per_batch(sink, spark) == {1: 3, 2: 2}


def test_drain_stops_and_raises_after_timeout(spark, tmp_dir, monkeypatch):
    """A bounded drain that outlives the drain timeout is stopped and
    raises, so no caller reads a partially drained table."""
    import time

    from ksql_udaf_statistics_spark.streaming import sink as sink_mod

    src = os.path.join(tmp_dir, "src")
    spark.range(3).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    q = run_streaming_stats(
        stream, lambda df, batch_id: time.sleep(5), os.path.join(tmp_dir, "ckpt"),
        lambda df: df, output_mode="append",
    )
    monkeypatch.setattr(sink_mod, "DRAIN_TIMEOUT_S", 0.5)
    with pytest.raises(RuntimeError, match="slow job did not drain within 0.5s"):
        sink_mod.drain_available_now(q, "slow job")
    assert not q.isActive


def test_catch_up_stops_and_raises_after_timeout(spark, tmp_dir, monkeypatch):
    """A persistent query that does not catch up within the drain timeout
    is stopped and raises, so no pull serves a table that is behind."""
    import time

    from ksql_udaf_statistics_spark.streaming import sink as sink_mod

    src = os.path.join(tmp_dir, "src")
    spark.range(3).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    q = run_streaming_stats(
        stream, lambda df, batch_id: time.sleep(5), os.path.join(tmp_dir, "ckpt"),
        lambda df: df, output_mode="append", processing_time="100 milliseconds",
    )
    monkeypatch.setattr(sink_mod, "DRAIN_TIMEOUT_S", 0.5)
    with pytest.raises(RuntimeError, match="slow query did not catch up within 0.5s"):
        sink_mod.await_caught_up(q, "slow query")
    assert not q.isActive
