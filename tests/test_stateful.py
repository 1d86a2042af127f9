"""Stateful streaming: cumulative (unwindowed) per-key statistics with
EMIT CHANGES semantics, exact across checkpoint resume — the reference's
unwindowed continuous CTAS (AllUdafIT.java:593-600) — and the
applyInPandasWithState sequence-packing operator."""

import os

import pytest
from pyspark.sql import functions as F

from ksql_udaf_statistics_spark.sources.tables import (
    synthesize_token_table, token_value_streams,
)
from ksql_udaf_statistics_spark.streaming.jobs import stat_columns
from ksql_udaf_statistics_spark.streaming.sink import (
    ExactlyOnceParquetSink, run_streaming_stats,
)

STAT_COLS = ["skewness", "skewness_sample", "kurtosis", "kurtosis_sample",
             "stddev_weighted", "skewness_weighted", "kurtosis_weighted"]


def cumulative_stats(df):
    """Running all-time statistics per source: the sum-Column aggregation,
    whose update-mode state store holds the merge-able accumulator."""
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"), *stat_columns("token_mean", "n_tok")
    )


def run_pass(spark, src_dir, ckpt, sink):
    schema = spark.read.parquet(src_dir).schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    q = run_streaming_stats(stream, sink, ckpt, cumulative_stats, output_mode="update")
    q.awaitTermination(120)


def test_cumulative_state_resume_matches_batch(spark, tmp_dir):
    src = os.path.join(tmp_dir, "src")
    ckpt = os.path.join(tmp_dir, "ckpt")
    sink = ExactlyOnceParquetSink(os.path.join(tmp_dir, "sink"), ["source"])
    a = token_value_streams(synthesize_token_table(spark, 600, seed=5))
    a.coalesce(2).write.mode("append").parquet(src)
    run_pass(spark, src, ckpt, sink)

    # second ingest + resumed pass: state must carry over exactly
    b = token_value_streams(
        synthesize_token_table(spark, 400, seed=6, start_ts="2024-01-01 02:00:00")
    )
    b.coalesce(1).write.mode("append").parquet(src)
    run_pass(spark, src, ckpt, sink)

    got = {r["source"]: r for r in sink.read_current(spark).collect()}
    # batch oracle over ALL data
    want = {r["source"]: r for r in cumulative_stats(spark.read.parquet(src)).collect()}
    # keys touched in pass 2 carry refreshed cumulative values; every other
    # key must already have been emitted in pass 1 — check the union by
    # comparing only keys present in the final memory table of pass 2
    assert set(got) <= set(want)
    touched = {r["source"] for r in b.select("source").distinct().collect()}
    assert touched <= set(got), "all pass-2 keys must re-emit"
    for s, g in got.items():
        w = want[s]
        if s in touched:
            assert g["n_rows"] == w["n_rows"], s
            for c in STAT_COLS:
                assert g[c] == pytest.approx(w[c], abs=1e-6), (s, c)


def test_streaming_sequence_packing_matches_batch(spark, tmp_dir):
    """r5 online packing: the streaming placement (cumulative per-source
    token offsets across micro-batches) equals the batch prefix-sum twin
    on the drained corpus."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from ksql_udaf_statistics_spark.functions.token_ops import sequence_packing
    from ksql_udaf_statistics_spark.streaming.stateful import (
        streaming_sequence_packing,
    )

    rows1 = [("d01", "s1", 100, "2024-01-01 00:00:00"),
             ("d02", "s2", 300, "2024-01-01 00:01:00"),
             ("d03", "s1", 450, "2024-01-01 00:02:00")]
    rows2 = [("d04", "s1", 512, "2024-01-01 00:03:00"),
             ("d05", "s2", 700, "2024-01-01 00:04:00"),
             ("d06", "s1", 5, "2024-01-01 00:05:00")]
    schema = "doc_id string, source string, n_tok int, ts string"
    src = os.path.join(tmp_dir, "src")
    os.makedirs(src)
    for i, rows in enumerate([rows1, rows2]):
        staged = os.path.join(tmp_dir, f"st{i}")
        spark.createDataFrame(rows, schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).coalesce(1).write.parquet(staged)
        shutil.copy(glob.glob(os.path.join(staged, "part-*.parquet"))[0],
                    os.path.join(src, f"{i}.parquet"))

    stream = (
        spark.readStream.schema("doc_id string, source string, n_tok int, ts timestamp")
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    out_dir = os.path.join(tmp_dir, "out")
    q = (
        streaming_sequence_packing(stream, seq_len=512)
        .writeStream.format("parquet").option("path", out_dir)
        .option("checkpointLocation", os.path.join(tmp_dir, "ckpt"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {(r["doc_id"], r["start_tok"], r["first_seq"], r["last_seq"])
           for r in spark.read.parquet(out_dir).collect()}

    batch = spark.createDataFrame(rows1 + rows2, schema)
    twin = sequence_packing(
        batch.select("source", "doc_id", "n_tok"), seq_len=512
    )
    want = {(r["doc_id"], r["start_tok"], r["first_seq"], r["last_seq"])
            for r in twin.collect()}
    assert got == want
    # spot-check the arithmetic: s1 sees 100, 450, 512, 5 in order
    by_id = {t[0]: t for t in got}
    assert by_id["d01"] == ("d01", 0, 0, 0)
    assert by_id["d03"] == ("d03", 100, 0, 1)      # 100..549 spans chunk 0->1
    assert by_id["d04"] == ("d04", 550, 1, 2)      # 550..1061
    assert by_id["d06"] == ("d06", 1062, 2, 2)
