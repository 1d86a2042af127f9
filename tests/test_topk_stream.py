"""Streaming token heavy hitters (streaming/topk.py).

Hash parity of the drained stream against the batch oracle is covered by
the oracle harness (gate entry ``token_topk_stream`` shares
``token_topk_per_source``'s SQL). Here: cross-batch count accumulation
through the update-mode aggregation state, and checkpoint resume.
"""

import glob
import os
import shutil

from ksql_udaf_statistics_spark.streaming.sink import ExactlyOnceParquetSink
from ksql_udaf_statistics_spark.streaming.topk import (
    length_buckets_agg,
    read_topk,
    run_continuous_aggregate,
    token_counts_agg,
)

SCHEMA = "text string, source string"


def _stage(spark, tmp_dir, src, batches):
    os.makedirs(src, exist_ok=True)
    for i, rows in enumerate(batches):
        staged = os.path.join(tmp_dir, f"stage{i}")
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(staged)
        part = glob.glob(os.path.join(staged, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(src, f"{i:02d}.parquet"))
        shutil.rmtree(staged)


def _run(spark, tmp_dir, src, tag=""):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = ExactlyOnceParquetSink(
        os.path.join(tmp_dir, f"counts{tag}"), key_cols=["source", "tok"]
    )
    run_continuous_aggregate(
        token_counts_agg(stream), sink, os.path.join(tmp_dir, f"ckpt{tag}")
    )
    return sink


def test_counts_accumulate_across_batches(spark, tmp_dir):
    # token 2 ("aa"/"bb") appears in BOTH micro-batches for src1: the
    # update-mode state must carry batch-1 counts into batch 2's totals
    b1 = [("aa aa bbb", "src1"), ("cccc", "src2")]
    b2 = [("bb dddd", "src1"), ("cccc cccc", "src2")]
    src = os.path.join(tmp_dir, "src")
    _stage(spark, tmp_dir, src, [b1, b2])
    sink = _run(spark, tmp_dir, src)
    counts = {
        (r["source"], r["tok"]): r["n"]
        for r in sink.read_current(spark).collect()
    }
    assert counts[("src1", 2)] == 3  # aa, aa (batch 1) + bb (batch 2)
    assert counts[("src1", 3)] == 1
    assert counts[("src1", 4)] == 1
    assert counts[("src2", 4)] == 3  # cccc once + twice
    top = {
        (r["source"], r["rnk"]): (r["tok"], r["n"])
        for r in read_topk(spark, sink, k=2).collect()
    }
    assert top[("src1", 1)] == (2, 3)
    # ties (n=1) break by tok ASC: tok 3 before tok 4
    assert top[("src1", 2)] == (3, 1)


def test_length_buckets_accumulate_across_batches(spark, tmp_dir):
    # "aa bb" (2 tokens -> bucket 2) in both batches; "a b c d e" (5 ->
    # bucket 4) once: cross-batch totals must merge per (source, bucket)
    b1 = [("aa bb", "src1"), ("a b c d e", "src1")]
    b2 = [("cc dd", "src1")]
    src = os.path.join(tmp_dir, "srclb")
    _stage(spark, tmp_dir, src, [b1, b2])
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = ExactlyOnceParquetSink(
        os.path.join(tmp_dir, "hist"), key_cols=["source", "bucket_lo"]
    )
    run_continuous_aggregate(
        length_buckets_agg(stream), sink, os.path.join(tmp_dir, "ckptlb")
    )
    rows = {
        (r["source"], r["bucket_lo"]): (r["n_docs"], r["total_tokens"],
                                        r["padding_waste"])
        for r in sink.read_current(spark).collect()
    }
    # bucket 2 (len in [2,4), padded to 3): two docs of 2 tokens
    assert rows[("src1", 2)] == (2, 4, 2)
    # bucket 4 (len in [4,8), padded to 7): one doc of 5 tokens
    assert rows[("src1", 4)] == (1, 5, 2)


def test_checkpoint_resume_continues_totals(spark, tmp_dir):
    b1 = [("aa aa", "src1")]
    b2 = [("aa bbb", "src1")]

    # one-shot reference
    src_full = os.path.join(tmp_dir, "src_full")
    _stage(spark, tmp_dir, src_full, [b1, b2])
    ref = sorted(
        map(tuple, _run(spark, tmp_dir, src_full, "_full")
            .read_current(spark).collect())
    )

    # interrupted: drain batch 1, then resume with batch 2 present
    src = os.path.join(tmp_dir, "src")
    _stage(spark, tmp_dir, src, [b1])
    _run(spark, tmp_dir, src)
    _stage(spark, tmp_dir, src, [b1, b2])
    got = sorted(
        map(tuple, _run(spark, tmp_dir, src).read_current(spark).collect())
    )
    assert got == ref
    assert dict(((s, t), n) for s, t, n in got)[("src1", 2)] == 3
