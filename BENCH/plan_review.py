#!/usr/bin/env python
"""Physical-plan review: capture .explain for the headline queries and
assert the scale-critical plan properties, writing PLANS.md.

Checked properties (the 100 TB checklist from the build spec):
- filters/pruning reach the parquet scan (PushedFilters / ReadSchema);
- the full stats surface plans as ONE partial+final HashAggregate pair
  with deduplicated sum children and no Python eval nodes;
- small-side joins broadcast (BroadcastHashJoin, no SortMergeJoin);
- the exploded token flagship keeps partial aggregation BELOW the shuffle
  (explode fan-out never crosses the exchange);
- top-k window uses a running WindowExec after a partial sort, not a
  global sort of the corpus.
"""

import io
import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def main():
    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "false")  # plain plans for review
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from ksql_udaf_statistics_spark.plans.queries import QUERIES
    from ksql_udaf_statistics_spark.sources.tables import synthesize_token_table
    from ksql_udaf_statistics_spark.streaming.jobs import token_value_windowed_stats

    checks = []
    out = io.StringIO()
    out.write("# PLANS.md — physical-plan review (scale checklist)\n\n")
    out.write("Generated by BENCH/plan_review.py; AQE off for readability.\n\n")

    def check(name, cond, detail):
        checks.append((name, bool(cond), detail))
        out.write(f"- {'PASS' if cond else 'FAIL'}: {name} — {detail}\n")

    # 1. filter + projection pushdown on a scan-heavy query
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1998-09-02").groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("s"))
    p = plan_of(q)
    check("predicate pushdown", "PushedFilters: [IsNotNull(l_shipdate)" in p or "PushedFilters: [" in p and "l_shipdate" in p,
          "l_shipdate filter reaches the parquet scan")
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    cols = m.group(1) if m else ""
    check("column pruning", cols and "l_extendedprice" not in cols and "l_comment" not in cols,
          f"scan reads only needed columns: {cols[:100]}")

    # 2. stats surface: one HashAggregate pair, no Python
    stats_q = QUERIES["skewness_pop"](spark, SF_DIR)
    p = plan_of(stats_q)
    check("stats = hash aggregate", p.count("HashAggregate") == 2,
          f"{p.count('HashAggregate')} HashAggregate nodes (partial+final expected)")
    check("stats JVM-only", "EvalPython" not in p, "no Python eval nodes in the stat path")
    # Spark marks whole-stage-codegen stages with "*(n)" in plan strings
    check("stats codegen", re.search(r"\*\(\d+\) HashAggregate", p) is not None,
          "hash aggregate inside a whole-stage-codegen stage ('*(n)' marker)")

    # 3. broadcast join
    jq = QUERIES["order_stats_by_segment"](spark, SF_DIR)
    p = plan_of(jq)
    check("broadcast join", "BroadcastHashJoin" in p and "SortMergeJoin" not in p,
          "customer side broadcast, no sort-merge shuffle")

    # 4. exploded token flagship: partial agg below the exchange
    tok = synthesize_token_table(spark, 1000, seed=1)
    fp = plan_of(token_value_windowed_stats(tok))
    ex_pos = fp.find("Exchange")
    gen_pos = fp.find("Generate")  # explode
    partial_pos = fp.find("partial_")
    check("explode collapsed map-side",
          0 <= ex_pos < partial_pos and partial_pos < gen_pos if min(ex_pos, gen_pos, partial_pos) >= 0 else False,
          "partial HashAggregate sits between Generate(explode) and Exchange "
          "(plan lists top-down: Exchange above partial above Generate)")

    # 5. ANN top-k: window over partitioned sort, corpus not globally sorted
    aq = QUERIES["ann_bruteforce_topk"](spark, SF_DIR)
    p = plan_of(aq)
    check("topk via window", "Window" in p and "RunningWindowFunction" in p or "row_number" in p,
          "rank computed per query-partition window")

    # 6. minhash pair dedup stays in HASH aggregation (r1 regression: pair
    # dedup over signature arrays forced SortAggregate/first(sig), 10x cost)
    mq = QUERIES["dedup_minhash_lsh"](spark, SF_DIR)
    p = plan_of(mq)
    check("minhash pair-dedup hash agg", "SortAggregate" not in p,
          f"{p.count('HashAggregate')} HashAggregate, 0 SortAggregate nodes")

    # 7. per-source token top-k prunes below the rank filter
    tq = QUERIES["token_topk_per_source"](spark, SF_DIR)
    p = plan_of(tq)
    check("heavy-hitter topk group-limit", "WindowGroupLimit" in p,
          "rank<=k pushes a WindowGroupLimit below the final sort")

    # 8. ANN brute-force scoring is Arrow-batched, not an interpreted-HOF
    # pair join (r2 regression: aggregate/zip_with lambdas at ~200ns/element
    # on the hot path) and never a nested-loop cross join
    aq = QUERIES["ann_bruteforce_topk"](spark, SF_DIR)
    p = plan_of(aq)
    check("ann scoring arrow-batched",
          "MapInPandas" in p and "BroadcastNestedLoopJoin" not in p
          and "lambdafunction" not in p,
          "one MapInPandas scan-and-score pass; no pair-row join, no "
          "interpreted lambdas")

    # 9 (r7 shape). LSH near-dup: vectors cross exactly ONE exchange (the
    # bucket repartition feeding the bucket-local scorer); the pair dedup
    # above the scorer aggregates bare (doc_a, doc_b, cos_sim) scalars in
    # hash aggregation — no vector ever rides a post-scorer shuffle, and
    # the old bucket self-join + two vector re-attach joins are gone.
    lq = QUERIES["embedding_near_dups_lsh_verified"](spark, SF_DIR)
    p = plan_of(lq)
    dedup_at = p.find("HashAggregate(keys=[doc_a")
    scorer_at = p.find("FlatMapGroupsInPandas")
    check("lsh pair-dedup id-only",
          0 <= dedup_at < scorer_at and "SortAggregate" not in p
          and "x_vec" not in p[dedup_at:scorer_at]
          and p[:dedup_at].count("Exchange") <= 1,
          "pair dedup hash-aggregates bare (doc_a, doc_b) scalars above "
          "the bucket-local scorer; vectors cross one exchange only")

    # 9b (r7). The exact-cosine scoring kernel evaluates ONCE, inside the
    # single bucket-local FlatMapGroupsInPandas (gram-matrix prefilter +
    # exact recheck fused) — no ArrowEvalPython pair, no second Python
    # scoring hop; the only other Python node is the banded-signature
    # MapInPandas build (one, shared by construction).
    check("lsh re-rank single-eval cosine",
          p.count("ArrowEvalPython") == 0
          and p.count("FlatMapGroupsInPandas") == 1
          and p.count("MapInPandas") == 1,
          "exact scoring is ONE fused bucket-local applyInPandas; one "
          "signature MapInPandas feeds it")

    # 10. Arrow token reduction: a single Arrow eval node feeding a
    # JVM-side hash aggregation (no per-row Python, no extra shuffle
    # before the python stage)
    taq = QUERIES["token_arrow_stats"](spark, SF_DIR)
    p = plan_of(taq)
    check("token arrow single python hop",
          ("ArrowEvalPython" in p or "MapInPandas" in p)
          and p.count("BatchEvalPython") == 0,
          "Arrow-batched eval only; no row-at-a-time Python nodes")

    # 11. minhash VERIFIED path (r4): candidate generation and pair dedup
    # move bare ids — neither the signature array nor the shingle-hash
    # arrays ride the bucket-join shuffles; shingle sets are attached by
    # id join only after dedup, and the dedup stays in hash aggregation
    # (r7 shape) the candidate pass — bucket join + id-only pair dedup —
    # is materialized once (localCheckpoint) before verification, so the
    # final plan is the verify stage alone: broadcast-attach of the
    # PRUNED shingle table (only candidate docs are shingled) onto the
    # materialized candidate list. No sort aggregation, no signature or
    # shingle array through any non-broadcast exchange.
    vq = QUERIES["dedup_minhash_verified"](spark, SF_DIR)
    p = plan_of(vq)
    check("minhash-verified dedup id-only",
          "SortAggregate" not in p and "sig#" not in p
          and "BroadcastHashJoin" in p and "SortMergeJoin" not in p
          and "ExistingRDD" in p,
          "verify stage reads the materialized id-only candidate list and "
          "broadcast-attaches pruned shingle sets; no sort agg, no "
          "signature shuffle")

    # 12. real-decode audio path (r4): exactly the two Arrow hops
    # (synthesize, decode+reduce) feed a JVM hash aggregation — no
    # row-at-a-time Python, no extra shuffle between the Python stages
    wq = QUERIES["wav_audio_stats"](spark, SF_DIR)
    p = plan_of(wq)
    py_between = re.search(r"MapInPandas[\s\S]*Exchange[\s\S]*MapInPandas", p)
    check("wav decode arrow-only",
          p.count("MapInPandas") == 2 and "BatchEvalPython" not in p
          and py_between is None,
          "synthesize->decode are back-to-back MapInPandas (no shuffle "
          "between), aggregation JVM-side")

    # 13. IVF verified: queries are collected and probed on the driver,
    # so the corpus-side plan is ONE Arrow pass (assign + probe + exact
    # re-rank + per-partition top-k) feeding the window top-k — no
    # per-row cosine UDF, no probe join, no pair-dedup aggregate
    iq = QUERIES["ann_ivf_verified"](spark, SF_DIR)
    p = plan_of(iq)
    check("ivf one-pass scoring",
          p.count("MapInPandas") == 1 and "ArrowEvalPython" not in p
          and "Join" not in p,
          "assign/probe/re-rank fused into one MapInPandas before the "
          "window top-k; no ArrowEvalPython, no join")

    # 14. BPE pair counting (r4): builtin slice/arrays_zip extraction (no
    # interpreted lambdas) and per-source top-k via WindowGroupLimit —
    # the exploded pair stream collapses map-side before the shuffle
    bq = QUERIES["bpe_pair_topk"](spark, SF_DIR)
    p = plan_of(bq)
    # the only lambda allowed is the documents-view tokenization shim
    # (transform+length, an O(len) map); the pair EXTRACTION and the
    # aggregation path must carry no interpreted reductions
    lambdas = re.findall(r"lambdafunction\((\w+)", p)
    check("bpe pairs codegen + group-limit",
          set(lambdas) <= {"length"} and "WindowGroupLimit" in p
          and "EvalPython" not in p and "aggregate(" not in p,
          "pair extraction is builtin slice/arrays_zip (only the "
          "tokenization shim's length() lambda present); rank<=k prunes "
          "below the final sort; no Python nodes, no HOF reductions")

    # 15. contamination check (r4): benchmark shingles BROADCAST into a
    # semi-join — the corpus-side shingle stream must never sort-merge
    cq = QUERIES["contamination_check"](spark, SF_DIR)
    p = plan_of(cq)
    check("contamination broadcast semi-join",
          "BroadcastHashJoin" in p and "SortMergeJoin" not in p,
          "benchmark shingle set broadcast; corpus side joins without a "
          "corpus-shingle shuffle")

    # 16. repetition profile (r5): distinct-shingle counting must use the
    # rolling zip_with/slice idiom — a slice over a recomputed array
    # INSIDE a per-element lambda re-evaluates the whole array per
    # element (O(len^2)/row, the measured-10x HOF trap this repo
    # documents at dedup.py::word_shingle_hashes and hit itself here
    # through r4)
    rq = QUERIES["repetition_profile"](spark, SF_DIR)
    po = optimized_of(rq)

    def lambda_bodies(plan: str):
        """Yield the balanced-paren body of every lambdafunction(...)."""
        start = 0
        while True:
            i = plan.find("lambdafunction(", start)
            if i < 0:
                return
            depth, j = 0, i + len("lambdafunction")
            while j < len(plan):
                if plan[j] == "(":
                    depth += 1
                elif plan[j] == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            yield plan[i:j + 1]
            start = j + 1

    bad = [b for b in lambda_bodies(po) if "slice(" in b]
    check("repetition rolling-hash plan",
          "zip_with" in po and "concat_ws" not in po and not bad,
          "shingles via rolling zip_with over literal-offset slices; no "
          "slice() inside any lambda body, no per-shingle string building")

    # 17. sequence packing (r5): ONE window exchange partitioned by
    # source (the prefix sum), no global single-partition window, and
    # the aggregation stays in hash aggregation
    sq = QUERIES["sequence_packing_stats"](spark, SF_DIR)
    p = plan_of(sq)
    check("packing windowed prefix-sum shape",
          "Window" in p and "SinglePartition" not in p
          and "SortAggregate" not in p,
          "prefix sum windows per source partition (never a "
          "single-partition global window); final agg is hash")

    # 18. boilerplate top-k (r5): global top-50 via TakeOrderedAndProject
    # (streamed partial top-k per partition), not a full sort of the
    # shingle-frequency table
    bq2 = QUERIES["boilerplate_ngrams_topk"](spark, SF_DIR)
    p = plan_of(bq2)
    check("boilerplate topk take-ordered",
          "TakeOrderedAndProject" in p and "EvalPython" not in p,
          "global limit compiles to TakeOrderedAndProject; shingling "
          "stays JVM-side")

    # 19. quantization calibration (r5): posexplode collapses into a
    # partial+final hash aggregation below/above one exchange — the
    # vector payload never rides a shuffle un-aggregated
    qq = QUERIES["embedding_quantization_calibration"](spark, SF_DIR)
    p = plan_of(qq)
    ex_pos, gen_pos, partial_pos = p.find("Exchange"), p.find("Generate"), p.find("partial_")
    check("quantization explode collapsed map-side",
          0 <= ex_pos < partial_pos < gen_pos,
          "partial min/max/avg sits between Generate(posexplode) and "
          "Exchange — only (pos, partials) rows shuffle")

    # 20. boilerplate strip (r6): the removal pass is ONE scan with the
    # top-k shingle set folded into the plan as a literal — no join
    # against the top-k table, no Python in the coverage algebra
    bs = QUERIES["boilerplate_strip_stats"](spark, SF_DIR)
    p = plan_of(bs)
    check("boilerplate strip single-scan fold",
          "EvalPython" not in p and "Join" not in p
          and p.count("FileScan") == 1 and "HashAggregate" in p,
          "top-k set is a foldable literal; one documents scan, Column "
          "coverage algebra, one hash aggregation")

    # 21. streaming-funnel batch twin (r6): minhash gate semantics as one
    # bucket-owner hash agg + join back — all JVM (Column minhash), no
    # Python nodes, no cartesian pair join
    from ksql_udaf_statistics_spark.streaming.funnel import (
        curation_funnel_batch_twin,
    )
    docs_f = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        F.col("doc_id").cast("string").alias("doc_id"), "source", "text",
        F.timestamp_seconds(F.col("doc_id").cast("long")).alias("ts"),
    )
    p = plan_of(curation_funnel_batch_twin(docs_f))
    check("funnel twin jvm-only owner-agg",
          "EvalPython" not in p and "Cartesian" not in p
          and "HashAggregate" in p,
          "bucket owners via hash aggregation, verdict join on "
          "(band,bucket), zero Python in the signature path")

    # 22. drift detector (r6): the event stream collapses to per-window
    # means in a partial/final HashAggregate pair BEFORE the baseline
    # Window scan — the sequential window function must only ever see the
    # tiny (key, window) series, never raw events; no Python anywhere
    dq = QUERIES["drift_detector_events"](spark, SF_DIR)
    p = plan_of(dq)
    agg_pos = p.find("HashAggregate")
    win_pos = p.find("Window")
    check("drift window-after-agg",
          "EvalPython" not in p and p.count("HashAggregate") >= 2
          and 0 <= win_pos < agg_pos,
          "plan lists top-down: Window sits above the HashAggregate pair, "
          "so the baseline scan consumes aggregated window means only")

    # 23. source chi2 drift (r6): the three derived aggregates (per-source
    # totals, global word counts, corpus total) must reuse the single
    # (source, word) exchange, not rescan the corpus — explicit isNotNull
    # filters keep the subtrees identical after pushdown
    cq2 = QUERIES["source_drift_chi2"](spark, SF_DIR)
    p = plan_of(cq2)
    check("chi2 single-scan reuse",
          p.count("FileScan parquet") == 1
          and p.count("ReusedExchange") == 3
          and "EvalPython" not in p
          and "BroadcastHashJoin" in p and "SortMergeJoin" not in p,
          "one corpus scan+explode; totals/global-vocab branches are "
          "ReusedExchange; small sides broadcast")

    out.write("\n## Full plans\n")
    for name in ["skewness_pop", "order_stats_by_segment", "tumbling_window_stats",
                 "dedup_minhash_lsh", "ann_bruteforce_topk",
                 "embedding_near_dups_lsh_verified", "token_arrow_stats",
                 "dedup_minhash_verified", "wav_audio_stats"]:
        out.write(f"\n### {name}\n```\n")
        out.write(plan_of(QUERIES[name](spark, SF_DIR))[:4000])
        out.write("\n```\n")
    out.write("\n### token_value_windowed_stats (flagship)\n```\n")
    out.write(fp[:4000])
    out.write("\n```\n")

    repo = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write(out.getvalue())
    failed = [c for c in checks if not c[1]]
    print(f"{len(checks) - len(failed)}/{len(checks)} plan checks passed")
    for name, okay, detail in checks:
        print(("PASS " if okay else "FAIL ") + name)
    spark.stop()


if __name__ == "__main__":
    main()
