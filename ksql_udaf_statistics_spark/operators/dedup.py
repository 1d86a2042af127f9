"""Deduplication operators for training-data pipelines.

Five families, each shaped for 100 TB operation:

- **exact**: hash-groupBy on md5(text) — one shuffle on a short key, the
  canonical first pass;
- **n-gram Jaccard**: shingle inverted index + self-join — candidate pairs
  are generated only for docs sharing a shingle (blocking), never a full
  cross join;
- **MinHash + LSH**: per-doc signature via xxhash64-family permutations
  (all JVM-side array ops), banded into buckets; only bucket collisions
  are compared — the standard near-dup pass at web scale;
- **SimHash**: 64-bit weighted-bit signature; near-dups = small Hamming
  distance within banded buckets;
- **embedding cosine**: see operators.similarity (near-dup = cosine above
  a threshold).

Determinism: every hash is seeded xxhash64/md5 of the content — the same
table produces the same clusters at any parallelism.

Blocking: every pair path is built from one set of functions.
:func:`minhash_bands` is the single MinHash band-hash format (the
streaming gate's state keys depend on it) and :func:`simhash_chunk` the
single SimHash chunk expression; :func:`bucket_self_join` is the only
bucket self-join; :func:`pair_end_rows` and :func:`attach_to_pair_ends`
narrow a per-document table to the ends of a pair list and attach its
columns to both ends. Partitioning rule, enforced in
:func:`bucket_self_join`: the banded rows go through ONE
``repartition(defaultParallelism, *keys)`` exchange that both join sides
read, so AQE cannot coalesce the exploding join onto a few tasks and the
banding subtree runs once.
"""

from __future__ import annotations

import re
from functools import reduce
from typing import Mapping, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# logical-plan node names whose output is shuffle-partitioned
_SHUFFLE_NODES = (
    "Join", "Aggregate", "Repartition", "Sort", "Window", "Deduplicate",
    "GlobalLimit", "Intersect", "Except",
)
# the node name that leads each line of a plan's tree string
_PLAN_NODE = re.compile(r"^[\s:|+-]*(\w+)", re.MULTILINE)


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread per-document hashing across all cores when the source scan is
    under-partitioned (a small parquet file arrives as 1 partition and the
    whole shingle/signature pass runs on one core — 3x the job time at
    sf0.1). At production scale the scan already has >= defaultParallelism
    partitions and this is a no-op, so no extra shuffle is introduced.

    The partition-count probe (``.rdd.getNumPartitions()``) is free ONLY on
    narrow plans: under AQE, converting a plan with exchanges to an RDD
    EXECUTES every upstream query stage (measured 2.7 s for a probe on a
    20M-row join — the whole subtree then runs again in the real job). So
    plans containing shuffle-inducing operators are returned unchanged:
    their output is either shuffle-partitioned ``spark.sql.shuffle.
    partitions``-wide already, or a broadcast-join output preserving its
    scan's splits — wide at any real scale.
    """
    if df.isStreaming:
        # micro-batch partitioning is the source's concern (file splits /
        # Kafka partitions); .rdd is not even defined pre-start
        return df
    plan = str(df._jdf.queryExecution().analyzed())
    # match node names only: a column or alias such as ``JoinKey`` in an
    # expression list is not a shuffle
    nodes = _PLAN_NODE.findall(plan)
    if any(tok in node for node in nodes for tok in _SHUFFLE_NODES):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents: (content_hash, n_dups, keep_id).

    ``keep_id`` = min(doc_id) is the deterministic survivor.
    """
    return (
        documents.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keep_id"))
    )


def dedup_exact(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep one deterministic representative per identical text."""
    w_keep = exact_duplicates(documents, text_col).select(
        F.col("keep_id").alias("doc_id")
    )
    return documents.join(w_keep, "doc_id", "left_semi")


# ---------------------------------------------------------------------------
# Shingling (shared by Jaccard / MinHash / SimHash)
# ---------------------------------------------------------------------------

def word_shingles(text_col: str = "text", n: int = 3) -> F.Column:
    """Array of n-word shingles (distinct), as strings — the readable
    form. Hot paths use :func:`word_shingle_hashes` (same set, cheaper).

    Built with the rolling zip_with idiom (r7): every reference to the
    split stays in row position, so the plan is O(len * n) per document.
    The previous ``F.slice(w, i + 1, n)`` inside a per-element
    ``F.transform`` lambda re-evaluated the whole split expression per
    element — the O(len^2) HOF trap documented at
    :func:`word_shingle_hashes`. Same output exactly: shingle
    i is ``w[i] + ' ' + ... + w[i+n-1]`` in the same positional order
    (``concat_ws`` skips the NULLs zip_with pads with, and the final
    slice keeps ``max(size - n + 1, 1)`` entries, so short documents
    keep their single truncated shingle as before).
    """
    w = F.split(F.col(text_col), " ")
    size = F.size(w)
    rolling = w
    for k in range(1, n):
        shifted = F.slice(w, k + 1, F.greatest(size - k, F.lit(1)))
        rolling = F.zip_with(rolling, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(
        F.slice(rolling, 1, F.greatest(size - n + 1, F.lit(1)))
    )


def word_shingle_hashes(text_col="text", n: int = 3, seed: int = 0) -> F.Column:
    """Array of distinct n-word shingle HASHES.

    Cost shape (the per-document hot loop of every near-dup pass): each
    word is hashed ONCE, then each shingle hash combines n consecutive
    word hashes with one more xxhash64 over longs — no per-shingle string
    slicing/concatenation (measured ~4x cheaper than building shingle
    strings at 130 shingles/doc). The distinct-hash set equals the
    distinct-string set up to 64-bit collisions (~n_shingles^2 / 2^64 —
    negligible below ~2^32 distinct shingles per corpus).
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    w = F.split(c, " ")
    wh = F.transform(w, lambda x: F.xxhash64(x, F.lit(seed)))
    size = F.size(w)
    # Build shingle hashes by zipping the word-hash array against its own
    # 1..n-1 shifted slices: rolling = xxhash64(...xxhash64(h_i, h_{i+1})
    # ..., h_{i+n-1}). CRITICAL cost note: indexing `wh` inside a
    # per-element lambda (element_at/get) re-evaluates the WHOLE word-hash
    # array for every access — O(len^2) per document (measured 10x slower
    # than string shingling). zip_with/slice keep every reference to `wh`
    # in row position, so it evaluates O(n) times per row.
    rolling = wh
    for k in range(1, n):
        shifted = F.slice(wh, k + 1, F.greatest(size - k, F.lit(1)))
        rolling = F.zip_with(rolling, shifted, lambda a, b: F.xxhash64(a, b))
    # keep the size-n+1 true shingles (zip_with null-pads the tail); short
    # documents keep one truncated shingle, like word_shingles' slice
    return F.array_distinct(
        F.slice(rolling, 1, F.greatest(size - n + 1, F.lit(1)))
    )


def shingle_table(documents: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, shingle-hash) inverted-index rows + per-doc shingle counts."""
    sh = ensure_parallelism(documents).select(
        "doc_id", word_shingle_hashes(text_col, n).alias("shingles")
    ).withColumn("n_shingles", F.size("shingles"))
    return sh.select("doc_id", "n_shingles", F.explode("shingles").alias("shingle"))


# ---------------------------------------------------------------------------
# Blocking primitives (every MinHash / SimHash / Jaccard pair path)
# ---------------------------------------------------------------------------

def minhash_bands(
    sig_df: DataFrame, num_hashes: int, bands: int,
    keep: Sequence[str] = ("doc_id",),
) -> DataFrame:
    """(keep..., band, bucket): one narrow row per (document, band) of a
    ``sig`` signature table. bands x rows = num_hashes; bucket = xxhash64
    of the band's signature slice joined with ``,``. This is the one
    band-hash format: the streaming gate's bucket-state keys and its
    batch twin (``streaming.neardup``) depend on it staying fixed."""
    assert num_hashes % bands == 0
    rows = num_hashes // bands
    bb = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[F.col("sig")[b * rows + r].cast("string")
                              for r in range(rows)],
                        )
                    ).alias("bucket"),
                )
                for b in range(bands)
            ]
        )
    ).alias("bb")
    return sig_df.select(*keep, bb).select(*keep, "bb.band", "bb.bucket")


def simhash_chunk(sim: str, band: int, width: int) -> Column:
    """Bits ``[band * width, (band + 1) * width)`` of a 64-bit simhash
    column: the banding key of :func:`simhash_pairs` and the agreement
    test of :func:`simhash_pairs_verified`."""
    return F.shiftright(sim, band * width).bitwiseAND(F.lit((1 << width) - 1))


def _pair_side(
    df: DataFrame, side: str, cols: Mapping[str, str], keys: Sequence[str] = (),
) -> DataFrame:
    """One end of a pair: doc_id -> doc_<side>, each ``col`` -> prefix+side."""
    return df.select(
        *keys,
        F.col("doc_id").alias(f"doc_{side}"),
        *[F.col(c).alias(prefix + side) for c, prefix in cols.items()],
    )


def bucket_self_join(
    banded: DataFrame, keys: Sequence[str],
    carry: Optional[Mapping[str, str]] = None,
) -> DataFrame:
    """(keys..., doc_a, <prefix>a..., doc_b, <prefix>b...) for every pair
    of documents sharing a ``keys`` bucket, ``doc_a < doc_b``. ``carry``
    maps a column of ``banded`` to the prefix it is renamed to on each
    side. A pair sharing several buckets appears once per bucket.

    Partitioning: the join's input is |docs| x bands small rows while its
    output is Σ_bucket freq², so AQE (which sizes post-shuffle partitions
    from the input bytes) would coalesce the exploding join onto ~1 task
    whose hash maps then dominate the stage. ``repartition(P, *keys)``
    is a REPARTITION_BY_NUM exchange AQE must keep, with P the cluster's
    default parallelism. Both sides read that ONE exchange and are
    renamed after it: two differently-projected repartitions would be
    two exchanges, and the whole banding subtree (shingling, signatures)
    would run once per side (measured 2x the pass cost).
    """
    carry = carry or {}
    p = banded.sparkSession.sparkContext.defaultParallelism
    base = banded.repartition(p, *keys)
    return (
        _pair_side(base, "a", carry, keys)
        .join(_pair_side(base, "b", carry, keys), list(keys))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )


def pair_end_rows(df: DataFrame, pairs: DataFrame) -> DataFrame:
    """Rows of ``df`` whose doc_id is an end of some (doc_a, doc_b) pair —
    the semi-join prune that keeps per-document work proportional to the
    candidate volume, not the corpus."""
    ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    return df.join(ids, "doc_id", "semi")


def attach_to_pair_ends(
    pairs: DataFrame, per_doc: DataFrame, cols: Mapping[str, str],
) -> DataFrame:
    """``pairs`` joined to ``per_doc`` at both ends: each ``col`` of
    ``per_doc`` comes out as ``<prefix>a`` (for doc_a) and ``<prefix>b``."""
    return (
        pairs.join(_pair_side(per_doc, "a", cols), "doc_a")
        .join(_pair_side(per_doc, "b", cols), "doc_b")
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup (exact similarity over blocked candidates)
# ---------------------------------------------------------------------------

def jaccard_pairs(
    documents: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int = 1000,
    broadcast_index_max_rows: int = 20_000_000,
) -> DataFrame:
    """Pairs (doc_a < doc_b, jaccard) with shingle-set Jaccard >= threshold.

    Blocking: pairs are generated only for docs sharing a shingle, so
    complexity is Σ_s freq(s)², not |docs|². Shingles occurring more than
    ``max_shingle_freq`` times are dropped (stopword shingles add
    candidates but can't push Jaccard over real thresholds — standard
    web-scale trick; at sf-test scale nothing hits the cap).

    Two execution paths, identical values (r7):

    - **broadcast-index path** (inverted index <= ``broadcast_index_max_
      rows`` rows and integral doc ids): the index is collected once
      (Arrow), packed into flat numpy arrays (~16 bytes/row), broadcast,
      and every partition counts its documents' intersections against it
      with one vectorized sort per batch — NO pair rows ever shuffle.
      The r6 plan shuffled the Σ freq² candidate-pair stream (127M rows
      at the 50k-doc bench scale — 3.5 GB through one exchange) into a
      114M-group hash aggregation; the pair-count decision needs only
      (doc idx, doc idx) ints, the guide's decide-with-small-rows shape.
      Intersection counts are exact ints and the jaccard division is the
      same float64 op the Column path compiles to, so values are
      bit-identical to the join path.
    - **self-join fallback** (index too big for one executor's memory):
      the classic inverted-index self-join (:func:`bucket_self_join`
      keyed by shingle) + pair-count aggregation. Its pinned
      partitioning matters here: unpinned, AQE coalesced the exploding
      join to ~2 partitions whose tasks built multi-GB aggregation hash
      maps (measured: the whole stage serialized behind one straggler at
      bench sf1.0).
    """
    # one shingling pass, materialized once (localCheckpoint): both paths
    # read it — the broadcast build collects it, the scoring pass / join
    # fallback re-reads the materialized blocks. At 100 TB the same role
    # is played by persist(DISK_ONLY) or a staged write of the index.
    per_doc = (
        ensure_parallelism(documents)
        .select("doc_id", word_shingle_hashes(text_col, n).alias("_sh"))
        .localCheckpoint(eager=False)
    )
    id_type = documents.schema["doc_id"].dataType.simpleString()
    index_rows = per_doc.agg(F.sum(F.size("_sh"))).collect()[0][0] or 0
    if id_type in ("tinyint", "smallint", "int", "bigint") and (
        0 < index_rows <= broadcast_index_max_rows
    ):
        return _jaccard_pairs_broadcast_index(
            per_doc, threshold, max_shingle_freq
        )

    # ---- self-join fallback (index beyond single-executor memory) ----
    sh = per_doc.withColumn("n_shingles", F.size("_sh")).select(
        "doc_id", "n_shingles", F.explode("_sh").alias("shingle")
    )
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    sh = sh.join(F.broadcast(freq.filter(F.col("df") <= max_shingle_freq)), "shingle")
    inter = (
        bucket_self_join(sh, ["shingle"], {"n_shingles": "n"})
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _jaccard_pairs_broadcast_index(
    per_doc: DataFrame, threshold: float, max_shingle_freq: int
) -> DataFrame:
    """Broadcast-inverted-index execution of :func:`jaccard_pairs`.

    ``per_doc`` is the materialized (doc_id, distinct-shingle-hash array)
    table. The driver packs it into flat numpy arrays — unique shingle
    hashes (sorted), per-shingle slices of a doc-index ("partner") array,
    per-doc sizes — and broadcasts ~16 bytes per index row. Each task
    then scores its documents: gather the partner slices of every
    (uncapped) shingle, one vectorized sort+count per doc block, exact
    intersection counts, the identical float64 jaccard division, emit
    only pairs clearing the threshold. doc_a < doc_b holds once per pair
    because a pair is emitted only from its lower-id endpoint.

    Assumes doc_id is unique per row (the operator's contract — it is a
    key); duplicate ids would merge pair counts differently than the
    self-join path merges them.
    """
    import numpy as np

    spark = per_doc.sparkSession
    pdf = per_doc.toPandas()
    ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    sh_lists = [np.asarray(v, dtype=np.int64) for v in pdf["_sh"].to_numpy()[order]]
    n_sh = np.array([len(v) for v in sh_lists], dtype=np.int64)
    flat = np.concatenate(sh_lists) if sh_lists else np.array([], dtype=np.int64)
    didx = np.repeat(np.arange(len(ids), dtype=np.int32), n_sh)
    o2 = np.argsort(flat, kind="stable")
    uniq_sh, starts, cnts = np.unique(
        flat[o2], return_index=True, return_counts=True
    )
    bc = spark.sparkContext.broadcast(
        (
            uniq_sh,
            starts.astype(np.int64),
            cnts.astype(np.int64),
            cnts <= max_shingle_freq,  # df cap: capped shingles don't count
            didx[o2],  # partner doc indices, grouped by shingle
            ids,
            n_sh,
        )
    )

    def score(batches):
        import pandas as pd

        uniq, st, ct, keep, partners, all_ids, sizes = bc.value
        if len(uniq) == 0:
            return
        block = 256  # docs per vectorized sort+count
        for pdf_b in batches:
            m = len(pdf_b)
            if m == 0:
                continue
            row_ids = pdf_b["doc_id"].to_numpy(dtype=np.int64)
            row_sh = pdf_b["_sh"].to_numpy()
            own = np.searchsorted(all_ids, row_ids).astype(np.int64)
            for b0 in range(0, m, block):
                b1 = min(b0 + block, m)
                lens = np.array(
                    [len(row_sh[i]) for i in range(b0, b1)], dtype=np.int64
                )
                if lens.sum() == 0:
                    continue
                s_all = np.concatenate(
                    [np.asarray(row_sh[i], dtype=np.int64) for i in range(b0, b1)]
                )
                d_all = np.repeat(own[b0:b1], lens)
                pos = np.minimum(np.searchsorted(uniq, s_all), len(uniq) - 1)
                valid = (uniq[pos] == s_all) & keep[pos]
                L = ct[pos[valid]]
                total = int(L.sum())
                if total == 0:
                    continue
                ends = np.cumsum(L)
                gather = np.arange(total, dtype=np.int64) + np.repeat(
                    st[pos[valid]] - np.concatenate(([0], ends[:-1])), L
                )
                q = partners[gather].astype(np.int64)
                d = np.repeat(d_all[valid], L)
                key, c = np.unique(d * 4294967296 + q, return_counts=True)
                d2 = key >> 32
                q2 = key & 0xFFFFFFFF
                pair = all_ids[q2] > all_ids[d2]  # once per pair, a < b
                if not pair.any():
                    continue
                d2, q2, c = d2[pair], q2[pair], c[pair]
                jac = c / (sizes[d2] + sizes[q2] - c)
                hit = jac >= threshold
                if not hit.any():
                    continue
                yield pd.DataFrame(
                    {
                        "doc_a": all_ids[d2[hit]],
                        "doc_b": all_ids[q2[hit]],
                        "jaccard": jac[hit],
                    }
                )

    return per_doc.mapInPandas(score, "doc_a long, doc_b long, jaccard double")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(
    documents: DataFrame, text_col: str = "text", n: int = 3,
    num_hashes: int = 32, seed: int = 1,
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """(doc_id, sig: array<bigint>) — sig[i] = min over shingles of the
    i-th hash family member. All array ops, no shuffle, no Python.

    Cost shape: the expensive string hash runs ONCE per shingle; the
    ``num_hashes`` permutations rehash the resulting 8-byte longs
    (xxhash64 over a long is ~10x cheaper than over a 20-char shingle),
    so total cost is O(shingles) + O(shingles * num_hashes) cheap ops.
    """
    documents = ensure_parallelism(documents)
    base = word_shingle_hashes(text_col, n, seed)
    sigs = F.array(
        *[
            F.array_min(
                F.transform(F.col("_sh_hashes"), lambda h: F.xxhash64(h, F.lit(i)))
            )
            for i in range(num_hashes)
        ]
    )
    return (
        documents.withColumn("_sh_hashes", base)
        .select("doc_id", *extra_cols, sigs.alias("sig"))
    )


def minhash_lsh_pairs(
    documents: DataFrame, text_col: str = "text", n: int = 3,
    num_hashes: int = 32, bands: int = 8, seed: int = 1,
    threshold: float = 0.5,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH, refined by estimated
    Jaccard (fraction of matching minhashes) >= threshold.

    bands×rows = num_hashes; a pair collides if any band of the signature
    matches exactly — the classic S-curve. The bucket join shuffles on
    (band, band-hash), never comparing docs that share no bucket.

    r7 cost shape: the bucket self-join and the pair dedup move BARE IDS
    — the signature arrays previously rode the bucket exchange once per
    band row (bands × 32 longs ≈ 8× the payload per doc, both join
    sides). Candidates are now generated ids-only, deduplicated in a
    hash aggregation over longs, materialized once, and the signatures
    are re-derived for ONLY the documents that appear in a candidate
    pair (semi-join prune, the exact_jaccard_rerank discipline) and
    attached to the distinct pair list at its minimum row count. The
    estimate is the same zip_with/size expression over the same
    deterministic signatures, computed once per distinct pair — exact
    integer count / num_hashes, so values are bit-identical to the
    compute-then-dedup plan.
    """
    # one signature pass total: the materialized table (32 longs/doc —
    # the standard "write the signature table" step of any LSH pipeline)
    # feeds both the banding and the post-dedup attach
    sig_df = minhash_signatures(
        documents, text_col, n, num_hashes, seed
    ).localCheckpoint(eager=False)
    cands = _minhash_candidates(sig_df, num_hashes, bands).localCheckpoint(
        eager=True
    )
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
            lambda m: m,
        )
    ).cast("double") / F.lit(float(num_hashes))
    return (
        attach_to_pair_ends(cands, pair_end_rows(sig_df, cands), {"sig": "sig_"})
        .select("doc_a", "doc_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def _minhash_candidates(sig_df: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """The MinHash candidate pass over a signature table: distinct
    (doc_a < doc_b) pairs sharing at least one band bucket, ids only."""
    return (
        bucket_self_join(minhash_bands(sig_df, num_hashes, bands), ["band", "bucket"])
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def minhash_candidate_pairs(
    documents: DataFrame, text_col: str = "text", n: int = 3,
    num_hashes: int = 32, bands: int = 16, seed: int = 1,
) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) from banded minhash
    buckets — ids ONLY through the bucket join and the pair dedup (the
    signature arrays never shuffle; same payload-narrowing discipline as
    the embedding-LSH path)."""
    sig_df = minhash_signatures(documents, text_col, n, num_hashes, seed)
    return _minhash_candidates(sig_df, num_hashes, bands)


def exact_jaccard_rerank(
    documents: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact shingle-set Jaccard over CANDIDATE pairs: the verify stage of
    a blocked near-dup pass (precision 1 by construction; recall = the
    blocker's recall).

    Shingle-hash arrays are attached AFTER pair deduplication — at the
    minimum row count — and the Jaccard is pure JVM array algebra
    (``array_intersect``/``size``), no Python, no re-shuffle of the
    corpus. Identical values to the inverted-index Jaccard
    (:func:`jaccard_pairs`) because both operate on the same distinct
    shingle-hash sets.

    r7 cost shape: only documents that APPEAR in a candidate pair are
    shingled. The candidate list is materialized once (it is read three
    times: the id set and both attach joins — without the checkpoint each
    consumer re-executes the whole blocking pass), the candidate doc-id
    set prunes the corpus with a semi-join BEFORE the shingle expression
    runs, and the pruned shingle table is materialized once so the two
    attach joins read it instead of re-shingling. Previously the full
    corpus was shingled twice (once per join side); verification cost is
    now proportional to candidate volume, not corpus size.
    """
    pairs = pairs.localCheckpoint(eager=True)
    # candidate docs are small by construction (they fit the materialized
    # pair list), so a plain repartition spreads the shingle work for
    # pennies — ensure_parallelism's probe is not usable on a join output
    # (see its docstring)
    p = documents.sparkSession.sparkContext.defaultParallelism
    sh = (
        pair_end_rows(documents, pairs)
        .repartition(p)
        .select("doc_id", word_shingle_hashes(text_col, n).alias("_sh"))
        .localCheckpoint(eager=False)
    )
    inter = F.size(F.array_intersect("_sha", "_shb"))
    jac = inter / (F.size("_sha") + F.size("_shb") - inter)
    return (
        attach_to_pair_ends(pairs, sh, {"_sh": "_sh"})
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_lsh_pairs_verified(
    documents: DataFrame, text_col: str = "text", n: int = 3,
    num_hashes: int = 32, bands: int = 16, seed: int = 1,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH blocking + EXACT Jaccard verification — the
    oracle-able form of the minhash path: with (num_hashes, bands) at
    measured recall 1 for the target threshold, the output EQUALS the
    exact all-pairs Jaccard result, so a DuckDB all-pairs oracle
    hash-verifies the whole pipeline (signatures, banding, bucket join,
    pair dedup, re-rank).

    Default (32, 16) = 2 rows/band: collision probability for a true
    J>=0.9 pair is 1-(1-0.81)^16 ~ 1-2e-12; measured recall 1.0 on the
    driver corpora at sf0.001 and sf0.01. Production runs trade
    verification cost back for estimated-Jaccard filtering via
    :func:`minhash_lsh_pairs`.
    """
    cands = minhash_candidate_pairs(documents, text_col, n, num_hashes, bands, seed)
    return exact_jaccard_rerank(documents, cands, text_col, n, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(
    documents: DataFrame, text_col: str = "text", bits: int = 64,
) -> DataFrame:
    """(doc_id, simhash bigint): sign-sum of per-word hash bits.

    For each bit position, count words whose xxhash64 has that bit set vs
    unset; the signature bit is the majority. Implemented as array algebra
    over the word list — no Python, no shuffle.
    """
    w = F.split(F.col(text_col), " ")
    hashes = F.transform(w, lambda x: F.xxhash64(x))

    def bitmask(i: int):
        # JVM-side shift: bit 63 wraps to the sign bit without overflowing
        # the py4j long conversion that a Python literal 1<<63 would hit.
        return F.shiftleft(F.lit(1).cast("long"), i)

    def vote(i: int):
        # closure factory: pyspark higher-order lambdas must take exactly
        # the declared parameters (a default arg breaks arity inspection)
        def fn(acc, h):
            return acc + F.when(h.bitwiseAND(bitmask(i)) != 0, 1).otherwise(-1)

        return F.aggregate(hashes, F.lit(0), fn)

    bit_votes = [vote(i) for i in range(bits)]
    sim = None
    for i, v in enumerate(bit_votes):
        bit = F.when(v > 0, bitmask(i)).otherwise(F.lit(0).cast("long"))
        sim = bit if sim is None else sim.bitwiseOR(bit)
    return documents.select("doc_id", sim.cast("bigint").alias("simhash"))


def hamming64(a: F.Column, b: F.Column) -> F.Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    documents: DataFrame, text_col: str = "text",
    max_hamming: int = 8, bands: int = 4,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Banding: split the 64-bit signature into ``bands`` chunks; by
    pigeonhole, any pair within distance < bands must agree exactly on at
    least one chunk, so the join key is (band, chunk) — no cross join.
    With bands=4 recall is guaranteed for distance <= 3 and high for <= 8.
    """
    sig = simhash_signatures(documents, text_col)
    width = 64 // bands
    banded = sig.select(
        "doc_id", "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        simhash_chunk("simhash", b, width).alias("chunk"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bc"),
    ).select("doc_id", "simhash", "bc.band", "bc.chunk")
    return (
        bucket_self_join(banded, ["band", "chunk"], {"simhash": "sim_"})
        .select("doc_a", "doc_b", hamming64(F.col("sim_a"), F.col("sim_b")).alias("hamming"))
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 5,
    min_overlap: int = 1,
) -> DataFrame:
    """Train-test contamination detection: per corpus document, the count
    of n-gram shingles it shares with a benchmark/eval set — the standard
    decontamination pass (n-gram overlap against held-out benchmarks)
    run before training.

    Shape at 100 TB: the benchmark shingle set is SMALL (eval suites are
    thousands of documents) and broadcasts; the corpus side is one
    shingling pass + a broadcast semi-join + hash aggregation — no
    shuffle of corpus shingles, no pair blowup. Output:
    (doc_id, n_overlap) for documents meeting ``min_overlap``.
    """
    bench_sh = (
        ensure_parallelism(benchmark)
        .select(F.explode(word_shingle_hashes(text_col, n)).alias("shingle"))
        .distinct()
    )
    corp_sh = shingle_table(corpus, text_col, n).select("doc_id", "shingle")
    return (
        corp_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )


def simhash_pairs_verified(
    documents: DataFrame, text_col: str = "text", bands: int = 8,
    n: int = 3, threshold: float = 0.5,
) -> DataFrame:
    """SimHash blocking + EXACT Jaccard verification — the oracle-able
    form of the simhash path: with ``bands=8`` (8-bit chunks) the
    pigeonhole bound guarantees recall 1 for Hamming <= 7, and measured
    recall against exact all-pairs Jaccard >= 0.5 is 1.0 on the driver
    corpora at sf0.001 and sf0.01 — so the output EQUALS the all-pairs
    Jaccard result and a DuckDB oracle hash-verifies the whole path
    (signature bit algebra, chunk banding, bucket join, re-rank).

    r7 execution: the output set is, by definition, {pairs agreeing on
    >=1 simhash chunk} ∩ {pairs with exact Jaccard >= threshold}. The old
    plan enumerated the FIRST set (bucket self-join over 2^(64/bands)
    chunk values — Σ freq² is Θ(n² / 2^chunk_bits): 92M candidate rows at
    the 50k-doc bench scale, ~150 s wall) and exact-reranked them all.
    The new plan computes the SECOND set first with :func:`jaccard_pairs`'
    blocked inverted index (frequency cap disabled, so its exact counts
    and float64 divide equal the rerank's bit-for-bit) and keeps only
    pairs agreeing on >=1 chunk, attaching the two 64-bit signatures to
    the small surviving pair list. Set-identical on every input by
    commutativity of intersection; the chunk-agreement predicate is
    :func:`simhash_chunk`, the banding join's key.

    The equivalence needs ``threshold > 0``: :func:`jaccard_pairs` only
    sees pairs sharing a shingle, so it cannot emit the zero-overlap
    (Jaccard 0) pairs a threshold <= 0 admits. Such thresholds raise
    ``ValueError``.
    """
    if threshold <= 0:
        raise ValueError(
            f"simhash_pairs_verified needs threshold > 0 (got {threshold}): "
            f"its Jaccard pass cannot emit pairs that share no shingle"
        )
    jp = jaccard_pairs(
        documents, text_col, n, threshold, max_shingle_freq=(1 << 62)
    ).localCheckpoint(eager=True)
    sig = pair_end_rows(simhash_signatures(documents, text_col), jp).localCheckpoint(
        eager=False
    )
    width = 64 // bands
    agree = reduce(
        lambda x, y: x | y,
        [
            simhash_chunk("_sim_a", b, width) == simhash_chunk("_sim_b", b, width)
            for b in range(bands)
        ],
    )
    return (
        attach_to_pair_ends(jp, sig, {"simhash": "_sim_"})
        .filter(agree)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution (connected components over near-dup pairs)
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 25,
    driver_max_edges: int = 5_000_000,
) -> DataFrame:
    """(doc_id, cluster_id) for every id appearing in ``pairs``, where
    cluster_id = min id reachable through the pair graph — turns pairwise
    near-dup output into keep/drop groups (one survivor per cluster).

    Algorithm: min-label propagation with POINTER JUMPING. Each node
    starts labeled with itself; every round each node takes (a) the min of
    its neighbors' labels, then (b) the label of its own label (path
    compression — the "jump"). The jump halves label-chain depth each
    round, so rounds = O(log diameter) instead of O(diameter): a
    1000-hop chain resolves in ~10 rounds, not 1000. All data movement is
    joins + hash aggregations — no Python in the row path, no driver-side
    edge list.

    Per-round driver cost is minimized two ways (r2: the convergence
    count + eager checkpoint per round made this operator 3x the next
    slowest bench query): labels are localCheckpoint(eager=False) — the
    lineage truncation point exists but nothing materializes until a real
    job runs — and convergence is only CHECKED every second round, so two
    propagation rounds execute inside one Spark job.

    SIZE-ADAPTIVE fast path: the pair list entering this operator is the
    REFINED near-dup output — orders of magnitude smaller than the corpus
    (LSH/Jaccard refinement has already run). When it fits comfortably on
    the driver (``driver_max_edges``, default 5M edges ~ 80 MB), a single
    collect + union-find resolves components exactly with zero iterative
    Spark jobs — each round of the distributed loop otherwise costs more
    in plan analysis + job launch than the whole union-find. Above the
    bound, the distributed label-propagation loop runs (unbounded scale,
    all shuffle-side).

    The size probe never recomputes the pair lineage: the pair list is
    localCheckpoint-materialized ONCE up front (both paths need it fully
    materialized anyway — the driver path collects it, the distributed
    path checkpoints it before iterating), then a count() over the
    materialized blocks decides the path. The previous
    ``limit(N+1).collect()`` probe pulled ~80 MB to the driver only to
    discard it and recompute the whole lineage in the distributed loop.
    """
    import warnings

    id_type = pairs.schema[id_a].dataType.simpleString()
    directed = pairs.select(
        F.col(id_a).alias("u"), F.col(id_b).alias("v")
    ).localCheckpoint(eager=True)
    n_edges = directed.count()  # counts materialized blocks — no recompute
    if n_edges <= driver_max_edges:
        probe = directed.collect()
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in probe:
            u, v = r["u"], r["v"]
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[ru] = rv
        cluster_min: dict = {}
        for node in parent:
            root = find(node)
            m = cluster_min.get(root)
            if m is None or node < m:
                cluster_min[root] = node
        # hand the result over as a pandas frame: createDataFrame(list)
        # pickles row-by-row through the JVM (measured 1.6 s for 9k rows);
        # the Arrow path is ~10x cheaper and type-exact for integral ids
        import pandas as pd

        nodes = list(parent)
        labels_out = [cluster_min[find(node)] for node in nodes]
        if id_type in ("tinyint", "smallint", "int", "bigint"):
            import numpy as np

            pdf_out = pd.DataFrame(
                {
                    "doc_id": np.asarray(nodes, dtype=np.int64),
                    "cluster_id": np.asarray(labels_out, dtype=np.int64),
                }
            )
        else:
            pdf_out = pd.DataFrame({"doc_id": nodes, "cluster_id": labels_out})
        return pairs.sparkSession.createDataFrame(
            pdf_out, f"doc_id {id_type}, cluster_id {id_type}"
        )

    # distributed path: symmetrize from the already-materialized edge list
    # (no pair-lineage recompute)
    edges = (
        directed.unionByName(
            directed.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        .distinct()
    )
    edges = edges.localCheckpoint(eager=True)
    labels = edges.select("u").distinct().withColumn("label", F.col("u"))
    converged = False
    for it in range(max_iter):
        # rename before joining: labels derives from edges, so joining them
        # on raw column references trips Spark's ambiguous-self-join check
        by_neighbor = labels.select(
            F.col("u").alias("_nid"), F.col("label").alias("_nlabel")
        )
        neighbor_min = (
            edges.join(by_neighbor, edges["v"] == F.col("_nid"), "inner")
            .select(F.col("u"), F.col("_nlabel"))
            .groupBy("u")
            .agg(F.min("_nlabel").alias("nmin"))
        )
        stepped = labels.join(neighbor_min, "u", "left").select(
            "u",
            F.col("label").alias("_old"),
            F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label")))
            .alias("label"),
        )
        # pointer jump: label <- label(label). Labels are node ids, so the
        # mapping is stepped itself (renamed to dodge the self-join check).
        mapper = stepped.select(
            F.col("u").alias("_mu"), F.col("label").alias("_mlabel")
        )
        new_labels = (
            stepped.join(mapper, stepped["label"] == F.col("_mu"), "left")
            .select(
                "u",
                F.least(F.col("label"), F.coalesce(F.col("_mlabel"), F.col("label")))
                .alias("label"),
                F.col("_old"),
            )
            .withColumn("_changed", F.col("label") < F.col("_old"))
            .drop("_old")
        ).localCheckpoint(eager=False)
        if it % 2 == 1 or it == max_iter - 1:
            changed = new_labels.filter(F.col("_changed")).count()
            labels = new_labels.drop("_changed")
            if changed == 0:
                converged = True
                break
        else:
            labels = new_labels.drop("_changed")
    if not converged:
        warnings.warn(
            f"connected_components exhausted max_iter={max_iter} before label "
            f"propagation converged; cluster ids may be partial (a component "
            f"wider than ~2^{max_iter} hops). Raise max_iter.",
            RuntimeWarning,
        )
    return labels.select(F.col("u").alias("doc_id"), F.col("label").alias("cluster_id"))
