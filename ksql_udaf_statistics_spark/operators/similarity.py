"""Similarity search over embedding columns (array<float>).

Three paths:

- **brute-force top-k** — the exactness baseline: the (small) query set
  is collected to the driver and scored against the corpus in ONE Arrow
  pass that keeps a per-partition top-k; a window top-k over the tiny
  candidate union finishes. No pair rows, no join.
- **IVF top-k** — the scale path: the same pass, scoring only the
  (query, row) pairs inside the query's ``n_probe`` nearest centroid
  lists; centroids are hash-sampled, optionally Lloyd-trained with one
  Arrow pass per round. Every Python pass costs a fixed per-task
  start-up, so the passes are counted: one per round, one to score.
- **LSH-blocked near-dups** — random-hyperplane signatures
  (deterministic, seeded) bucket the corpus and each bucket is scored
  locally by exact cosine; recall is tunable by (planes, bands).

All scoring is Arrow-batched numpy with float64 accumulation and one
cosine formula, ``einsum(a·b) / sqrt(einsum(a·a) * einsum(b·b))`` (r2
measured the interpreted ``F.aggregate``/``zip_with`` cosine at ~200ns
per element). A zero-norm vector has no direction: its cosine is NaN and
it is dropped, never ranked and never a near-duplicate. The pure-Column
``dot``/``norm``/``cosine`` helpers remain for Python-free plans; no hot
path uses them.

Near-duplicate-by-embedding is ``cosine >= threshold``, all-pairs
(``embedding_near_dups_exact``) or LSH-blocked (``embedding_near_dups``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType
from pyspark.sql.window import Window


def dot(a, b) -> Column:
    """Pure-Column dot product (interpreted HOF — not for hot paths;
    accumulates in float64 regardless of the storage type)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a, b) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _stack(series: pd.Series) -> np.ndarray:
    """(n, dim) float64 matrix from an Arrow array column batch."""
    return np.stack([np.asarray(v, dtype=np.float64) for v in series])


def _row_cos(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise cosine of two (n, dim) float64 matrices: the one scoring
    formula of every path. A zero-norm row gives 0/0 = NaN — a zero
    vector has no direction — and every caller drops it; errstate keeps
    that policy silent rather than accidental (r6 ADVICE)."""
    num = np.einsum("ij,ij->i", A, B)
    with np.errstate(invalid="ignore", divide="ignore"):
        return num / np.sqrt(
            np.einsum("ij,ij->i", A, A) * np.einsum("ij,ij->i", B, B)
        )


_INTEGRAL_TYPES = {"tinyint", "smallint", "int", "bigint"}


def _require_long_id(df: DataFrame, id_col: str, fn: str) -> None:
    """Fail fast on non-integral id columns.

    The Arrow hot paths (brute_force_topk, banded_signatures, ivf_topk)
    emit 64-bit integer ids (``np.int64`` conversion + ``long`` output
    schema) — the narrowest shuffle payload
    for the candidate-pair stages. A string/UUID id would otherwise fail
    deep inside an executor-side numpy conversion; this check raises at
    plan-build time with the fix (cast or zipWithIndex-style surrogate).
    """
    dtype = df.schema[id_col].dataType.simpleString()
    if dtype not in _INTEGRAL_TYPES:
        raise TypeError(
            f"{fn} requires an integral id column (got {id_col!r}: {dtype}). "
            f"Cast to long, or add a surrogate id "
            f"(e.g. df.withColumn('{id_col}', F.xxhash64('{id_col}')) or a "
            f"monotonically_increasing_id) before calling."
        )


def cosine_filter_pairs(
    pairs: DataFrame,
    threshold: float,
    a_col: str = "_va",
    b_col: str = "_vb",
    out_col: str = "cos_sim",
) -> DataFrame:
    """Score candidate pairs by exact cosine and keep ``>= threshold`` in
    ONE Arrow pass.

    A plain ``withColumn(cos) + filter(cos >= t)`` re-expands the scoring
    UDF into BOTH the Filter and the Project after Catalyst's projection
    collapse — the r5 plan audit found two ``ArrowEvalPython [_cos]``
    nodes in the LSH re-rank, doubling the Python hop on the hot path.
    ``mapInPandas`` fuses score + filter + vector-drop into a single
    Arrow exchange whose output batches carry only the id/score columns
    (narrowest possible payload back to the JVM)."""
    from pyspark.sql.types import StructField, StructType

    out_fields = [f for f in pairs.schema.fields if f.name not in (a_col, b_col)]
    names = [f.name for f in out_fields]
    schema = StructType(out_fields + [StructField(out_col, DoubleType())])

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cos = _row_cos(_stack(pdf[a_col]), _stack(pdf[b_col]))
            keep = cos >= threshold  # NaN (zero-norm) fails: dropped
            if not keep.any():
                continue
            out = pdf.loc[keep, names].copy()
            out[out_col] = cos[keep]
            yield out

    return pairs.mapInPandas(score, schema)


def _check_topk(fn, corpus, queries, id_col, k, n_probe=1) -> None:
    """Fail at plan-build time on integral-id violations and on a top-k
    that could only return nothing."""
    if k < 1 or n_probe < 1:
        raise ValueError(f"{fn}: k and n_probe must be >= 1 "
                         f"(got k={k}, n_probe={n_probe})")
    _require_long_id(corpus, id_col, fn)
    _require_long_id(queries, id_col, fn)


def _unit(M: np.ndarray) -> np.ndarray:
    """Rows scaled to unit length (a zero row stays zero)."""
    return M / (np.linalg.norm(M, axis=1, keepdims=True) + 1e-12)


def _nearest(M: np.ndarray, Cn: np.ndarray, p: int) -> np.ndarray:
    """(n, p) indices of each row's ``p`` nearest unit centroids ``Cn``
    by cosine, nearest first."""
    return np.argsort(-(_unit(M) @ Cn.T), axis=1)[:, :p]


def _scored_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    centroids: np.ndarray | None = None,
    n_probe: int = 1,
) -> DataFrame:
    """The one top-k kernel: (query_id, neighbor_id, cos_sim, rank).

    One ``mapInPandas`` pass scores each collected query, one at a time
    on gathered rows (never a queries x rows x dim block), against every
    other row (brute force) or the rows whose nearest centroid is among
    the query's ``n_probe`` nearest (IVF). Non-finite cosines are
    dropped. Each partition keeps a top-k per query under the total
    order (cos_sim desc, id asc), so the window top-k over the union
    equals a full sort.
    """
    q_rows = queries.select(id_col, vec_col).collect()
    out_schema = "query_id long, neighbor_id long, cos_sim double"
    if not q_rows:
        return corpus.sparkSession.createDataFrame([], out_schema + ", rank int")
    qids = np.array([r[id_col] for r in q_rows], dtype=np.int64)
    Q = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in q_rows])
    Cn = None if centroids is None else _unit(centroids)
    probes = None if Cn is None else _nearest(Q, Cn, n_probe)

    def score_partition(batches):
        best = [(np.array([], dtype=np.int64), np.array([]))] * len(qids)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = _stack(pdf[vec_col])
            nids = pdf[id_col].to_numpy(dtype=np.int64)
            lists = None if Cn is None else _nearest(M, Cn, 1)[:, 0]
            for qi, qid in enumerate(qids):
                keep = nids != qid
                if lists is not None:
                    keep &= np.isin(lists, probes[qi])
                rows = np.flatnonzero(keep)
                B = M[rows]
                cos = _row_cos(np.broadcast_to(Q[qi], B.shape), B)
                fin = np.isfinite(cos)
                ids = np.concatenate([best[qi][0], nids[rows[fin]]])
                sims = np.concatenate([best[qi][1], cos[fin]])
                if len(sims) > k:  # sort only rows tied with or above the k-th
                    top = sims >= np.partition(sims, len(sims) - k)[len(sims) - k]
                    ids, sims = ids[top], sims[top]
                # lexsort: last key is primary -> (-sim primary, id secondary)
                top = np.lexsort((ids, -sims))[:k]
                best[qi] = (ids[top], sims[top])
        n = [len(ids) for ids, _ in best]
        if sum(n):
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, n),
                    "neighbor_id": np.concatenate([ids for ids, _ in best]),
                    "cos_sim": np.concatenate([sims for _, sims in best]),
                }
            )

    partial = corpus.select(id_col, vec_col).mapInPandas(score_partition, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cos_sim, rank).

    ``queries`` must be small (it is collected to the driver). Self-
    matches and zero-norm vectors are excluded; ties are broken by
    neighbor id for full determinism.
    """
    _check_topk("brute_force_topk", corpus, queries, id_col, k)
    return _scored_topk(corpus, queries, k, id_col, vec_col)


def _plane_matrix(dim: int, planes: int, seed: int) -> np.ndarray:
    """Deterministic (planes, dim) hyperplane matrix in [-1, 1): seeded
    PCG64 computed once on the driver — reproducible at any parallelism,
    identical across runs."""
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.uniform(-1.0, 1.0, size=(planes, dim))


def banded_signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    planes: int,
    bands: int,
    seed: int,
) -> DataFrame:
    """(x_id, x_vec, band, bucket) rows: one Arrow matmul per batch
    computes all ``planes`` sign bits, packed per band into an integer
    bucket — the LSH blocking key. No per-plane interpreted dot products
    (r2 hot-path fix), no stored plane table. The vector rides along so
    a bucket-local scorer needs no re-attach join.
    """
    assert planes % bands == 0
    _require_long_id(df, id_col, "banded_signatures")
    rows = planes // bands
    H = _plane_matrix(dim, planes, seed)
    schema = "x_id long, x_vec array<float>, band int, bucket long"
    weights = (1 << np.arange(rows, dtype=np.int64))[None, None, :]

    def sign_and_band(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = _stack(pdf[vec_col])
            bits = (M @ H.T) >= 0  # (n, planes)
            buckets = (
                bits.reshape(len(M), bands, rows).astype(np.int64) * weights
            ).sum(axis=2)  # (n, bands)
            n = len(M)
            yield pd.DataFrame(
                {
                    "x_id": np.repeat(pdf[id_col].to_numpy(dtype=np.int64), bands),
                    # np.repeat on the object array repeats references — no
                    # per-element Python loop (r7: the list comprehension
                    # here was a visible chunk of a single-task signature
                    # pass)
                    "x_vec": np.repeat(pdf[vec_col].to_numpy(), bands),
                    "band": np.tile(np.arange(bands, dtype=np.int32), n),
                    "bucket": buckets.reshape(-1),
                }
            )

    # a small parquet corpus arrives as one ~file-sized scan split and the
    # whole Arrow signature pass would run on a single core (r7: measured
    # 4 s of the 7 s LSH wall at bench sf1.0); at production scale the
    # scan already has >= defaultParallelism splits and this is a no-op
    from .dedup import ensure_parallelism

    return ensure_parallelism(df.select(id_col, vec_col)).mapInPandas(
        sign_and_band, schema
    )


def embedding_near_dups_exact(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = 100_000,
) -> DataFrame:
    """All-pairs cosine near-duplicates — the EXACTNESS BASELINE.

    This is a BroadcastNestedLoopJoin: O(n^2) comparisons. It exists to
    validate the LSH path's recall at test scale, not to run on a real
    corpus. A guard refuses above ``max_rows`` (10^5 rows is already
    5*10^9 comparisons) and points at :func:`embedding_near_dups`, the
    banded-LSH scale path with identical output semantics minus recall.
    """
    n = corpus.count()
    if n > max_rows:
        raise ValueError(
            f"embedding_near_dups_exact is the quadratic exactness baseline "
            f"({n} rows > max_rows={max_rows}; ~{n * (n - 1) // 2:.2g} "
            f"comparisons). Use embedding_near_dups() (LSH-blocked) for "
            f"real corpora, or raise max_rows explicitly if you mean it."
        )
    a = corpus.select(F.col(id_col).alias("doc_a"), F.col(vec_col).alias("_va"))
    b = corpus.select(F.col(id_col).alias("doc_b"), F.col(vec_col).alias("_vb"))
    return cosine_filter_pairs(
        a.join(b, F.col("doc_a") < F.col("doc_b")), threshold
    ).select("doc_a", "doc_b", "cos_sim")


def embedding_near_dups(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    planes: int = 16,
    bands: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold, LSH-blocked
    (never a corpus×corpus cross join). Pairs are verified by exact
    cosine, so precision is 1; recall depends on (planes, bands).

    Plan shape (r7 rewrite): ONE shuffle of (band, bucket, id, vec) rows
    into per-(band, bucket) groups, scored bucket-locally. The r6 plan
    materialized every colliding id PAIR through a bucket self-join, a
    pair-dedup exchange, and two vector re-attach joins — at coarse
    bucket widths (rows-per-band small, e.g. 64/16 -> 4-bit buckets)
    candidate pairs approach all-pairs and those exchanges shuffled
    O(n^2) rows (measured 275 s at the 20k-vector bench scale, 34x the
    sf0.1 time for 10x the data). Bucket-local scoring shuffles only the
    n*bands signature rows and turns the pair work into dense BLAS:

    - per group, a blocked upper-triangle gram-matrix matmul prefilters
      at ``threshold - 1e-9`` (the margin is >> the ~1e-13 dgemm-vs-
      einsum float64 summation-order delta and << any real data gap, so
      no true pair is lost and no false pair admitted durably);
    - survivors (a tiny set: output pairs only) are re-scored with the
      IDENTICAL per-pair einsum kernel ``cosine_filter_pairs`` uses and
      re-tested at the exact threshold, so emitted values are
      bit-identical to the r6 path — duplicates of the same pair from
      different bands carry identical cos_sim, making the final
      ``dropDuplicates`` deterministic;
    - zero-norm vectors produce NaN cosine and are dropped, the same
      (now-documented) contract as ``cosine_filter_pairs``.

    The final dedup exchange carries only emitted near-dup pairs (output-
    sized, not candidate-sized). At 100 TB the same shape holds: one
    shuffle of signature rows, bucket-local dense scoring, output-sized
    dedup; bucket skew is bounded by the blocked matmul (constant-memory
    row blocks) and by choosing planes/bands so buckets stay O(n/2^rows).
    """
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    banded = banded_signatures(corpus, id_col, vec_col, dim, planes, bands, seed)

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "doc_a": np.array([], dtype=np.int64),
                "doc_b": np.array([], dtype=np.int64),
                "cos_sim": np.array([], dtype=np.float64),
            }
        )
        m = len(pdf)
        if m < 2:
            return empty
        ids = pdf["x_id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids, kind="stable")  # ids unique per bucket
        ids = ids[order]
        M = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf["x_vec"].to_numpy()[order]]
        )
        sq = np.einsum("ij,ij->i", M, M)
        cand_a: list[np.ndarray] = []
        cand_b: list[np.ndarray] = []
        # row-blocked gram: S block is R x m float64, R sized to ~32 MB
        R = max(1, 4_000_000 // max(m, 1))
        for r0 in range(0, m - 1, R):
            r1 = min(r0 + R, m - 1)
            S = M[r0:r1] @ M.T
            with np.errstate(invalid="ignore", divide="ignore"):
                C = S / np.sqrt(sq[r0:r1, None] * sq[None, :])
                ii, jj = np.nonzero(C >= threshold - 1e-9)
            keep = jj > ii + r0  # strict upper triangle: doc_a < doc_b
            cand_a.append(ii[keep] + r0)
            cand_b.append(jj[keep])
        ia = np.concatenate(cand_a) if cand_a else np.array([], dtype=np.int64)
        if len(ia) == 0:
            return empty
        ib = np.concatenate(cand_b)
        # exact re-score of the survivors with the one cosine formula
        # (same ops, same order as cosine_filter_pairs -> same bits)
        cos = _row_cos(M[ia], M[ib])
        keep = cos >= threshold
        return pd.DataFrame(
            {"doc_a": ids[ia[keep]], "doc_b": ids[ib[keep]], "cos_sim": cos[keep]}
        )

    scored = banded.groupBy("band", "bucket").applyInPandas(
        score_bucket, "doc_a long, doc_b long, cos_sim double"
    )
    return scored.dropDuplicates(["doc_a", "doc_b"]).select(
        "doc_a", "doc_b", "cos_sim"
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse quantizer + probed exact re-rank
# ---------------------------------------------------------------------------

def _sampled_centroids(
    corpus: DataFrame, n_centroids: int, id_col: str, vec_col: str, seed: int
) -> np.ndarray:
    """Deterministic hash-sampled seed centroids (r4 choice, k-means seed
    in r6): the n_centroids corpus vectors with the smallest
    ``xxhash64(id, seed)`` — order-stable across runs and partitionings."""
    cent_rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(n_centroids)
        .collect()
    )
    return np.array([np.asarray(r[vec_col], dtype=np.float64) for r in cent_rows])


def _lloyd_round(base: DataFrame, C: np.ndarray, vec_col: str) -> np.ndarray:
    """One Lloyd round: per-partition (cluster, count, row-order sum)
    partials, merged on the driver in partition order."""
    Cn = _unit(C)
    n_c, dim = C.shape

    def partials(batches):
        n = np.zeros(n_c, dtype=np.int64)
        s = np.zeros((n_c, dim))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = _stack(pdf[vec_col])
            label = _nearest(M, Cn, 1)[:, 0]
            np.add.at(n, label, 1)
            np.add.at(s, label, M)
        hit = np.flatnonzero(n)
        if len(hit):
            yield pd.DataFrame(
                {"cluster": hit.astype(np.int32), "n": n[hit], "s": list(s[hit])}
            )

    n = np.zeros(n_c, dtype=np.int64)
    s = np.zeros((n_c, dim))
    schema = "cluster int, n long, s array<double>"
    for r in base.mapInPandas(partials, schema).collect():
        n[r["cluster"]] += r["n"]
        s[r["cluster"]] += np.asarray(r["s"], dtype=np.float64)
    hit = n > 0
    newC = C.copy()
    newC[hit] = s[hit] / n[hit, None].astype(np.float64)
    return newC


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
) -> np.ndarray:
    """K-means (Lloyd) training of the IVF coarse quantizer, seeded from
    the deterministic hash sample.

    Each round is ONE Arrow pass: every partition assigns its rows their
    nearest centroid and emits per-cluster (count, sum) partials — the
    field-wise-sum ``merge()`` of a moment accumulator — so there is no
    explode and no shuffle, and ``partitions * n_centroids * dim``
    doubles reach the driver. Sums run in row order and merge in
    partition order, as a hash-aggregate ``avg`` would, so the means
    depend on the partitioning only through float64 summation order.
    Empty clusters keep their previous centroid.

    Better-trained centroids raise recall at fixed ``n_probe`` on
    clustered corpora (the usual IVF contract); with
    ``n_probe == n_centroids`` results still equal brute force exactly,
    which is how ``ann_ivf_verified`` keeps the trained path under the
    exact DuckDB oracle."""
    # materialize the narrowed corpus once (r7): every Lloyd round re-read
    # and re-decoded the source parquet otherwise; localCheckpoint keeps
    # the partitioning, so every partial and centroid is unchanged
    base = corpus.select(id_col, vec_col).localCheckpoint(eager=False)
    C = _sampled_centroids(base, n_centroids, id_col, vec_col, seed)
    for _ in range(max(n_iters, 0)):
        C = _lloyd_round(base, C, vec_col)
    return C


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 11,
    train_iters: int = 0,
) -> DataFrame:
    """IVF approximate top-k: each query probes its ``n_probe`` nearest
    centroid lists and is re-ranked exactly within them.

    Centroids are the hash sample, Lloyd-trained for ``train_iters``
    rounds. Scoring is the one pass :func:`brute_force_topk` uses: the
    queries get their probe lists on the driver, each corpus batch its
    nearest centroid inside the pass, and only pairs in a probed list
    are scored. With ``n_probe == n_centroids`` the result equals brute
    force. Same output schema as brute_force_topk.
    """
    _check_topk("ivf_topk", corpus, queries, id_col, k, n_probe)
    if train_iters > 0:
        centroids = train_ivf_centroids(
            corpus, n_centroids, train_iters, id_col, vec_col, seed
        )
    else:
        centroids = _sampled_centroids(corpus, n_centroids, id_col, vec_col, seed)
    return _scored_topk(corpus, queries, k, id_col, vec_col, centroids, n_probe)
