"""Tests for the training-pipeline operators: text analysis, dedup
(exact / Jaccard / MinHash / SimHash / embedding-cosine), ANN similarity,
and multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ksql_udaf_statistics_spark.operators import dedup as D
from ksql_udaf_statistics_spark.operators import multimodal as MM
from ksql_udaf_statistics_spark.operators import similarity as S
from ksql_udaf_statistics_spark.operators import text as T


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


# -- text -------------------------------------------------------------------

def test_text_profile_matches_python(docs):
    rows = T.text_profile(docs).orderBy("doc_id").limit(20).collect()
    raw = {r["doc_id"]: r["text"] for r in docs.orderBy("doc_id").limit(20).collect()}
    import re

    for r in rows:
        text = raw[r["doc_id"]]
        ws = text.split(" ")
        assert r["n_words"] == len(ws)
        assert r["n_bpe_tokens"] == len(re.findall(r"\w+|[^\w\s]", text))
        assert r["avg_word_len"] == pytest.approx(
            sum(map(len, ws)) / len(ws), abs=1e-9
        )
        stop = sum(1 for w in ws if w.lower() in T.STOPWORDS)
        assert r["stopword_ratio"] == pytest.approx(stop / len(ws), abs=1e-9)
        assert 0.0 <= r["quality"] <= 1.0
        assert r["lang_pred"] in ("en", "unknown")
        assert r["fingerprint"] == int(
            __import__("hashlib").md5(text.encode()).hexdigest()[:15], 16
        )


# -- dedup ------------------------------------------------------------------

@pytest.fixture(scope="module")
def docs_with_dups(spark, docs):
    """Original corpus + exact copies + near-copies (one word changed)."""
    base = docs.limit(50).select("doc_id", "text", "source")
    exact = base.limit(10).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "source"
    )
    near = base.limit(10).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.lit("zzz "), F.col("text")).alias("text"),
        "source",
    )
    return base.unionByName(exact).unionByName(near).cache()


def test_exact_dedup(spark, docs_with_dups):
    groups = D.exact_duplicates(docs_with_dups).collect()
    dup_groups = [g for g in groups if g["n_dups"] > 1]
    assert len(dup_groups) == 10
    assert all(g["keep_id"] < 100000 for g in dup_groups)
    kept = D.dedup_exact(docs_with_dups)
    assert kept.count() == 60  # 50 base + 10 near (exact copies collapsed)


def test_jaccard_pairs_match_python_oracle(docs_with_dups):
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.jaccard_pairs(docs_with_dups, n=3, threshold=0.5).collect()
    }
    pdf = docs_with_dups.toPandas()
    sets = {
        r.doc_id: set(
            " ".join(r.text.split(" ")[i : i + 3])
            for i in range(max(len(r.text.split(" ")) - 2, 1))
        )
        for r in pdf.itertuples()
    }
    ids = sorted(sets)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if inter:
                j = inter / len(sets[a] | sets[b])
                if j >= 0.5:
                    want[(a, b)] = j
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9)
    # every exact copy pair is found at jaccard 1.0
    assert sum(1 for v in got.values() if v == pytest.approx(1.0)) >= 10


def test_minhash_lsh_finds_near_dups(docs_with_dups):
    pairs = D.minhash_lsh_pairs(
        docs_with_dups, num_hashes=32, bands=8, threshold=0.5
    ).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    high_jaccard = {
        (r["doc_a"], r["doc_b"])
        for r in D.jaccard_pairs(docs_with_dups, threshold=0.95).collect()
    }
    assert high_jaccard <= found  # recall over >=0.95-jaccard pairs
    # identical-text pairs (jaccard exactly 1.0) estimate at exactly 1.0
    exact_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in D.jaccard_pairs(docs_with_dups, threshold=1.0).collect()
    }
    assert len(exact_pairs) >= 10
    est = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in pairs}
    for p in exact_pairs:
        assert est[p] == pytest.approx(1.0)


@pytest.mark.parametrize("max_shingle_freq", [1000, 3])
def test_jaccard_self_join_fallback_equals_broadcast_index(
    docs_with_dups, max_shingle_freq
):
    """broadcast_index_max_rows=0 forces the bucket self-join path; it
    must return the broadcast-index path's pairs and values exactly,
    with and without the shingle-frequency cap biting."""

    def run(**kw):
        return {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in D.jaccard_pairs(
                docs_with_dups, threshold=0.05,
                max_shingle_freq=max_shingle_freq, **kw,
            ).collect()
        }

    broadcast = run()
    assert len(broadcast) >= 20
    assert run(broadcast_index_max_rows=0) == broadcast


def test_minhash_lsh_pairs_are_thresholded_candidates(docs_with_dups):
    """minhash_lsh_pairs = the MinHash candidate pass over the same
    signatures, kept where the estimated Jaccard (matching minhashes /
    num_hashes) clears the threshold."""
    sigs = {
        r["doc_id"]: r["sig"]
        for r in D.minhash_signatures(docs_with_dups, num_hashes=32).collect()
    }
    cands = D.minhash_candidate_pairs(docs_with_dups, num_hashes=32, bands=8)
    want = {}
    for r in cands.collect():
        a, b = r["doc_a"], r["doc_b"]
        est = sum(x == y for x, y in zip(sigs[a], sigs[b])) / 32
        if est >= 0.5:
            want[(a, b)] = est
    got = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in D.minhash_lsh_pairs(
            docs_with_dups, num_hashes=32, bands=8, threshold=0.5
        ).collect()
    }
    assert len(want) >= 20
    assert got == want


@pytest.mark.parametrize("threshold", [0.0, -0.5])
def test_simhash_pairs_verified_needs_positive_threshold(docs_with_dups, threshold):
    # jaccard_pairs cannot emit zero-overlap pairs, so the claimed
    # equality with all-pairs Jaccard >= threshold fails at threshold <= 0
    with pytest.raises(ValueError, match="threshold > 0"):
        D.simhash_pairs_verified(docs_with_dups, threshold=threshold)


def test_ensure_parallelism_ignores_join_named_columns(spark, tmp_dir):
    """A column aliased ``JoinKey`` is not a Join node: the 1-partition
    scan is still spread to defaultParallelism."""
    import os

    path = os.path.join(tmp_dir, "one_file")
    spark.range(100).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path).select(F.col("id").alias("JoinKey"))
    assert df.rdd.getNumPartitions() == 1
    out = D.ensure_parallelism(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


@pytest.mark.parametrize("set_op", ["intersect", "subtract"])
def test_ensure_parallelism_leaves_set_ops_unprobed(spark, monkeypatch, set_op):
    """Intersect/Except shuffle: the plan is returned as is, without the
    ``.rdd`` partition probe that would execute it under AQE."""
    df = getattr(spark.range(10), set_op)(spark.range(5))
    monkeypatch.setattr(
        type(df), "rdd",
        property(lambda self: pytest.fail("ensure_parallelism probed .rdd")),
    )
    assert D.ensure_parallelism(df) is df


def test_simhash_finds_near_dups(docs_with_dups):
    # bands=8 -> 8-bit chunks -> pigeonhole guarantees recall for any pair
    # with Hamming distance <= 7 (the one-word near-copies measure 1-7)
    pairs = D.simhash_pairs(docs_with_dups, max_hamming=8, bands=8).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    high_jaccard = {
        (r["doc_a"], r["doc_b"])
        for r in D.jaccard_pairs(docs_with_dups, threshold=0.95).collect()
    }
    assert high_jaccard <= found
    ham = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs}
    exact_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in D.jaccard_pairs(docs_with_dups, threshold=1.0).collect()
    }
    for p in exact_pairs:
        assert ham[p] == 0  # identical text -> identical simhash


# -- similarity -------------------------------------------------------------

def _clustered(spark, seed):
    """8 well-separated clusters of 60 32-dim vectors; ids 60c.. 60c+59."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(0, 1, size=(8, 32)) * 10
    rows = [
        (ci * 60 + j, (c + rng.normal(0, 0.5, 32)).astype("float32").tolist())
        for ci, c in enumerate(centers)
        for j in range(60)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk_matches_numpy(spark, emb):
    queries = emb.filter(F.col("vec_id") < 5)
    got = S.brute_force_topk(emb, queries, k=10).collect()
    pdf = emb.toPandas()
    M = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy()
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    sims = Mn @ Mn.T
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        qi = int(np.where(ids == q)[0][0])
        s = sims[qi].copy()
        s[qi] = -np.inf
        # sort by (-sim, id) to mirror the deterministic tie-break
        order = sorted(range(len(s)), key=lambda j: (-s[j], ids[j]))[:10]
        want = [(int(ids[j]), s[j]) for j in order]
        gotl = sorted(rows, key=lambda r: r["rank"])
        for (wid, wsim), g in zip(want, gotl):
            assert g["neighbor_id"] == wid
            assert g["cos_sim"] == pytest.approx(wsim, abs=1e-6)


def test_embedding_near_dups_blocked(spark, emb):
    """Duplicate a few vectors; LSH-blocked near-dup must find the copies
    (cosine 1.0 collides in every band)."""
    copies = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
    )
    df = emb.unionByName(copies)
    pairs = S.embedding_near_dups(df, threshold=0.999).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    for i in range(5):
        assert (i, i + 10000) in found


# -- multimodal -------------------------------------------------------------

def test_multimodal_plumbing(spark):
    media = MM.synthesize_media_table(spark, 200, partitions=4)
    # compare names/types (nullability flags differ between synthesized
    # expressions and the declared schema — not meaningful here)
    assert media.schema.simpleString() == MM.MEDIA_SCHEMA.simpleString()
    feats = MM.extract_features(media)
    assert feats.schema.simpleString() == MM.FEATURES_SCHEMA.simpleString()
    rows = feats.collect()
    assert len(rows) == 200
    assert all(len(r["features"]) == MM.FEATURE_DIM for r in rows)
    assert all(r["payload_bytes"] == 64 for r in rows)  # sha2-256 hex as bytes
    # deterministic: same synthesis -> same features
    again = {r["media_id"]: r["features"] for r in MM.extract_features(
        MM.synthesize_media_table(spark, 200, partitions=8)).collect()}
    for r in rows:
        assert again[r["media_id"]] == r["features"]
    # no shuffle: partition count preserved through mapInPandas
    assert feats.rdd.getNumPartitions() == media.rdd.getNumPartitions()


def test_wav_roundtrip_and_decode_dispatch():
    """Real codecs: WAV and PPM encode/decode round-trip bit-exactly;
    unknown containers raise ValueError (defined error semantics)."""
    import numpy as np

    samples = ((np.arange(977, dtype=np.int64) * 7919) % 65536 - 32768)
    payload = MM.encode_wav(samples, sample_rate=8000)
    rate, back = MM.decode_wav(payload)
    assert rate == 8000
    assert np.array_equal(back, samples.astype("<i2"))
    # odd-sized data chunk exercises word-alignment in the chunk walk
    rate2, back2 = MM.decode_wav(MM.encode_wav(samples[:33], 16000))
    assert len(back2) == 33
    pix = (np.arange(5 * 4 * 3, dtype=np.uint8)).reshape(5, 4, 3)
    img = MM.decode_ppm(MM.encode_ppm(pix))
    assert np.array_equal(img, pix)
    feats = MM.decode_payload(payload, "audio")
    assert feats.dtype == np.float32 and len(feats) == 977
    with pytest.raises(ValueError):
        MM.decode_payload(b"\x00\x01\x02\x03junk", "video")


def test_audio_stats_via_real_decoder(spark):
    """synthesize_wav_media -> audio_stats drives the real WAV parser in
    Arrow batches; verify against a driver-side numpy oracle."""
    import numpy as np

    docs = spark.createDataFrame(
        [(d, f"src{d % 3}") for d in range(40)], "doc_id long, source string"
    )
    out = {r["media_id"]: r for r in
           MM.audio_stats(MM.synthesize_wav_media(docs)).collect()}
    assert len(out) == 40
    for d in range(40):
        n = 50 + d % 50
        i = np.arange(n, dtype=np.int64)
        samples = (d * 31 + i * 7) % 65536 - 32768
        r = out[str(d)]
        assert r["n_samples"] == n
        assert r["amp_sum"] == int(samples.sum())
        assert r["amp_max"] == int(samples.max())
        assert r["sample_rate"] == 16000


def test_extract_features_real_codec(spark):
    """use_real_codec=True end-to-end: decoded WAV heads become features."""
    import numpy as np

    docs = spark.createDataFrame(
        [(d, "s") for d in range(6)], "doc_id long, source string"
    )
    media = MM.synthesize_wav_media(docs).select(
        "media_id", F.lit("audio").alias("kind"), "payload",
        F.struct(
            F.lit(0).cast("int").alias("width"),
            F.lit(0).cast("int").alias("height"),
            F.lit(16000).cast("int").alias("sample_rate"),
            F.lit(1).cast("int").alias("n_frames"),
        ).alias("meta"),
    )
    rows = MM.extract_features(media, use_real_codec=True).collect()
    assert len(rows) == 6
    for r in rows:
        d = int(r["media_id"])
        i = np.arange(MM.FEATURE_DIM, dtype=np.int64)
        want = ((d * 31 + i * 7) % 65536 - 32768).astype(np.float32) / 32768.0
        assert np.allclose(r["features"], want)


def test_frame_sample_plan(spark):
    media = MM.synthesize_media_table(spark, 100)
    plan = MM.frame_sample_plan(media, every_n=10)
    rows = plan.groupBy("media_id").agg(F.count("*").alias("n"),
                                        F.max("frame_idx").alias("mx")).collect()
    meta = {r["media_id"]: r["meta"]["n_frames"]
            for r in media.filter(F.col("kind") == "video").collect()}
    assert set(meta) == {r["media_id"] for r in rows}
    for r in rows:
        n_frames = meta[r["media_id"]]
        assert r["n"] == len(range(0, n_frames, 10))


def test_ivf_topk_recall_on_clustered_vectors(spark):
    """IVF must achieve high recall when the corpus actually clusters:
    synthesize 8 well-separated clusters, query members of each."""
    df = _clustered(spark, 11).cache()
    queries = df.filter(F.col("vec_id") % 60 == 0)  # one per cluster
    exact = S.brute_force_topk(df, queries, k=5)
    approx = S.ivf_topk(df, queries, k=5, n_centroids=16, n_probe=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"IVF recall too low on clustered data: {recall}"


def test_asof_join_edges(spark):
    from ksql_udaf_statistics_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("k1", "2024-01-01 10:00:00", 1), ("k1", "2024-01-01 12:00:00", 2),
         ("k2", "2024-01-01 10:00:00", 3),  # key with no right rows
         ("k1", "2024-01-01 08:00:00", 4)],  # before any right row
        "key string, ts string, event_id int",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [("k1", "2024-01-01 09:00:00", 100.0), ("k1", "2024-01-01 11:00:00", 200.0)],
        "key string, r_ts string, price double",
    ).withColumn("r_ts", F.col("r_ts").cast("timestamp"))
    out = {r["event_id"]: r["price"] for r in asof_join(
        left, right, on="key", left_ts="ts", right_ts="r_ts", right_vals=["price"]
    ).collect()}
    assert out[1] == 100.0   # latest right <= 10:00 is 09:00
    assert out[2] == 200.0   # latest right <= 12:00 is 11:00
    assert out[3] is None    # key without right rows
    assert out[4] is None    # left row before any right row


def test_asof_join_tie_and_paths_agree(spark):
    """Timestamp ties resolve deterministically (greatest value wins) and
    the pandas and pure-Column paths produce identical results — including
    on a skewed key that dominates the input."""
    import random

    from ksql_udaf_statistics_spark.operators.asof import (
        asof_join,
        asof_join_columns,
    )

    rng = random.Random(7)
    # one dominant key (k0: 2000 rows) + 10 small keys; duplicate right ts
    left_rows = [
        (f"k{0 if i < 2000 else rng.randint(1, 10)}",
         f"2024-01-01 {rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:00",
         i)
        for i in range(2400)
    ]
    right_rows = []
    for i in range(600):
        k = f"k{0 if i < 500 else rng.randint(1, 10)}"
        ts = f"2024-01-01 {rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:00"
        right_rows.append((k, ts, float(rng.randint(1, 100))))
        if i % 7 == 0:  # force duplicate right timestamps
            right_rows.append((k, ts, float(rng.randint(1, 100))))
    left = spark.createDataFrame(
        left_rows, "key string, ts string, event_id int"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        right_rows, "key string, r_ts string, price double"
    ).withColumn("r_ts", F.col("r_ts").cast("timestamp"))

    kw = dict(on="key", left_ts="ts", right_ts="r_ts", right_vals=["price"])
    a = {r["event_id"]: r["price"] for r in asof_join(left, right, **kw).collect()}
    b = {r["event_id"]: r["price"]
         for r in asof_join_columns(left, right, **kw).collect()}
    assert a == b
    # repartitioning must not change the result (stable tie rule)
    c = {r["event_id"]: r["price"]
         for r in asof_join(left.repartition(13), right.repartition(5), **kw).collect()}
    assert a == c
    # tie rule: at equal right timestamps the greatest value wins
    best = {}
    for k, ts, v in right_rows:
        best[(k, ts)] = max(v, best.get((k, ts), v))
    for k, lts, eid in left_rows:
        cands = [(ts, val) for (kk, ts), val in best.items()
                 if kk == k and ts <= lts]
        expected = max(cands)[1] if cands else None
        assert a[eid] == expected, (eid, k, lts, a[eid], expected)


def test_embedding_near_dups_exact_guard_fires(spark, emb):
    """The quadratic exactness baseline refuses corpora above max_rows and
    names the LSH scale path in the error."""
    with pytest.raises(ValueError, match="embedding_near_dups"):
        S.embedding_near_dups_exact(emb, threshold=0.9, max_rows=10)
    # under the cap it runs (and at this corpus there are no 0.9-near-dups)
    assert S.embedding_near_dups_exact(
        emb.limit(20), threshold=0.999, max_rows=100
    ).count() == 0


def test_connected_components(spark):
    """Min-label propagation resolves pair graphs into clusters: a chain,
    a triangle, an isolated pair — cluster_id = min reachable id."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain 1-2-3-4
         (10, 11), (11, 12), (10, 12),  # triangle
         (20, 21)],                   # isolated pair
        "doc_a long, doc_b long",
    )
    got = {r["doc_id"]: r["cluster_id"]
           for r in D.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


def test_connected_components_long_chain_pointer_jumping(spark):
    """A 61-node chain (diameter 60) must converge within the default
    max_iter=25: pointer jumping (label <- label(label)) halves label-chain
    depth per round, so rounds = O(log diameter), not O(diameter). Plain
    min-label propagation would need 60 rounds here."""
    import warnings

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "doc_a long, doc_b long"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # non-convergence warning -> failure
        got = {r["doc_id"]: r["cluster_id"]
               for r in D.connected_components(
                   pairs, driver_max_edges=0  # force the distributed loop
               ).collect()}
    assert len(got) == 61
    assert set(got.values()) == {0}


def test_connected_components_nonconvergence_warns(spark):
    """Exhausting max_iter without convergence must warn, not silently
    return partial labels (r2 ADVICE)."""
    import warnings

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_a long, doc_b long"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        D.connected_components(pairs, max_iter=2, driver_max_edges=0).collect()
    assert any("converge" in str(x.message) for x in w)


def test_repetition_ratio(spark):
    """The boilerplate rule: looping text scores high, distinct text 0."""
    df = spark.createDataFrame(
        [(1, "spam ham eggs " * 10 + "end of doc"),   # repeated trigrams
         (2, "every word here is completely different today")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["r"] for r in df.select(
        "doc_id", T.repetition_ratio(F.col("text")).alias("r")).collect()}
    assert got[2] == 0.0
    assert got[1] > 0.8


def test_image_stats_via_real_decoder(spark):
    """synthesize_ppm_media -> image_stats drives the real PPM parser in
    Arrow batches (r5 image mirror of the WAV gate); verify against a
    driver-side numpy oracle."""
    import numpy as np

    docs = spark.createDataFrame(
        [(d, f"src{d % 3}") for d in range(30)], "doc_id long, source string"
    )
    out = {r["media_id"]: r for r in
           MM.image_stats(MM.synthesize_ppm_media(docs)).collect()}
    assert len(out) == 30
    for d in range(30):
        w, h = 8 + d % 9, 6 + d % 7
        p = np.arange(w * h * 3, dtype=np.int64)
        px = (d * 13 + p * 5) % 256
        r = out[str(d)]
        assert (r["width"], r["height"]) == (w, h)
        assert r["n_subpixels"] == w * h * 3
        assert r["px_sum"] == int(px.sum())
        assert r["px_max"] == int(px.max())


def test_ppm_decoder_handles_comments():
    """PPM headers may carry comment lines between fields."""
    import numpy as np

    pix = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    payload = b"P6\n# a comment\n3 2\n# another\n255\n" + pix.tobytes()
    back = MM.decode_ppm(payload)
    assert (back == pix).all()


def test_bucketed_join_avoids_shuffle(spark, sf_dir):
    """The co-located join strategy claimed for 100 TB: two tables
    bucketed+sorted on the join key join WITHOUT any Exchange (each
    bucket pairs by file), vs the same join on plain parquet which must
    shuffle both sides. This is the physical-layout lever (bucketBy /
    Iceberg bucket partition transform) for repeated large-large joins
    like doc-metadata x doc-scores."""
    from pyspark.sql import functions as F

    spark.sql("DROP TABLE IF EXISTS b_docs")
    spark.sql("DROP TABLE IF EXISTS b_scores")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"), "source"
    )
    scores = docs.select(
        "doc_id", (F.col("doc_id") % 7).cast("double").alias("score")
    )
    aqe_was = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # disable broadcast so the plan decision is bucketing, not size
    thresh_was = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs.write.bucketBy(4, "doc_id").sortBy("doc_id").mode(
            "overwrite").saveAsTable("b_docs")
        scores.write.bucketBy(4, "doc_id").sortBy("doc_id").mode(
            "overwrite").saveAsTable("b_scores")
        j = spark.table("b_docs").join(spark.table("b_scores"), "doc_id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
        assert "SortMergeJoin" in plan
        # same join on unbucketed inputs shuffles both sides
        plain = docs.join(scores, "doc_id")
        plan2 = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan2
        # and the bucketed join is correct
        assert j.count() == docs.count()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_was)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh_was)
        spark.sql("DROP TABLE IF EXISTS b_docs")
        spark.sql("DROP TABLE IF EXISTS b_scores")


def test_boilerplate_strip_coverage(spark):
    """r6: boilerplate_covered_count marks a word covered iff any 3-gram
    occurrence over it is in the set — overlapping matches union, short
    docs have no full shingle, non-matching docs count 0."""
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="x a b c y"),        # one interior match -> 3
            Row(doc_id=2, text="a b a b a"),        # overlap at 0 and 2 -> 5
            Row(doc_id=3, text="a b"),              # too short -> 0
            Row(doc_id=4, text="q r s t"),          # no match -> 0
            Row(doc_id=5, text="a b c a b c"),      # starts 0 and 3 -> 6
        ]
    )
    bt = T.boilerplate_covered_count(F.col("text"), ["a b c", "a b a"], n=3)
    got = {r["doc_id"]: r["bt"] for r in docs.select("doc_id", bt.alias("bt")).collect()}
    assert got == {1: 3, 2: 5, 3: 0, 4: 0, 5: 6}
    # positional shingles keep order and multiplicity (no distinct)
    sh = docs.filter(F.col("doc_id") == 5).select(
        T.positional_shingles(F.col("text"), 3).alias("s")
    ).collect()[0]["s"]
    assert sh == ["a b c", "b c a", "c a b", "a b c"]


def _nearest_centroid(M, C):
    """Each row's nearest centroid by cosine, ties to the lower index."""
    def unit(X):
        return X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-12)

    return np.argsort(-(unit(M) @ unit(C).T), axis=1)[:, 0]


def _numpy_lloyd(M, C, rounds):
    """Reference Lloyd rounds over the whole corpus matrix ``M``."""
    for _ in range(rounds):
        label = _nearest_centroid(M, C)
        C = np.array([M[label == c].mean(axis=0) if (label == c).any() else C[c]
                      for c in range(len(C))])
    return C


def test_ivf_trained_centroids_recall(spark):
    """r6: k-means-trained centroids must match or beat the hash-sampled
    seed's recall at the same n_probe on a clustered corpus, and with
    n_probe == n_centroids the trained path still equals brute force."""
    df = _clustered(spark, 7).cache()
    queries = df.filter(F.col("vec_id") % 60 == 0)
    exact_rows = {tuple(r) for r in S.brute_force_topk(df, queries, k=5).collect()}
    exact = {(q, n) for q, n, _, _ in exact_rows}

    def recall(train_iters):
        got = {(r["query_id"], r["neighbor_id"])
               for r in S.ivf_topk(df, queries, k=5, n_centroids=16, n_probe=2,
                                   train_iters=train_iters).collect()}
        return len(exact & got) / len(exact)

    r_sampled, r_trained = recall(0), recall(2)
    assert r_trained >= r_sampled, (r_trained, r_sampled)
    assert r_trained >= 0.9, r_trained
    # probe-all exactness survives training; both paths score with one
    # kernel, so whole rows agree, cos_sim to the bit
    full = {tuple(r) for r in S.ivf_topk(df, queries, k=5, n_centroids=16,
                                        n_probe=16, train_iters=2).collect()}
    assert full == exact_rows


def test_ivf_topk_runs_at_most_seven_spark_jobs(spark):
    """Seed sample, one job per Lloyd round, the query collect and one
    scoring pass with its window top-k: no probe join, no pair dedup,
    no per-round aggregation shuffle."""
    df = _clustered(spark, 7).cache()
    df.count()
    queries = df.filter(F.col("vec_id") % 60 == 0)
    sc = spark.sparkContext
    sc.setJobGroup("ivf_topk_jobs", "ivf_topk, trained, probe-all")
    try:
        S.ivf_topk(df, queries, k=5, n_centroids=16, n_probe=16,
                   train_iters=2).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job records reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("ivf_topk_jobs")) <= 7


def test_lloyd_centroids_match_numpy_at_any_partitioning(spark):
    """A Lloyd round's per-cluster (count, sum) partials merge to the
    same means however the corpus is split, and equal a numpy Lloyd."""
    df = _clustered(spark, 7)
    M = np.array([r["embedding"] for r in df.orderBy("vec_id").collect()],
                 dtype=np.float64)
    seeds = S.train_ivf_centroids(df, n_centroids=16, n_iters=0)
    want = _numpy_lloyd(M, seeds, 2)
    for parts in (1, 7):
        got = S.train_ivf_centroids(df.repartition(parts).cache(),
                                    n_centroids=16, n_iters=2)
        np.testing.assert_allclose(got, want, rtol=0, atol=1e-12)


def test_lloyd_empty_cluster_keeps_its_centroid(spark):
    """Rows lie on two axes and every cosine is one exact product. Of the
    seeds on one axis only the longest wins that axis's rows (its unit
    row, scaled by ``1 / (norm + 1e-12)``, is nearest to 1), so the other
    seeds get no rows and keep their centroid."""
    rows = [(i, [float(1 + i // 2), 0.0] if i % 2 else [0.0, float(1 + i // 2)])
            for i in range(24)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    seeds = S.train_ivf_centroids(df, n_centroids=4, n_iters=0)
    got = S.train_ivf_centroids(df, n_centroids=4, n_iters=1)
    M = np.array([v for _, v in rows])
    label = _nearest_centroid(M, seeds)
    empty = [c for c in range(4) if not (label == c).any()]
    assert len(empty) >= 2  # four seeds on two axes
    np.testing.assert_array_equal(got[empty], seeds[empty])
    np.testing.assert_array_equal(got, _numpy_lloyd(M, seeds, 1))


@pytest.mark.parametrize("path", ["brute_force", "ivf"])
def test_zero_norm_vectors_never_enter_a_topk(spark, path):
    """A zero vector has no direction: as a query it gets no neighbours,
    as a corpus row it is nobody's neighbour, and no cos_sim is null."""
    rng = np.random.default_rng(3)
    rows = [(i, rng.normal(0, 1, 8).astype("float32").tolist()) for i in range(60)]
    rows.append((100, [0.0] * 8))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter((F.col("vec_id") < 3) | (F.col("vec_id") == 100))
    if path == "brute_force":
        got = S.brute_force_topk(df, queries, k=3).collect()
    else:
        got = S.ivf_topk(df, queries, k=3, n_centroids=4, n_probe=4).collect()
    assert sorted((r["query_id"], r["rank"]) for r in got) == [
        (q, rank) for q in range(3) for rank in (1, 2, 3)
    ]
    assert all(r["neighbor_id"] != 100 and np.isfinite(r["cos_sim"]) for r in got)


@pytest.mark.parametrize(
    "call",
    [
        lambda c, q: S.brute_force_topk(c, q, k=0),
        lambda c, q: S.ivf_topk(c, q, k=0),
        lambda c, q: S.ivf_topk(c, q, n_probe=0),
    ],
    ids=["brute_force_k0", "ivf_k0", "ivf_n_probe0"],
)
def test_topk_rejects_k_or_n_probe_below_one(emb, call):
    with pytest.raises(ValueError):
        call(emb, emb.filter(F.col("vec_id") < 5))
