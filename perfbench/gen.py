"""Seeded input generators for the benchmark.

Every input is a pure function of ``(seed, size)`` and is written with
numpy/pyarrow only, so a change to the engine cannot change what it is fed.
Inputs are cached per ``(kind, seed, size)`` under the benchmark's work
directory; generation time is kept out of every metric.

- :func:`ksql_ops`: the INSERT/pull statement stream for ``ksql_pull``.
- :func:`batch_tables`: ``events``, ``lineitem``, ``documents`` and
  ``embeddings`` for the ``batch`` workload.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1)
EPOCH_US = int(EPOCH.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
# keep the newest few inputs per kind: a steadiness check walks many seeds
KEEP_PER_KIND = 3


def _rng(seed: int, kind: str) -> np.random.Generator:
    # one independent stream per (seed, input kind)
    return np.random.default_rng([seed, sum(map(ord, kind))])


def _zipf_index(rng: np.random.Generator, n: int, size: int, s: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return rng.choice(n, size=size, p=p / p.sum())


def _cached(root: str, kind: str, seed: int, size: dict, build) -> str:
    """Build ``kind`` into ``root/<kind>-<seed>-<size>`` once; evict old ones."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    out = os.path.join(root, f"{kind}-s{seed}-{tag}")
    if os.path.exists(os.path.join(out, "_DONE")):
        os.utime(out)
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp, _rng(seed, kind), **size)
    open(os.path.join(tmp, "_DONE"), "w").close()
    try:
        os.replace(tmp, out)
    except OSError:
        # another run built the same input first; theirs is identical
        shutil.rmtree(tmp, ignore_errors=True)
    olds = sorted(
        (os.path.join(root, d) for d in os.listdir(root)
         if d.startswith(kind + "-") and ".tmp" not in d),
        key=os.path.getmtime,
    )
    for d in olds[:-KEEP_PER_KIND]:
        shutil.rmtree(d, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# ksql_pull: INSERT batches + point pull queries, with the generator's truth
# ---------------------------------------------------------------------------

KSQL_KEYS = 8


def _build_ksql(out, rng, ops, rows):
    """``ops`` ops of ``rows`` INSERTs each. Event time advances 2 minutes
    per op (a 5-minute window spans ~2.5 ops); a fifth of each op's rows
    land in the previous window. Values are 3-decimal doubles and weights
    small integers, so every sum the truth needs is exact."""
    plan = []
    for i in range(ops):
        keys = _zipf_index(rng, KSQL_KEYS, rows, s=0.8)
        t = 120 * i + rng.integers(0, 120, size=rows)
        back = rng.random(rows) < 0.2
        t = np.maximum(np.where(back, t - 300, t), 0)
        vals = np.round(rng.lognormal(3.0, 0.6, size=rows), 3)
        wts = rng.integers(1, 6, size=rows)
        plan.append({
            "rows": [[f"k{k}", float(v), int(w), int(s)] for k, v, w, s in zip(keys, vals, wts, t)],
            # pull the key this op wrote most, so each pull shows new rows
            "pull": f"k{int(np.bincount(keys, minlength=KSQL_KEYS).argmax())}",
        })
    with open(os.path.join(out, "ops.json"), "w") as f:
        json.dump(plan, f)


def ksql_ops(root: str, seed: int, ops: int, rows: int) -> list[dict]:
    d = _cached(root, "ksql", seed, {"ops": ops, "rows": rows}, _build_ksql)
    with open(os.path.join(d, "ops.json")) as f:
        return json.load(f)


def ksql_ts(sec: int) -> str:
    return (EPOCH + dt.timedelta(seconds=sec)).strftime("%Y-%m-%d %H:%M:%S")


def insert_sql(op: dict) -> str:
    return " ".join(
        f"INSERT INTO readings (k, val, weight, ts) VALUES ('{k}', {v!r}, {w}, '{ksql_ts(s)}');"
        for k, v, w, s in op["rows"]
    )


# ---------------------------------------------------------------------------
# batch workloads: events / lineitem / documents / embeddings
# ---------------------------------------------------------------------------

WORDS = (
    "the a data row column table query join filter group sort merge hash "
    "scan window stream batch spark key value order line part customer "
    "vector agg fast slow big small dup"
).split()
LANGS = ["en", "en", "en", "es", "fr", "de", "zh"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def _events(rng, n):
    users = max(n // 60, 10)
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, size=n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(EPOCH_US + ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, size=n).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, size=n)]),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
    })


def _lineitem(rng, n):
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    price = np.round(rng.uniform(900.0, 105_000.0, size=n), 2)
    flag = rng.integers(0, 3, size=n)
    status = rng.integers(0, 2, size=n)
    days = rng.integers(0, 7 * 365, size=n)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, max(n // 4, 1), size=n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, 2000, size=n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 100, size=n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(np.round(rng.integers(0, 11, size=n) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, size=n) / 100.0, 2)),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in flag]),
        "l_linestatus": pa.array([("F", "O")[i] for i in status]),
        "l_shipdate": pa.array(
            (np.datetime64("1994-01-01") + days.astype("timedelta64[D]")).astype("datetime64[us]")
        ),
    })


def _documents(rng, n):
    """31-word-vocabulary texts of 10..100 words. A tenth of the documents
    are light edits of an earlier one and a fiftieth exact copies, so the
    near-dup operators find real pairs and clusters. The counts are fixed
    and only their places drawn, so every seed gives the operators the
    same amount of work."""
    kind = np.zeros(n, dtype=np.int8)
    later = rng.permutation(np.arange(11, n))
    kind[later[: n // 50]] = 2
    kind[later[n // 50: n // 50 + n // 10]] = 1
    texts: list[str] = []
    for i in range(n):
        if kind[i] == 2:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if kind[i] == 1:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
            continue
        k = int(rng.integers(10, 101))
        texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), size=k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), size=n)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, size=n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n, dim=64):
    """Unit vectors around 10 label centroids; 3% are near-copies of an
    earlier vector, so cosine >= 0.45 pairs exist."""
    cent = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, size=n)
    v = rng.normal(size=(n, dim)) + 0.35 * cent[label]
    dup = np.sort(rng.choice(np.arange(1, n), size=n * 3 // 100, replace=False))
    v[dup] = v[rng.integers(0, dup)] + 0.5 * rng.normal(size=(len(dup), dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), pa.array(v.ravel())
        ),
        "label": pa.array(label.astype(np.int32)),
    })


def _write_split(tbl: pa.Table, path: str, files: int) -> None:
    """One parquet directory of ``files`` parts, so scans split evenly
    over the task slots."""
    os.makedirs(path)
    step = -(-tbl.num_rows // files)
    for i in range(files):
        pq.write_table(tbl.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"),
                       compression="zstd")


def _build_batch(out, rng, events, lineitem, docs, vecs, files):
    _write_split(_events(rng, events), os.path.join(out, "events.parquet"), files)
    _write_split(_lineitem(rng, lineitem), os.path.join(out, "lineitem.parquet"), files)
    _write_split(_documents(rng, docs), os.path.join(out, "documents.parquet"), files)
    _write_split(_embeddings(rng, vecs), os.path.join(out, "embeddings.parquet"), files)


BATCH_TABLES = ("events", "lineitem", "documents", "embeddings")


def batch_tables(root: str, seed: int, events: int, lineitem: int, docs: int, vecs: int,
                 files: int) -> str:
    return _cached(root, "batch", seed, {"events": events, "lineitem": lineitem, "docs": docs,
                                         "vecs": vecs, "files": files}, _build_batch)
