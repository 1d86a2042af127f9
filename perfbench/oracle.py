"""Independent truth for every workload's outputs.

- ``ksql_pull``: numpy over the generator's rows.
- batch queries: each query's ``plans.queries.ORACLES`` SQL in DuckDB,
  computed once per input and cached next to it.
"""

from __future__ import annotations

import calendar
import json
import math
import os
from decimal import Decimal

import numpy as np

import gen

REL_TOL = 1e-9
EPOCH_S = gen.EPOCH_US // 10**6


def tolerance(want: float, mean: float, sd: float, k: int, scale: float = 1.0) -> float:
    """Allowed error for a moment computed, as the reference UDAFs do, from
    raw power sums: ``REL_TOL`` relative, widened to the forward error
    bound of that formula, the condition number ``((|mean| + sd) / sd) ** k``
    of the k-th raw moment times the rounding of a sum of up to a few
    thousand terms (1e-12, about 4500 epsilon). A zero-variance group allows no slack: the engine must return exactly
    its guarded value."""
    base = REL_TOL * max(1.0, abs(want))
    if sd == 0.0:
        return base
    return max(base, 1e-12 * ((abs(mean) + sd) / sd) ** k * scale)


def epoch_s(ts) -> int:
    """Spark returns TIMESTAMPs as naive datetimes in the process zone,
    which the benchmark pins to UTC."""
    return calendar.timegm(ts.timetuple())


# ---------------------------------------------------------------------------
# ksql_pull
# ---------------------------------------------------------------------------

def _pop_stats(v: np.ndarray, w: np.ndarray) -> dict:
    """The five reference UDAFs (population forms; kurtosis raw, not
    excess), two-pass in float64, each as ``[value, allowed error]``."""
    out = {}
    for name, wt in (("u", np.ones_like(v)), ("w", w)):
        sw = wt.sum()
        mean = (wt * v).sum() / sw
        d = v - mean
        m2, m3, m4 = ((wt * d**k).sum() / sw for k in (2, 3, 4))
        # a single distinct value: the engine's zero-variance guard applies
        sd = 0.0 if np.ptp(v) == 0 else math.sqrt(m2)
        out[name] = (mean, sd, m2, m3, m4)

    def moment(mean, sd, m2, mk, k):
        val = 0.0 if sd == 0 else mk / m2 ** (k / 2)
        return [val, tolerance(val, mean, sd, k)]

    (um, us, u2, u3, u4), (wm, ws, w2, w3, w4) = out["u"], out["w"]
    return {
        "skew": moment(um, us, u2, u3, 3),
        "kurt": moment(um, us, u2, u4, 4),
        "sdw": [ws, tolerance(ws, wm, ws, 2, ws)],
        "skw": moment(wm, ws, w2, w3, 3),
        "kuw": moment(wm, ws, w2, w4, 4),
    }


def ksql_truth(ops: list[dict], upto: int, key: str, with_stats: bool) -> dict:
    """Per-window ``n`` (and, if asked, the five UDAF values) for ``key``
    over the rows of ops ``0..upto``."""
    by_win: dict[int, list] = {}
    for op in ops[: upto + 1]:
        for k, v, w, s in op["rows"]:
            if k == key:
                by_win.setdefault(EPOCH_S + s // 300 * 300, []).append((v, w))
    out = {}
    for ws, vw in by_win.items():
        arr = np.asarray(vw, dtype=np.float64)
        cols = {"n": [len(vw), 0]}
        if with_stats:
            cols.update(_pop_stats(arr[:, 0], arr[:, 1]))
        out[ws] = cols
    return out


def check_pull(rows: list[dict], truth: dict) -> list[str]:
    bad = []
    got = {epoch_s(r["window_start"]): r for r in rows}
    if set(got) != set(truth):
        bad.append(f"windows differ: {sorted(got)} vs {sorted(truth)}")
    for ws in set(got) & set(truth):
        for col, (want, tol) in truth[ws].items():
            v = got[ws][col]
            if v is None or abs(v - want) > tol:
                bad.append(f"window {ws} {col}: {v!r} != {want!r} (tolerance {tol:.3g})")
    return bad


# ---------------------------------------------------------------------------
# batch queries
# ---------------------------------------------------------------------------

def _norm(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6)
    return v


def rowset(cols, rows) -> list:
    """Order-insensitive, column-order-insensitive form of a result, as the
    repository's oracle harness compares them."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is None, 0 if x is None else x) for x in t),
    )


# queries without an oracle: SQL for a subset their output must contain.
# Exact copies share every shingle, so MinHash LSH must report each copy
# pair with an estimated Jaccard of exactly 1.
SUBSET_SQL = {
    "dedup_minhash_lsh": """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, 1.0 AS est_jaccard
        FROM documents a JOIN documents b ON a.text = b.text AND a.doc_id < b.doc_id""",
}
LSH_HASHES = 32
LSH_THRESHOLD = 0.05


def batch_truth(tables: str, names: list[str], oracles: dict) -> dict:
    """``{query: (sorted column names, rowset)}`` from each query's oracle
    SQL (or, for a query in ``SUBSET_SQL``, the subset it must contain),
    cached as ``<tables>/oracle.json``."""
    cache = os.path.join(tables, "oracle.json")
    have = {}
    if os.path.exists(cache):
        with open(cache) as f:
            have = json.load(f)
    todo = [q for q in names if q not in have]
    if todo:
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in ("events", "lineitem", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet/*.parquet')")
        for q in todo:
            res = con.sql(oracles.get(q) or SUBSET_SQL[q])
            have[q] = [sorted(res.columns), [list(r) for r in rowset(res.columns, res.fetchall())]]
        con.close()
        with open(cache + ".tmp", "w") as f:
            json.dump(have, f)
        os.replace(cache + ".tmp", cache)
    return {q: (have[q][0], [tuple(r) for r in have[q][1]]) for q in names}


def check_lsh(cols, rows, want) -> list[str]:
    """MinHash LSH pairs: non-empty, ordered and unique, each estimate a
    multiple of 1/hashes within [threshold, 1], and every exact-copy pair
    present with estimate 1."""
    if sorted(cols) != want[0]:
        return [f"columns {sorted(cols)} != {want[0]}"]
    got = rowset(cols, rows)
    bad = [] if got else ["empty result"]
    pairs = [(a, b) for a, b, _ in got]
    if len(set(pairs)) != len(pairs) or any(a >= b for a, b in pairs):
        bad.append("pairs not unique or not ordered doc_a < doc_b")
    if any(not (LSH_THRESHOLD <= e <= 1.0) or abs(e * LSH_HASHES - round(e * LSH_HASHES)) > 1e-9
           for _, _, e in got):
        bad.append(f"an estimate is not k/{LSH_HASHES} within [{LSH_THRESHOLD}, 1]")
    missing = set(want[1]) - set(got)
    if missing:
        bad.append(f"{len(missing)} exact-copy pairs missing or below 1.0")
    return bad


def check_query(cols, rows, want) -> list[str]:
    want_cols, want_rows = want
    if sorted(cols) != want_cols:
        return [f"columns {sorted(cols)} != {want_cols}"]
    got = rowset(cols, rows)
    if len(got) != len(want_rows):
        return [f"{len(got)} rows != {len(want_rows)} expected"]
    if got != want_rows:
        n = sum(a != b for a, b in zip(got, want_rows))
        return [f"{n} rows differ from the oracle"]
    return []
