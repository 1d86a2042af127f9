"""The benchmark's workloads. Each has three steps:

- ``prepare``: generate the seeded inputs and their truth (kept out of
  every metric);
- ``setup``: build the workload's objects and run one untimed warm pass
  of its own op shape;
- ``timed``: run ops until ``seconds`` have passed, checking every op's
  output. An op that raises or fails its check counts as failed.

Each ``timed`` returns ``{"lat_ms": [...], "p50_ms": x, "items": n,
"busy_s": s}``: the op latencies (``batch``: each query's median), the
typical op (``ksql_pull``: the median op; ``batch``: one pass over the
list, as the sum of the queries' medians), the work items completed and
the time spent in ops.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import statistics
import sys
import time
import traceback

import gen
import oracle


class Run:
    """What a workload needs from the runner."""

    def __init__(self, spark, tracer, work, cache, seed, seconds, slots, small):
        self.spark, self.tracer = spark, tracer
        self.work, self.cache = work, cache
        self.seed, self.seconds, self.slots, self.small = seed, seconds, slots, small
        self.gen_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    @contextlib.contextmanager
    def inputs(self):
        """Time spent in here makes inputs and their truth: it is kept out
        of ``setup_s``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.gen_s += time.perf_counter() - t0

    def attempt(self, what: str, fn):
        """Run one op; record it as failed if it raises or returns problems.
        Returns whatever ``fn`` returned alongside, or None on error."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            bad, out = fn()
            print(f"  {what}: {time.perf_counter() - t0:.2f}s", file=sys.stderr, flush=True)
        except Exception:  # an op failure is a measured outcome, not a crash
            self.failed += 1
            self.problems.append(f"{what}: {traceback.format_exc(limit=3)}")
            return None
        if bad:
            self.failed += 1
            self.problems.append(f"{what}: {'; '.join(bad[:3])}")
        return out

    def loop(self, op) -> list:
        """Call ``op`` until ``seconds`` have passed and one call succeeded;
        give up after three failures in a row. Returns what succeeded."""
        out, misses = [], 0
        t_end = time.perf_counter() + self.seconds
        while (time.perf_counter() < t_end or not out) and misses < 3:
            res = op()
            if res is None:
                misses += 1
            else:
                out.append(res)
                misses = 0
        return out


# ---------------------------------------------------------------------------
# ksql_pull
# ---------------------------------------------------------------------------

DDL = (
    "CREATE STREAM readings (k VARCHAR, val DOUBLE, weight DOUBLE, ts TIMESTAMP) "
    "WITH (kafka_topic='readings', value_format='json', timestamp='ts');"
    "CREATE TABLE readings_stats AS SELECT k, WINDOWSTART AS window_start, COUNT(*) AS n, "
    "SKEWNESS(val) AS skew, KURTOSIS(val) AS kurt, STDDEV_WEIGHTED(val, weight) AS sdw, "
    "SKEWNESS_WEIGHTED(val, weight) AS skw, KURTOSIS_WEIGHTED(val, weight) AS kuw "
    "FROM readings WINDOW TUMBLING (SIZE 5 MINUTES) GROUP BY k EMIT CHANGES;"
)
# the first op of a fresh JVM runs ~5x slower than later ones, the second
# still ~1.4x: two untimed ops
KSQL_WARM_OPS = 2


class KsqlPull:
    """Closed loop, one client, against one ``KsqlEngine``: each op is one
    ``execute`` of R INSERTs followed by a point pull query on the
    windowed CTAS over all five reference UDAFs. Op latency is
    freshness: INSERT start to the pull returning those rows."""

    name = "ksql_pull"

    def prepare(self, r: Run) -> None:
        self.rows = 10 if r.small else 50
        # more ops than any run reaches: a run stops on time, not on input
        with r.inputs():
            self.ops = gen.ksql_ops(r.cache, r.seed, ops=40 if r.small else 200, rows=self.rows)

    def setup(self, r: Run) -> None:
        from ksql_udaf_statistics_spark.frontend import KsqlEngine

        self.engine = KsqlEngine(r.spark, os.path.join(r.work, "ksql"))
        self.engine.execute(DDL)
        self.i = 0
        for _ in range(KSQL_WARM_OPS):
            self._op(r)

    def _op(self, r: Run):
        i, op = self.i, self.ops[self.i]
        self.i += 1

        def go():
            with r.tracer.op("insert_pull") as span:
                t0 = time.perf_counter()
                self.engine.execute(gen.insert_sql(op))
                rows = self.engine.execute(f"SELECT * FROM readings_stats WHERE k = '{op['pull']}';")
                ms = (time.perf_counter() - t0) * 1000
            if span is not None:
                # the refresh's file source lists the whole stream directory
                span["files_listed"] = len(os.listdir(self.engine.streams["readings"].path))
            truth = oracle.ksql_truth(self.ops, i, op["pull"], with_stats=True)
            return oracle.check_pull(rows, truth), ms

        return r.attempt(f"op {i}", go)

    def timed(self, r: Run) -> dict:
        lat = r.loop(lambda: self._op(r))
        return {"lat_ms": lat, "p50_ms": statistics.median(lat) if lat else 0.0,
                "items": len(lat) * self.rows, "busy_s": sum(lat) / 1000}


# ---------------------------------------------------------------------------
# batch: declared queries
# ---------------------------------------------------------------------------

# operators-heavy near-dup queries (LSH, connected components, IVF), then
# moment/window aggregates (stats layer, the sliding window's Expand, the
# Arrow token kernel); dedup_minhash_verified is out, see README.md
NEARDUP = ["dedup_minhash_lsh", "dedup_clusters", "ann_ivf_verified"]
MOMENTS = ["kurtosis_weighted", "sliding_window_stats", "token_stats_by_source"]


class Batch:
    """The declared queries run one at a time, each built by calling
    ``QUERIES[q]`` and run by collecting its result, which must equal its
    ``ORACLES`` SQL in DuckDB (``dedup_minhash_lsh``, which has none, must
    pass ``oracle.check_lsh``). One op is one query."""

    name = "batch"
    queries = NEARDUP + MOMENTS

    def prepare(self, r: Run) -> None:
        from ksql_udaf_statistics_spark.plans.queries import ORACLES

        size = (dict(events=2000, lineitem=3000, docs=120, vecs=120) if r.small
                else dict(events=20000, lineitem=60000, docs=500, vecs=500))
        with r.inputs():
            self.tables = gen.batch_tables(r.cache, r.seed, files=r.slots, **size)
            self.truth = oracle.batch_truth(self.tables, self.queries, ORACLES)

    def setup(self, r: Run) -> None:
        # the warm pass is one pass of the timed list over the same tables
        for q in self.queries:
            self._query(r, q)

    def _query(self, r: Run, q: str):
        from ksql_udaf_statistics_spark.plans.queries import QUERIES

        def go():
            with r.tracer.op(q):
                t0 = time.perf_counter()
                with r.tracer.span("plans.build", query=q):
                    df = QUERIES[q](r.spark, self.tables)
                t1 = time.perf_counter()
                with r.tracer.span("plans.run", query=q):
                    rows = df.collect()
                t2 = time.perf_counter()
            if q in oracle.SUBSET_SQL:
                bad = oracle.check_lsh(df.columns, rows, self.truth[q])
            else:
                bad = oracle.check_query(df.columns, rows, self.truth[q])
            return bad, ((t1 - t0) * 1000, (t2 - t1) * 1000)

        return r.attempt(q, go)

    def timed(self, r: Run) -> dict:
        """Run the list round and round, one query per op, until the time
        is up; each query's latency is its median over its runs, so one
        slow stretch moves none."""
        order = itertools.cycle(self.queries)
        per_query: dict[str, list[float]] = {}

        def op():
            q = next(order)
            out = self._query(r, q)
            if out is not None:
                per_query.setdefault(q, []).append(sum(out))
            return out

        done = r.loop(op)
        medians = [statistics.median(ms) for ms in per_query.values()]
        return {"lat_ms": medians, "p50_ms": sum(medians),
                "items": len(done), "busy_s": sum(map(sum, done)) / 1000}


WORKLOADS = {w.name: w for w in (KsqlPull, Batch)}
