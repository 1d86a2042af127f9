"""ksqlDB-dialect front-end tests: paste the reference's own SQL
(README.md:139-172, AllUdafIT.java:562-663) and get the reference's
numbers back. Golden values come from the reference's unit tests
(SkewnessUdafTest.java / WeightedStdDevUdafTest.java) and from DuckDB."""

import json
import math
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from ksql_udaf_statistics_spark.frontend import KsqlEngine


@pytest.fixture(autouse=True)
def no_query_left_active(spark):
    """Every test stops the queries it started (the engine fixture's
    close()); a leaked query keeps polling a deleted work directory."""
    yield
    assert spark.streams.active == []


@pytest.fixture()
def engine(spark, tmp_dir):
    eng = KsqlEngine(spark, tmp_dir)
    yield eng
    eng.close()


def test_readme_weighted_flow(engine):
    """The README's main example: weighted stddev + skewness over a JSON
    stream, constant 'singleton' key (README.md:142-156)."""
    engine.execute(
        "CREATE STREAM input (val DOUBLE, weight DOUBLE) "
        "WITH (KAFKA_TOPIC='input', VALUE_FORMAT='json');"
    )
    data = [(1.0, 2.0), (2.0, 1.0), (3.0, 3.0), (4.0, 1.0), (5.0, 2.0)]
    engine.execute(
        " ".join(
            f"INSERT INTO input (val, weight) VALUES ({v}, {w});"
            for v, w in data
        )
    )
    engine.execute(
        "CREATE TABLE agg_result WITH (KAFKA_TOPIC='output', KEY_FORMAT='JSON') AS "
        "SELECT 'singleton' AS id, "
        "STDDEV_WEIGHTED(val, weight) AS stddev, "
        "SKEWNESS_WEIGHTED(val, weight) AS skewness "
        "FROM input GROUP BY 'singleton' EMIT CHANGES;"
    )
    rows = engine.execute("SELECT * FROM agg_result WHERE id = 'singleton';")
    assert len(rows) == 1
    r = rows[0]
    # python oracle: weighted population moments (WeightedStdDevUdaf.java:
    # finalize sqrt(E_w[x^2]-E_w[x]^2))
    sw = sum(w for _, w in data)
    m1 = sum(v * w for v, w in data) / sw
    m2 = sum(v * v * w for v, w in data) / sw
    m3 = sum(v ** 3 * w for v, w in data) / sw
    var = m2 - m1 * m1
    want_stddev = math.sqrt(var)
    want_skew = (m3 - 3 * m1 * m2 + 2 * m1 ** 3) / var ** 1.5
    assert r["stddev"] == pytest.approx(want_stddev, abs=1e-9)
    assert r["skewness"] == pytest.approx(want_skew, abs=1e-9)


def test_it_unweighted_flow_with_init_arg(engine):
    """The integration test's parameterized flow (AllUdafIT.java:530-545):
    SKEWNESS(val) population vs SKEWNESS(val, true) sample over the same
    stream, verified against the reference's golden value 0.075718
    (SkewnessUdafTest.java golden dataset)."""
    engine.execute(
        "CREATE STREAM input_values (val DOUBLE) "
        "WITH (kafka_topic='input_values', value_format='json', partitions=1);"
    )
    vals = [3.0, 3.0, 4.0, 7.0, 7.0, 13.0, 16.0, 16.0, 16.0, 20.0]
    engine.execute(
        " ".join(f"INSERT INTO input_values (val) VALUES ({v});" for v in vals)
    )
    engine.execute(
        "CREATE TABLE aggregated_result "
        "WITH (KAFKA_TOPIC='aggregated_output', PARTITIONS=1, VALUE_FORMAT='JSON') AS "
        "SELECT 'singleton' AS id, SKEWNESS(val) AS result "
        "FROM input_values GROUP BY 'singleton' EMIT CHANGES;"
    )
    rows = engine.execute("SELECT * FROM aggregated_result WHERE id = 'singleton';")
    assert rows[0]["result"] == pytest.approx(0.075718, abs=1e-4)

    engine.execute(
        "CREATE TABLE agg_sample AS "
        "SELECT 'singleton' AS id, SKEWNESS(val, true) AS result "
        "FROM input_values GROUP BY 'singleton' EMIT CHANGES;"
    )
    n = len(vals)
    mean = sum(vals) / n
    m2 = sum((v - mean) ** 2 for v in vals) / n
    m3 = sum((v - mean) ** 3 for v in vals) / n
    g1 = m3 / m2 ** 1.5
    want_sample = math.sqrt(n * (n - 1)) / (n - 2) * g1
    rows = engine.execute("SELECT * FROM agg_sample WHERE id = 'singleton';")
    assert rows[0]["result"] == pytest.approx(want_sample, abs=1e-9)


def test_windowed_flow_with_windowstart(engine):
    """README.md:159-172: WINDOW TUMBLING + WINDOWSTART AS window_start,
    using a declared event-time column."""
    engine.execute(
        "CREATE STREAM input (val DOUBLE, weight DOUBLE, ts TIMESTAMP) "
        "WITH (KAFKA_TOPIC='input', VALUE_FORMAT='json', timestamp='ts');"
    )
    stmts = []
    for i in range(12):
        minute = (i % 2) * 7  # two 5-minute windows: :00-:05 and :05-:10
        stmts.append(
            f"INSERT INTO input (val, weight, ts) VALUES "
            f"({float(i)}, 1.0, '2024-01-01 00:0{minute}:00');"
        )
    engine.execute(" ".join(stmts))
    engine.execute(
        "CREATE TABLE agg_result_windowed WITH (KAFKA_TOPIC='output', KEY_FORMAT='JSON') AS "
        "SELECT 'singleton' AS id, WINDOWSTART AS window_start, "
        "STDDEV_WEIGHTED(val, weight) AS stddev, "
        "SKEWNESS_WEIGHTED(val, weight) AS skewness "
        "FROM input WINDOW TUMBLING (SIZE 5 MINUTES) GROUP BY 'singleton';"
    )
    rows = engine.execute("SELECT * FROM agg_result_windowed;")
    assert len(rows) == 2
    by_win = {str(r["window_start"]): r for r in rows}
    evens = [float(i) for i in range(12) if i % 2 == 0]
    mean = sum(evens) / len(evens)
    want = math.sqrt(sum((v - mean) ** 2 for v in evens) / len(evens))
    assert by_win["2024-01-01 00:00:00"]["stddev"] == pytest.approx(want, abs=1e-9)


def test_nan_to_null_json_boundary(engine):
    """Single-element stream: sample skewness is NaN; the pull query must
    return null/None exactly as ksqlDB's JSON wire does
    (AllUdafIT.java:675-680)."""
    engine.execute(
        "CREATE STREAM input_values (val DOUBLE) "
        "WITH (kafka_topic='input_values', value_format='json');"
    )
    engine.execute("INSERT INTO input_values (val) VALUES (42.0);")
    engine.execute(
        "CREATE TABLE one_row AS "
        "SELECT 'singleton' AS id, SKEWNESS(val, true) AS result "
        "FROM input_values GROUP BY 'singleton' EMIT CHANGES;"
    )
    rows = engine.execute("SELECT * FROM one_row WHERE id = 'singleton';")
    assert rows[0]["result"] is None


def test_incremental_emit_changes(engine):
    """EMIT CHANGES semantics: more inserts after the first pull update the
    materialized value on the next pull (update-mode re-emission through
    the exactly-once sink), with nothing reprocessed from scratch."""
    engine.execute(
        "CREATE STREAM s (val DOUBLE) WITH (kafka_topic='s', value_format='json');"
    )
    engine.execute("INSERT INTO s (val) VALUES (1.0); INSERT INTO s (val) VALUES (2.0);")
    engine.execute(
        "CREATE TABLE t AS SELECT 'k' AS id, SUM(val) AS total "
        "FROM s GROUP BY 'k' EMIT CHANGES;"
    )
    assert engine.execute("SELECT * FROM t;")[0]["total"] == pytest.approx(3.0)
    engine.execute("INSERT INTO s (val) VALUES (10.0);")
    assert engine.execute("SELECT * FROM t;")[0]["total"] == pytest.approx(13.0)
    # ledger shows multiple committed batches — incremental, not replayed
    assert len(engine.tables["t"].sink.committed_batches()) >= 2


def test_show_functions(engine):
    fns = engine.execute("SHOW FUNCTIONS;")
    for want in ("SKEWNESS", "KURTOSIS", "STDDEV_WEIGHTED",
                 "SKEWNESS_WEIGHTED", "KURTOSIS_WEIGHTED"):
        assert want in fns


def test_session_and_hopping_windows(engine):
    engine.execute(
        "CREATE STREAM ev (val DOUBLE, ts TIMESTAMP) "
        "WITH (kafka_topic='ev', value_format='json', timestamp='ts');"
    )
    engine.execute(
        "INSERT INTO ev (val, ts) VALUES (1.0, '2024-01-01 00:00:00');"
        "INSERT INTO ev (val, ts) VALUES (2.0, '2024-01-01 00:01:00');"
        "INSERT INTO ev (val, ts) VALUES (3.0, '2024-01-01 01:00:00');"
    )
    engine.execute(
        "CREATE TABLE sess AS SELECT 'k' AS id, COUNT(*) AS n "
        "FROM ev WINDOW SESSION (10 MINUTES) GROUP BY 'k';"
    )
    rows = engine.execute("SELECT * FROM sess;")
    assert sorted(r["n"] for r in rows) == [1, 2]  # two sessions

    engine.execute(
        "CREATE TABLE hop AS SELECT 'k' AS id, COUNT(*) AS n "
        "FROM ev WINDOW HOPPING (SIZE 2 MINUTES, ADVANCE BY 1 MINUTES) GROUP BY 'k';"
    )
    rows = engine.execute("SELECT * FROM hop;")
    # row at :00 -> windows [-1:00,:01),[:00,:02); row at :01 -> [:00,:02),[:01,:03)
    n_by_start = {str(r["window_start"]): r["n"] for r in rows}
    assert n_by_start["2024-01-01 00:00:00"] == 2


def test_drop_and_show(engine):
    """The IT drops stream+table between parameterized cases
    (AllUdafIT.java:466-497): DROP TABLE ... DELETE TOPIC then
    DROP STREAM ... and recreate under the same names."""
    engine.execute(
        "CREATE STREAM s (val DOUBLE) WITH (kafka_topic='s', value_format='json');"
    )
    engine.execute("INSERT INTO s (val) VALUES (1.0);")
    engine.execute(
        "CREATE TABLE t AS SELECT 'k' AS id, SUM(val) AS total "
        "FROM s GROUP BY 'k' EMIT CHANGES;"
    )
    assert engine.execute("SHOW STREAMS;") == ["s"]
    assert engine.execute("SHOW TABLES;") == ["t"]
    engine.execute("DROP TABLE IF EXISTS t DELETE TOPIC;")
    engine.execute("DROP STREAM IF EXISTS s DELETE TOPIC;")
    assert engine.execute("SHOW STREAMS;") == []
    assert engine.execute("SHOW TABLES;") == []
    engine.execute("DROP STREAM IF EXISTS never_existed;")  # no error
    # recreate under the same name starts empty (topic deleted)
    engine.execute(
        "CREATE STREAM s (val DOUBLE) WITH (kafka_topic='s', value_format='json');"
    )
    engine.execute("INSERT INTO s (val) VALUES (5.0);")
    engine.execute(
        "CREATE TABLE t AS SELECT 'k' AS id, SUM(val) AS total "
        "FROM s GROUP BY 'k' EMIT CHANGES;"
    )
    assert engine.execute("SELECT * FROM t;")[0]["total"] == pytest.approx(5.0)


def test_scalar_expressions_and_where(engine):
    """The first statements a reference user writes past the README
    (VERDICT r2 item 6): arithmetic inside the UDAF call and a WHERE
    predicate on the source stream."""
    engine.execute(
        "CREATE STREAM m (key VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='m', value_format='json');"
    )
    vals = [3.0, 4.0, 7.0, 13.0, 16.0, 20.0]
    stmts = [f"INSERT INTO m (key, val) VALUES ('a', {v});" for v in vals]
    stmts += ["INSERT INTO m (key, val) VALUES ('a', -5.0);",
              "INSERT INTO m (key, val) VALUES ('b', -1.0);"]
    engine.execute(" ".join(stmts))
    engine.execute(
        "CREATE TABLE expr_t AS SELECT key AS id, "
        "SKEWNESS(val * 2) AS sk, SUM(val * 2) AS doubled, "
        "AVG((val + 1) / 2) AS halfshift "
        "FROM m WHERE val > 0 GROUP BY key EMIT CHANGES;"
    )
    rows = engine.execute("SELECT * FROM expr_t;")
    # WHERE dropped every negative row — including all of key 'b'
    assert [r["id"] for r in rows] == ["a"]
    r = rows[0]
    assert r["doubled"] == pytest.approx(2 * sum(vals))
    assert r["halfshift"] == pytest.approx(sum((v + 1) / 2 for v in vals) / len(vals))
    # population skewness is invariant under positive scaling, so the
    # expected value is the plain skewness of the positive inputs
    n = len(vals)
    m1 = sum(vals) / n
    var = sum(v * v for v in vals) / n - m1 * m1
    m3 = sum(v ** 3 for v in vals) / n - 3 * m1 * sum(v * v for v in vals) / n + 2 * m1 ** 3
    assert r["sk"] == pytest.approx(m3 / var ** 1.5, abs=1e-9)


@pytest.mark.parametrize("key", ["usr", "'k'"], ids=["column", "literal"])
def test_session_bridge_replaces_stale_rows(engine, key):
    """Complete-mode session tables must serve ONLY the latest complete
    emission: an event that bridges two previously-emitted sessions merges
    them, and the pre-merge rows from earlier batches must not resurface
    in pull queries (r2 ADVICE phantom-stale-rows finding). A table keyed
    only by a literal runs the same persistent query."""
    engine.execute(
        "CREATE STREAM ev2 (usr VARCHAR, ts TIMESTAMP) "
        "WITH (kafka_topic='ev2', value_format='json', timestamp='ts');"
    )
    engine.execute(
        "INSERT INTO ev2 (usr, ts) VALUES ('a', '2024-01-01 00:00:00');"
        "INSERT INTO ev2 (usr, ts) VALUES ('a', '2024-01-01 00:20:00');"
    )
    engine.execute(
        f"CREATE TABLE sess2 AS SELECT {key} AS id, COUNT(*) AS n "
        f"FROM ev2 WINDOW SESSION (10 MINUTES) GROUP BY {key};"
    )
    rows = engine.execute("SELECT * FROM sess2;")
    assert sorted(r["n"] for r in rows) == [1, 1]  # two separate sessions
    # the bridging event merges both sessions into one
    engine.execute("INSERT INTO ev2 (usr, ts) VALUES ('a', '2024-01-01 00:10:00');")
    rows = engine.execute("SELECT * FROM sess2;")
    assert len(rows) == 1 and rows[0]["n"] == 3
    assert engine.execute("DESCRIBE EXTENDED sess2;")[-1]["state"] == "RUNNING"


def test_pull_query_projection_and_predicate(engine):
    """Pull queries past the IT's SELECT * shape: column projection and a
    compound WHERE predicate."""
    engine.execute(
        "CREATE STREAM pq (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='pq', value_format='json');"
    )
    engine.execute(
        "INSERT INTO pq (k, val) VALUES ('a', 1.0);"
        "INSERT INTO pq (k, val) VALUES ('a', 2.0);"
        "INSERT INTO pq (k, val) VALUES ('b', 10.0);"
    )
    engine.execute(
        "CREATE TABLE pt AS SELECT k AS id, SUM(val) AS total, COUNT(*) AS n "
        "FROM pq GROUP BY k EMIT CHANGES;"
    )
    rows = engine.execute("SELECT total FROM pt WHERE id = 'a' AND total > 1;")
    assert rows == [{"total": pytest.approx(3.0)}]
    rows = engine.execute("SELECT id, n FROM pt;")
    assert sorted((r["id"], r["n"]) for r in rows) == [("a", 2), ("b", 1)]


def test_having_filters_groups(engine):
    """HAVING over aggregate calls and select aliases: groups failing the
    post-aggregation predicate are dropped from the materialized table."""
    engine.execute(
        "CREATE STREAM h (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='h', value_format='json');"
    )
    stmts = [f"INSERT INTO h (k, val) VALUES ('a', {v});" for v in (1.0, 2.0, 3.0)]
    stmts += [f"INSERT INTO h (k, val) VALUES ('b', {v});" for v in (10.0,)]
    engine.execute(" ".join(stmts))
    engine.execute(
        "CREATE TABLE ht AS SELECT k AS id, SUM(val) AS total "
        "FROM h GROUP BY k HAVING COUNT(*) > 1 AND SUM(val) >= 6 EMIT CHANGES;"
    )
    rows = engine.execute("SELECT * FROM ht;")
    assert [(r["id"], r["total"]) for r in rows] == [("a", 6.0)]
    # alias reference in HAVING
    engine.execute(
        "CREATE TABLE ht2 AS SELECT k AS id, SUM(val) AS total "
        "FROM h GROUP BY k HAVING total > 6;"
    )
    rows = engine.execute("SELECT * FROM ht2;")
    assert [(r["id"], r["total"]) for r in rows] == [("b", 10.0)]


def test_having_non_monotone_retraction(engine):
    """A group that PASSES a non-monotone HAVING predicate in one refresh
    and FAILS it after later inserts must leave the table (ksqlDB
    tombstones groups leaving the result set; we evaluate membership
    against current aggregate values at read time)."""
    engine.execute(
        "CREATE STREAM r (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='r', value_format='json');"
    )
    engine.execute("INSERT INTO r (k, val) VALUES ('a', 1.0);")
    engine.execute("INSERT INTO r (k, val) VALUES ('b', 1.0);")
    engine.execute("INSERT INTO r (k, val) VALUES ('b', 1.0);")
    engine.execute(
        "CREATE TABLE rt AS SELECT k AS id, SUM(val) AS total "
        "FROM r GROUP BY k HAVING COUNT(*) <= 2 EMIT CHANGES;"
    )
    rows = engine.execute("SELECT * FROM rt;")
    assert sorted((r["id"], r["total"]) for r in rows) == [("a", 1.0), ("b", 2.0)]
    # push 'b' over the COUNT(*) <= 2 bound: it previously emitted a
    # passing row, which must NOT keep serving after this refresh
    engine.execute("INSERT INTO r (k, val) VALUES ('b', 1.0);")
    rows = engine.execute("SELECT * FROM rt;")
    assert [(r["id"], r["total"]) for r in rows] == [("a", 1.0)]
    # and no hidden _hav columns leak into the result
    assert all(not c.startswith("_hav") for c in rows[0])


def test_having_string_literal_not_rewritten(engine):
    """A string literal containing an aggregate-like substring must ride
    through HAVING verbatim (quote-aware scanning, not blind regex)."""
    engine.execute(
        "CREATE STREAM s2 (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='s2', value_format='json');"
    )
    engine.execute("INSERT INTO s2 (k, val) VALUES ('SUM(x)', 1.0);")
    engine.execute("INSERT INTO s2 (k, val) VALUES ('other', 2.0);")
    engine.execute(
        "CREATE TABLE s2t AS SELECT k AS label, SUM(val) AS total "
        "FROM s2 GROUP BY k HAVING label = 'SUM(x)' EMIT CHANGES;"
    )
    rows = engine.execute("SELECT * FROM s2t;")
    assert [(r["label"], r["total"]) for r in rows] == [("SUM(x)", 1.0)]


def test_stream_table_join(engine):
    """ksqlDB stream-table join: stream records enriched against a CTAS
    table's current state, verified against a hand-computed twin."""
    engine.execute(
        "CREATE STREAM orders_s (cust VARCHAR, amount DOUBLE) "
        "WITH (kafka_topic='orders_s', value_format='json');"
    )
    for cust, amount in [("a", 10.0), ("a", 5.0), ("b", 7.0)]:
        engine.execute(
            f"INSERT INTO orders_s (cust, amount) VALUES ('{cust}', {amount});"
        )
    engine.execute(
        "CREATE TABLE cust_totals AS SELECT cust AS cust, SUM(amount) AS total "
        "FROM orders_s GROUP BY cust EMIT CHANGES;"
    )
    engine.execute(
        "CREATE STREAM clicks (cust VARCHAR, v DOUBLE) "
        "WITH (kafka_topic='clicks', value_format='json');"
    )
    for cust, v in [("a", 1.0), ("a", 2.0), ("b", 3.0), ("c", 4.0)]:
        engine.execute(f"INSERT INTO clicks (cust, v) VALUES ('{cust}', {v});")
    engine.execute(
        "CREATE TABLE enriched AS "
        "SELECT e.cust AS cust, COUNT(*) AS n, SUM(v + total) AS s "
        "FROM clicks e JOIN cust_totals t ON e.cust = t.cust "
        "GROUP BY e.cust EMIT CHANGES;"
    )
    rows = engine.execute("SELECT * FROM enriched;")
    # inner join: cust 'c' has no table row and drops out
    got = {r["cust"]: (r["n"], r["s"]) for r in rows}
    assert got == {"a": (2, 1.0 + 15.0 + 2.0 + 15.0), "b": (1, 3.0 + 7.0)}
    # LEFT JOIN keeps 'c' (null table side -> SUM skips the null addend)
    engine.execute(
        "CREATE TABLE enriched_l AS "
        "SELECT e.cust AS cust, COUNT(*) AS n "
        "FROM clicks e LEFT JOIN cust_totals t ON e.cust = t.cust "
        "GROUP BY e.cust EMIT CHANGES;"
    )
    rows = engine.execute("SELECT * FROM enriched_l;")
    assert {r["cust"]: r["n"] for r in rows} == {"a": 2, "b": 1, "c": 1}


def test_ctas_join_against_a_stream_names_the_windowed_join(engine):
    """A CTAS JOIN whose right side is a stream is rejected, and the
    error names the dialect's stream-stream join."""
    for name in ("l", "r"):
        engine.execute(
            f"CREATE STREAM {name} (k VARCHAR, x DOUBLE) "
            f"WITH (kafka_topic='{name}', value_format='json');"
        )
    with pytest.raises(Exception, match=r"CREATE STREAM \.\.\. AS SELECT .* WITHIN"):
        engine.execute(
            "CREATE TABLE lr AS SELECT l.k AS k, COUNT(*) AS n "
            "FROM l JOIN r ON l.k = r.k GROUP BY l.k;"
        )


def test_stream_table_join_sees_updated_state(engine):
    """New stream rows processed after the table advanced join against the
    CURRENT table state (processing-time semantics), while already-
    processed rows keep their old enrichment."""
    engine.execute(
        "CREATE STREAM src (k VARCHAR, x DOUBLE) "
        "WITH (kafka_topic='src', value_format='json');"
    )
    engine.execute("INSERT INTO src (k, x) VALUES ('a', 1.0);")
    engine.execute(
        "CREATE TABLE t1 AS SELECT k AS k, SUM(x) AS sx FROM src GROUP BY k;"
    )
    engine.execute(
        "CREATE STREAM probe (k VARCHAR) "
        "WITH (kafka_topic='probe', value_format='json');"
    )
    engine.execute("INSERT INTO probe (k) VALUES ('a');")
    engine.execute(
        "CREATE TABLE joined AS SELECT p.k AS k, MAX(sx) AS seen "
        "FROM probe p JOIN t1 ON p.k = t1.k GROUP BY p.k;"
    )
    assert engine.execute("SELECT * FROM joined;") == [{"k": "a", "seen": 1.0}]
    # advance the table, then send another probe row: it must see sx=3
    engine.execute("INSERT INTO src (k, x) VALUES ('a', 2.0);")
    engine.execute("INSERT INTO probe (k) VALUES ('a');")
    assert engine.execute("SELECT * FROM joined;") == [{"k": "a", "seen": 3.0}]


@pytest.mark.parametrize("window, starts", [
    ("TUMBLING (SIZE 1 MINUTE, GRACE PERIOD 0 SECONDS)",
     ("2024-01-01 00:00:00", "2024-01-01 00:01:00")),
    ("SESSION (30 SECONDS, GRACE PERIOD 0 SECONDS)",
     ("2024-01-01 00:00:30", "2024-01-01 00:01:30")),
], ids=["tumbling", "session"])
def test_emit_final_append_on_close(engine, window, starts):
    """EMIT FINAL: a window's row appears only once the watermark (event
    time - grace) passes its end — open windows are withheld, and a
    closed window stays served after later batches close nothing."""
    engine.execute(
        "CREATE STREAM ef (k VARCHAR, val DOUBLE, ts TIMESTAMP) "
        "WITH (kafka_topic='ef', value_format='json', timestamp='ts');"
    )
    for minute, v in [(0, 1.0), (0, 3.0), (1, 5.0)]:
        engine.execute(
            f"INSERT INTO ef (k, val, ts) VALUES "
            f"('a', {v}, '2024-01-01 00:0{minute}:30');"
        )
    engine.execute(
        f"CREATE TABLE eft AS SELECT k AS k, SUM(val) AS total "
        f"FROM ef WINDOW {window} GROUP BY k EMIT FINAL;"
    )
    rows = engine.execute("SELECT * FROM eft;")
    # watermark = max event time seen = 00:01:30: the window holding the
    # two 00:00:30 rows is closed and FINAL; the one holding 00:01:30 is
    # still open and withheld
    assert [(str(r["window_start"]), r["total"]) for r in rows] == [
        (starts[0], 4.0)
    ]
    # an event at 00:03 advances the watermark past the second window and
    # opens a third
    engine.execute(
        "INSERT INTO ef (k, val, ts) VALUES ('a', 9.0, '2024-01-01 00:03:00');"
    )
    rows = engine.execute("SELECT * FROM eft;")
    got = {str(r["window_start"]): r["total"] for r in rows}
    assert got == {starts[0]: 4.0, starts[1]: 5.0}


def test_emit_final_requires_window(engine):
    engine.execute(
        "CREATE STREAM nf (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='nf', value_format='json');"
    )
    with pytest.raises(Exception, match="EMIT FINAL requires"):
        engine.execute(
            "CREATE TABLE nft AS SELECT k AS k, SUM(val) AS s "
            "FROM nf GROUP BY k EMIT FINAL;"
        )


def test_pull_query_limit(engine):
    engine.execute(
        "CREATE STREAM pl (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='pl', value_format='json');"
    )
    for i in range(5):
        engine.execute(f"INSERT INTO pl (k, val) VALUES ('k{i}', {float(i)});")
    engine.execute(
        "CREATE TABLE plt AS SELECT k AS k, SUM(val) AS total "
        "FROM pl GROUP BY k EMIT CHANGES;"
    )
    assert len(engine.execute("SELECT * FROM plt;")) == 5
    assert len(engine.execute("SELECT * FROM plt LIMIT 3;")) == 3
    rows = engine.execute("SELECT k, total FROM plt WHERE total >= 2 LIMIT 2;")
    assert len(rows) == 2
    assert all(r["total"] >= 2 for r in rows)


def test_pull_query_before_any_insert_is_empty(engine):
    """A pull query on a table whose stream has no rows yet returns an
    empty result (ksqlDB semantics): the sink has committed no batch, so
    there is no table to read, and that is not an error."""
    engine.execute(
        "CREATE STREAM input (val DOUBLE, weight DOUBLE) "
        "WITH (KAFKA_TOPIC='input', VALUE_FORMAT='json');"
    )
    engine.execute(
        "CREATE TABLE t AS SELECT 'singleton' AS id, "
        "STDDEV_WEIGHTED(val, weight) AS sd "
        "FROM input GROUP BY 'singleton' EMIT CHANGES;"
    )
    assert engine.execute("SELECT * FROM t;") == []
    engine.execute("INSERT INTO input (val, weight) VALUES (1.0, 2.0);")
    rows = engine.execute("SELECT * FROM t;")
    assert [r["id"] for r in rows] == ["singleton"]
    assert rows[0]["sd"] == pytest.approx(0.0, abs=1e-12)


def test_csas_transform_chain(engine):
    """CREATE STREAM AS SELECT: a stateless projection/filter stream
    feeding a downstream CTAS aggregate; later upstream inserts propagate
    through the chain incrementally."""
    engine.execute(
        "CREATE STREAM raw (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='raw', value_format='json');"
    )
    for k, v in [("a", 1.0), ("a", -5.0), ("b", 2.0)]:
        engine.execute(f"INSERT INTO raw (k, val) VALUES ('{k}', {v});")
    engine.execute(
        "CREATE STREAM cleaned AS SELECT k AS k, val * 2 AS v2 "
        "FROM raw WHERE val > 0 EMIT CHANGES;"
    )
    assert "cleaned" in engine.execute("SHOW STREAMS;")
    engine.execute(
        "CREATE TABLE cleaned_totals AS SELECT k AS k, SUM(v2) AS total "
        "FROM cleaned GROUP BY k EMIT CHANGES;"
    )
    rows = engine.execute("SELECT * FROM cleaned_totals;")
    assert sorted((r["k"], r["total"]) for r in rows) == [("a", 2.0), ("b", 4.0)]
    # upstream insert flows through CSAS into the table on next refresh
    engine.execute("INSERT INTO raw (k, val) VALUES ('a', 10.0);")
    rows = engine.execute("SELECT * FROM cleaned_totals;")
    assert sorted((r["k"], r["total"]) for r in rows) == [("a", 22.0), ("b", 4.0)]
    # derived streams reject direct inserts
    with pytest.raises(Exception, match="derived"):
        engine.execute("INSERT INTO cleaned (k, v2) VALUES ('x', 1.0);")


def test_csas_stream_stream_join_within(engine):
    """ksqlDB stream-stream JOIN WITHIN: orders join shipments within the
    time bound; out-of-window shipments don't match."""
    engine.execute(
        "CREATE STREAM ord (oid BIGINT, ots TIMESTAMP) "
        "WITH (kafka_topic='ord', value_format='json', timestamp='ots');"
    )
    engine.execute(
        "CREATE STREAM shp (sid BIGINT, sts TIMESTAMP) "
        "WITH (kafka_topic='shp', value_format='json', timestamp='sts');"
    )
    engine.execute(
        "INSERT INTO ord (oid, ots) VALUES (1, '2024-01-01 00:00:00');"
    )
    engine.execute(
        "INSERT INTO ord (oid, ots) VALUES (2, '2024-01-01 01:00:00');"
    )
    # shipment for order 1 within 10 minutes; for order 2 an hour late
    engine.execute(
        "INSERT INTO shp (sid, sts) VALUES (1, '2024-01-01 00:05:00');"
    )
    engine.execute(
        "INSERT INTO shp (sid, sts) VALUES (2, '2024-01-01 02:30:00');"
    )
    engine.execute(
        "CREATE STREAM matched AS SELECT o.oid AS oid, o.ots AS ots "
        "FROM ord o JOIN shp s WITHIN 10 MINUTES ON o.oid = s.sid "
        "EMIT CHANGES;"
    )
    engine.execute(
        "CREATE TABLE match_counts AS SELECT oid AS oid, COUNT(*) AS n "
        "FROM matched GROUP BY oid EMIT CHANGES;"
    )
    rows = engine.execute("SELECT * FROM match_counts;")
    assert [(r["oid"], r["n"]) for r in rows] == [(1, 1)]


def test_csas_partition_by_rekeys_stream(engine, spark):
    """r5 PARTITION BY: the derived stream is physically re-keyed (each
    written file holds rows of keys hashed to one partition — a key never
    straddles two files of one batch), the key is recorded on the stream,
    a downstream CTAS grouping on the new key matches the DataFrame twin."""
    import glob
    import os
    from collections import defaultdict

    engine.execute(
        "CREATE STREAM clicks (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='clicks', value_format='json');"
    )
    data = [("a", 1.0), ("b", 2.0), ("a", 3.0), ("c", 4.0), ("b", 5.0),
            ("a", 6.0)]
    for k, v in data:
        engine.execute(f"INSERT INTO clicks (k, val) VALUES ('{k}', {v});")
    engine.execute(
        "CREATE STREAM rekeyed AS SELECT k, val FROM clicks "
        "PARTITION BY k EMIT CHANGES;"
    )
    assert engine.streams["rekeyed"].key_col == "k"
    engine.execute(
        "CREATE TABLE by_key AS SELECT k AS k, COUNT(*) AS n, "
        "SUM(val) AS total FROM rekeyed GROUP BY k EMIT CHANGES;"
    )
    rows = engine.execute("SELECT * FROM by_key;")
    # DataFrame twin
    twin = {
        (r["k"], r["n"], r["total"])
        for r in spark.createDataFrame(data, "k string, val double")
        .groupBy("k").agg(F.count(F.lit(1)).alias("n"),
                          F.sum("val").alias("total")).collect()
    }
    assert {(r["k"], r["n"], r["total"]) for r in rows} == twin
    # physical re-key: within the drained batch, each key lives in
    # exactly one parquet file
    files = glob.glob(os.path.join(engine.streams["rekeyed"].path,
                                   "part-*.parquet"))
    assert files
    key_files = defaultdict(set)
    for f in files:
        for r in spark.read.parquet(f).collect():
            key_files[r["k"]].add(f)
    assert all(len(fs) == 1 for fs in key_files.values())


def test_csas_partition_by_unknown_column_rejected(engine):
    engine.execute(
        "CREATE STREAM src1 (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='src1', value_format='json');"
    )
    with pytest.raises(Exception, match="PARTITION BY"):
        engine.execute(
            "CREATE STREAM bad AS SELECT val FROM src1 PARTITION BY k;"
        )


def test_table_table_join_updates_across_refreshes(engine):
    """r5 table-table join: ksqlDB changelog join served at read time —
    INNER and LEFT variants, with BOTH parent tables updating between
    pulls and the join reflecting each side's current state."""
    engine.execute(
        "CREATE STREAM s1 (k VARCHAR, v DOUBLE) "
        "WITH (kafka_topic='s1', value_format='json');"
        "CREATE STREAM s2 (k VARCHAR, w DOUBLE) "
        "WITH (kafka_topic='s2', value_format='json');"
    )
    engine.execute(
        "INSERT INTO s1 (k, v) VALUES ('a', 1.0);"
        "INSERT INTO s1 (k, v) VALUES ('a', 2.0);"
        "INSERT INTO s1 (k, v) VALUES ('b', 3.0);"
        "INSERT INTO s2 (k, w) VALUES ('a', 10.0);"
    )
    engine.execute(
        "CREATE TABLE t1 AS SELECT k AS k, COUNT(*) AS n1 "
        "FROM s1 GROUP BY k EMIT CHANGES;"
        "CREATE TABLE t2 AS SELECT k AS k, COUNT(*) AS n2 "
        "FROM s2 GROUP BY k EMIT CHANGES;"
        "CREATE TABLE joined AS SELECT t1.k, n1, n2 "
        "FROM t1 JOIN t2 ON t1.k = t2.k;"
        "CREATE TABLE joined_left AS SELECT t1.k, n1, n2 "
        "FROM t1 LEFT JOIN t2 ON t1.k = t2.k;"
    )
    rows = engine.execute("SELECT * FROM joined;")
    assert [(r["k"], r["n1"], r["n2"]) for r in rows] == [("a", 2, 1)]
    rows = engine.execute("SELECT * FROM joined_left;")
    assert sorted((r["k"], r["n1"], r["n2"]) for r in rows) == [
        ("a", 2, 1), ("b", 1, None)]
    # both sides update: new key on both; existing keys grow
    engine.execute(
        "INSERT INTO s1 (k, v) VALUES ('c', 7.0);"
        "INSERT INTO s2 (k, w) VALUES ('c', 8.0);"
        "INSERT INTO s2 (k, w) VALUES ('a', 11.0);"
        "INSERT INTO s2 (k, w) VALUES ('b', 12.0);"
    )
    rows = engine.execute("SELECT * FROM joined;")
    assert sorted((r["k"], r["n1"], r["n2"]) for r in rows) == [
        ("a", 2, 2), ("b", 1, 1), ("c", 1, 1)]


def test_windowed_ctas_over_timestampless_csas_fails_at_create(engine):
    """ADVICE r4: a CSAS that drops the source timestamp registers with
    ts_col=None; a windowed CTAS over it must fail at CREATE time with a
    parse error naming the fix, not an opaque Py4J error at refresh."""
    engine.execute(
        "CREATE STREAM evt (val DOUBLE, et TIMESTAMP) "
        "WITH (kafka_topic='evt', value_format='json', timestamp='et');"
    )
    engine.execute("CREATE STREAM no_ts AS SELECT val FROM evt;")
    with pytest.raises(Exception, match="timestamp"):
        engine.execute(
            "CREATE TABLE w AS SELECT COUNT(*) AS n FROM no_ts "
            "WINDOW TUMBLING (SIZE 1 MINUTE) GROUP BY 'x' EMIT CHANGES;"
        )


def test_drop_derived_stream_clears_engine_state(engine):
    """ADVICE r4: DROP STREAM on a derived (CSAS) stream removes its
    parquet output and checkpoint even without DELETE TOPIC — a
    re-created same-named CSAS starts fresh instead of inheriting stale
    rows/file-sink state (observable here: the new transform doubles
    values; stale rows would carry the old untransformed values)."""
    engine.execute(
        "CREATE STREAM base (val DOUBLE) "
        "WITH (kafka_topic='base', value_format='json');"
        "INSERT INTO base (val) VALUES (1.0);"
        "INSERT INTO base (val) VALUES (2.0);"
        "CREATE STREAM derived2 AS SELECT val FROM base;"
        "CREATE TABLE tot AS SELECT 'x' AS id, SUM(val) AS s "
        "FROM derived2 GROUP BY 'x' EMIT CHANGES;"
    )
    rows = engine.execute("SELECT * FROM tot;")
    assert rows[0]["s"] == 3.0
    engine.execute("DROP TABLE tot DELETE TOPIC; DROP STREAM derived2;")
    engine.execute(
        "INSERT INTO base (val) VALUES (4.0);"
        "CREATE STREAM derived2 AS SELECT val * 2 AS val FROM base;"
        "CREATE TABLE tot2 AS SELECT 'x' AS id, SUM(val) AS s "
        "FROM derived2 GROUP BY 'x' EMIT CHANGES;"
    )
    rows = engine.execute("SELECT * FROM tot2;")
    assert rows[0]["s"] == 14.0  # (1+2+4)*2 — no stale untransformed rows


def test_qualified_select_item_without_as_gets_base_alias(engine):
    """ADVICE r4: SELECT o.val FROM src o (no AS) must yield output
    column 'val', not the dotted literal 'o.val'."""
    engine.execute(
        "CREATE STREAM qsrc (val DOUBLE) "
        "WITH (kafka_topic='qsrc', value_format='json');"
        "INSERT INTO qsrc (val) VALUES (5.0);"
        "CREATE STREAM qsel AS SELECT o.val FROM qsrc o;"
    )
    assert engine.streams["qsel"].schema.names == ["val"]


def test_scalar_functions_in_dialect(engine):
    """r5 scalar functions: ABS/ROUND/POWER/UPPER/COALESCE etc. compile
    to Spark builtins anywhere an expression is accepted."""
    engine.execute(
        "CREATE STREAM fx (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='fx', value_format='json');"
        "INSERT INTO fx (k, val) VALUES ('a', -2.0);"
        "INSERT INTO fx (k, val) VALUES ('a', 3.5);"
        "INSERT INTO fx (k, val) VALUES ('b', -1.25);"
    )
    engine.execute(
        "CREATE STREAM fx2 AS SELECT UPPER(k) AS ku, ABS(val) AS av, "
        "ROUND(POWER(val, 2), 2) AS sq, COALESCE(val, 0) AS v "
        "FROM fx WHERE ABS(val) > 1 EMIT CHANGES;"
        "CREATE TABLE fx_tot AS SELECT ku AS ku, SUM(av) AS s, "
        "MAX(sq) AS m FROM fx2 GROUP BY ku EMIT CHANGES;"
    )
    rows = {r["ku"]: r for r in engine.execute("SELECT * FROM fx_tot;")}
    assert rows["A"]["s"] == 5.5
    assert rows["A"]["m"] == 12.25
    assert rows["B"]["s"] == 1.25
    # aggregate over a scalar-transformed argument
    engine.execute(
        "CREATE TABLE fx_skew AS SELECT 'x' AS id, "
        "SKEWNESS(ABS(val)) AS sk FROM fx GROUP BY 'x' EMIT CHANGES;"
    )
    r = engine.execute("SELECT * FROM fx_skew;")
    assert r and isinstance(r[0]["sk"], float)
    with pytest.raises(Exception, match="unknown scalar function"):
        engine.execute(
            "CREATE STREAM nope AS SELECT FROBNICATE(val) AS x FROM fx;"
        )


def test_csas_join_within_grace_period(engine):
    """r5: WITHIN n UNIT GRACE PERIOD m UNIT parses; the grace widens the
    join-state watermark (within + grace) while the match bound stays
    WITHIN — in-window matches are unchanged."""
    engine.execute(
        "CREATE STREAM gord (oid BIGINT, ots TIMESTAMP) "
        "WITH (kafka_topic='gord', value_format='json', timestamp='ots');"
        "CREATE STREAM gshp (sid BIGINT, gts TIMESTAMP) "
        "WITH (kafka_topic='gshp', value_format='json', timestamp='gts');"
        "INSERT INTO gord (oid, ots) VALUES (1, '2024-01-01 00:00:00');"
        "INSERT INTO gshp (sid, gts) VALUES (1, '2024-01-01 00:05:00');"
        "INSERT INTO gshp (sid, gts) VALUES (1, '2024-01-01 00:30:00');"
    )
    engine.execute(
        "CREATE STREAM gmatched AS SELECT o.oid AS oid, o.ots AS ots "
        "FROM gord o JOIN gshp s WITHIN 10 MINUTES GRACE PERIOD 20 MINUTES "
        "ON o.oid = s.sid EMIT CHANGES;"
    )
    assert engine.derived["gmatched"].join["grace"] == "20 minutes"
    engine.execute(
        "CREATE TABLE gcounts AS SELECT oid AS oid, COUNT(*) AS n "
        "FROM gmatched GROUP BY oid EMIT CHANGES;"
    )
    rows = engine.execute("SELECT * FROM gcounts;")
    # only the in-WITHIN shipment matches; the :30 one is outside the
    # match bound regardless of grace
    assert [(r["oid"], r["n"]) for r in rows] == [(1, 1)]


def test_case_when_expressions(engine):
    """r5 CASE WHEN: searched CASE in select items and inside aggregate
    arguments (conditional aggregation)."""
    engine.execute(
        "CREATE STREAM cw (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='cw', value_format='json');"
        "INSERT INTO cw (k, val) VALUES ('a', 5.0);"
        "INSERT INTO cw (k, val) VALUES ('a', -1.0);"
        "INSERT INTO cw (k, val) VALUES ('b', 0.5);"
        "INSERT INTO cw (k, val) VALUES ('b', 2.0);"
    )
    engine.execute(
        "CREATE STREAM cw2 AS SELECT k, "
        "CASE WHEN val > 1 THEN 'big' WHEN val > 0 THEN 'small' "
        "ELSE 'neg' END AS bucket FROM cw EMIT CHANGES;"
        "CREATE TABLE cw_counts AS SELECT bucket AS bucket, COUNT(*) AS n "
        "FROM cw2 GROUP BY bucket EMIT CHANGES;"
    )
    rows = {r["bucket"]: r["n"] for r in engine.execute("SELECT * FROM cw_counts;")}
    assert rows == {"big": 2, "small": 1, "neg": 1}
    # conditional aggregation: CASE inside the aggregate argument
    engine.execute(
        "CREATE TABLE cw_pos AS SELECT k AS k, "
        "SUM(CASE WHEN val > 0 THEN val ELSE 0 END) AS pos_sum "
        "FROM cw GROUP BY k EMIT CHANGES;"
    )
    rows = {r["k"]: r["pos_sum"] for r in engine.execute("SELECT * FROM cw_pos;")}
    assert rows == {"a": 5.0, "b": 2.5}


def test_predicate_in_like_between_isnull(engine):
    """r5 predicate forms: IN / NOT IN, LIKE, BETWEEN, IS [NOT] NULL."""
    engine.execute(
        "CREATE STREAM pf (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='pf', value_format='json');"
        "INSERT INTO pf (k, val) VALUES ('alpha', 1.0);"
        "INSERT INTO pf (k, val) VALUES ('beta', 2.5);"
        "INSERT INTO pf (k, val) VALUES ('gamma', 4.0);"
        "INSERT INTO pf (k, val) VALUES ('alpine', NULL);"
    )

    def count_where(pred):
        engine.execute(
            f"CREATE TABLE pf_{count_where.i} AS SELECT 'x' AS id, "
            f"COUNT(*) AS n FROM pf WHERE {pred} GROUP BY 'x' EMIT CHANGES;"
        )
        rows = engine.execute(f"SELECT * FROM pf_{count_where.i};")
        count_where.i += 1
        return rows[0]["n"] if rows else 0

    count_where.i = 0
    assert count_where("k IN ('alpha', 'beta')") == 2
    assert count_where("k NOT IN ('alpha')") == 3
    assert count_where("k LIKE 'alp%'") == 2
    assert count_where("val BETWEEN 1 AND 2.5") == 2
    assert count_where("val IS NULL") == 1
    assert count_where("val IS NOT NULL AND k LIKE '%a'") == 3
    assert count_where("val BETWEEN 1 AND 3 AND k LIKE 'b%'") == 1


def test_describe_and_show_queries(engine):
    """r5 catalog statements: DESCRIBE (schema + key/timestamp flags) and
    SHOW QUERIES (persistent CTAS/CSAS maintenance queries)."""
    engine.execute(
        "CREATE STREAM ds (val DOUBLE, et TIMESTAMP) "
        "WITH (kafka_topic='ds', value_format='json', timestamp='et');"
        "INSERT INTO ds (val, et) VALUES (1.0, '2024-01-01 00:00:00');"
        "CREATE STREAM ds2 AS SELECT val, et FROM ds PARTITION BY val;"
        "CREATE TABLE dt AS SELECT 'x' AS id, SUM(val) AS s "
        "FROM ds GROUP BY 'x' EMIT CHANGES;"
    )
    cols = {c["column"]: c for c in engine.execute("DESCRIBE ds;")}
    assert cols["val"]["type"] == "DOUBLE"
    assert cols["et"]["timestamp"] and not cols["val"]["timestamp"]
    cols2 = {c["column"]: c for c in engine.execute("DESCRIBE ds2;")}
    assert cols2["val"]["key"]  # PARTITION BY val -> key column
    tcols = {c["column"]: c for c in engine.execute("DESCRIBE dt;")}
    assert tcols["id"]["key"] and not tcols["s"]["key"]
    qs = engine.execute("SHOW QUERIES;")
    assert "CTAS_dt" in qs and "CSAS_ds2" in qs
    with pytest.raises(Exception, match="unknown stream or table"):
        engine.execute("DESCRIBE nope;")


def test_explain_surfaces_physical_plan(engine):
    """r5 EXPLAIN: the maintenance query's Spark physical plan is
    user-visible (hash aggregation for a CTAS; the CSAS projection)."""
    engine.execute(
        "CREATE STREAM ex (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='ex', value_format='json');"
        "INSERT INTO ex (k, val) VALUES ('a', 1.0);"
        "CREATE TABLE ext AS SELECT k AS k, SKEWNESS(val) AS sk "
        "FROM ex GROUP BY k EMIT CHANGES;"
        "CREATE STREAM exs AS SELECT k, val * 2 AS v2 FROM ex;"
    )
    plan = engine.execute("EXPLAIN ext;")
    assert "HashAggregate" in plan and "EvalPython" not in plan
    plan2 = engine.execute("EXPLAIN exs;")
    assert "Project" in plan2
    with pytest.raises(Exception, match="unknown table"):
        engine.execute("EXPLAIN nope;")


def test_insert_into_select_stream_merge(engine):
    """r5 INSERT INTO ... SELECT: another stream's transformed rows flow
    into the target alongside its own inserts (ksqlDB stream merge);
    later inserts on BOTH sources propagate through downstream tables."""
    engine.execute(
        "CREATE STREAM main_ev (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='main_ev', value_format='json');"
        "CREATE STREAM side_ev (k VARCHAR, raw DOUBLE) "
        "WITH (kafka_topic='side_ev', value_format='json');"
        "INSERT INTO main_ev (k, val) VALUES ('a', 1.0);"
        "INSERT INTO side_ev (k, raw) VALUES ('a', 50.0);"
        "INSERT INTO main_ev SELECT k, raw / 10 AS val FROM side_ev;"
        "CREATE TABLE merged_tot AS SELECT k AS k, SUM(val) AS s, "
        "COUNT(*) AS n FROM main_ev GROUP BY k EMIT CHANGES;"
    )
    rows = engine.execute("SELECT * FROM merged_tot;")
    assert [(r["k"], r["s"], r["n"]) for r in rows] == [("a", 6.0, 2)]
    # updates on both sources flow through
    engine.execute(
        "INSERT INTO main_ev (k, val) VALUES ('a', 2.0);"
        "INSERT INTO side_ev (k, raw) VALUES ('b', 30.0);"
    )
    rows = engine.execute("SELECT * FROM merged_tot;")
    assert sorted((r["k"], r["s"], r["n"]) for r in rows) == [
        ("a", 8.0, 3), ("b", 3.0, 1)]
    # feeders are internal: not listed, not directly insertable
    assert all(not s.startswith("_ins_")
               for s in engine.execute("SHOW STREAMS;"))
    with pytest.raises(Exception, match="not in the target schema"):
        engine.execute("INSERT INTO main_ev SELECT raw FROM side_ev;")
    with pytest.raises(Exception, match="itself"):
        engine.execute("INSERT INTO main_ev SELECT k, val FROM main_ev;")


def test_delimited_value_format(engine):
    """r5 value_format='delimited': CSV wire end-to-end — positional
    encode on INSERT, from_csv decode against the declared schema,
    strings with embedded commas quoted, NULL as empty field, and the
    same aggregate numbers as the JSON wire."""
    engine.execute(
        "CREATE STREAM dl (k VARCHAR, val DOUBLE, note VARCHAR) "
        "WITH (kafka_topic='dl', value_format='delimited');"
        "INSERT INTO dl (k, val, note) VALUES ('a', 1.5, 'x,y');"
        "INSERT INTO dl (k, val) VALUES ('a', 2.5);"
        "INSERT INTO dl (k, val, note) VALUES ('b', 4.0, 'plain');"
    )
    engine.execute(
        "CREATE TABLE dl_tot AS SELECT k AS k, SUM(val) AS s, COUNT(*) AS n "
        "FROM dl GROUP BY k EMIT CHANGES;"
    )
    rows = {r["k"]: r for r in engine.execute("SELECT * FROM dl_tot;")}
    assert rows["a"]["s"] == 4.0 and rows["a"]["n"] == 2
    assert rows["b"]["s"] == 4.0
    # quoted comma survived the round-trip; missing note is null
    cols = {c["column"] for c in engine.execute("DESCRIBE dl;")}
    assert {"k", "val", "note"} <= cols
    with pytest.raises(Exception, match="value_format"):
        engine.execute(
            "CREATE STREAM nope (x DOUBLE) "
            "WITH (kafka_topic='n', value_format='avro');"
        )


def test_insert_select_transitive_cycle_rejected(engine):
    """r6 ADVICE: mutual INSERT INTO feeders (a <- b and b <- a) must be
    rejected at INSERT time — ksqlDB rejects circular reads too — instead
    of recursing unboundedly at the target's next refresh. The rejected
    INSERT leaves no hidden feeder behind."""
    engine.execute(
        "CREATE STREAM cyc_a (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='cyc_a', value_format='json');"
        "CREATE STREAM cyc_b (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='cyc_b', value_format='json');"
        "INSERT INTO cyc_a (k, val) VALUES ('x', 1.0);"
        "INSERT INTO cyc_b (k, val) VALUES ('y', 10.0);"
        "INSERT INTO cyc_a SELECT k, val FROM cyc_b;"
    )
    with pytest.raises(Exception, match="cycle"):
        engine.execute("INSERT INTO cyc_b SELECT k, val FROM cyc_a;")
    # the surviving acyclic feeder still works, and no orphan remains
    engine.execute(
        "CREATE TABLE cyc_tot AS SELECT k AS k, SUM(val) AS s "
        "FROM cyc_a GROUP BY k EMIT CHANGES;"
    )
    rows = sorted((r["k"], r["s"]) for r in engine.execute("SELECT * FROM cyc_tot;"))
    assert rows == [("x", 1.0), ("y", 10.0)]
    # indirect cycle through a CSAS chain is caught too: d reads cyc_a,
    # so cyc_a must not accept a feeder selecting from d
    engine.execute("CREATE STREAM cyc_d AS SELECT k, val * 2 AS val FROM cyc_a;")
    with pytest.raises(Exception, match="cycle"):
        engine.execute("INSERT INTO cyc_a SELECT k, val FROM cyc_d;")


def test_drop_stream_with_dependents(engine):
    """r6 ADVICE: DROP of a stream with visible derived readers is
    refused (ksqlDB parity); hidden INSERT feeders are removed with their
    source or target instead of dangling into a KeyError, and the rows
    they published stay on the target's topic."""
    engine.execute(
        "CREATE STREAM src_s (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='src_s', value_format='json');"
        "INSERT INTO src_s (k, val) VALUES ('a', 1.0);"
        "CREATE STREAM der_s AS SELECT k, val * 10 AS val FROM src_s;"
    )
    with pytest.raises(Exception, match="drop them first"):
        engine.execute("DROP STREAM src_s;")
    engine.execute("DROP STREAM der_s; DROP STREAM src_s;")
    assert "src_s" not in engine.execute("SHOW STREAMS;")
    # dropping the feeder's SOURCE removes the hidden feeder; the target
    # keeps working on its own rows afterwards
    engine.execute(
        "CREATE STREAM tgt_s (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='tgt_s', value_format='json');"
        "CREATE STREAM side_s (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='side_s', value_format='json');"
        "INSERT INTO tgt_s (k, val) VALUES ('t', 1.0);"
        "INSERT INTO side_s (k, val) VALUES ('s', 2.0);"
        "INSERT INTO tgt_s SELECT k, val FROM side_s;"
        "CREATE TABLE tgt_tot AS SELECT k AS k, SUM(val) AS s "
        "FROM tgt_s GROUP BY k EMIT CHANGES;"
    )
    rows = sorted((r["k"], r["s"]) for r in engine.execute("SELECT * FROM tgt_tot;"))
    assert rows == [("s", 2.0), ("t", 1.0)]
    engine.execute("DROP STREAM side_s;")
    # ksqlDB parity: rows the feeder already produced into the target's
    # topic PERSIST after the feeder's source is dropped
    engine.execute("INSERT INTO tgt_s (k, val) VALUES ('t', 3.0);")
    rows = sorted((r["k"], r["s"]) for r in engine.execute("SELECT * FROM tgt_tot;"))
    assert rows == [("s", 2.0), ("t", 4.0)]
    assert all(not s.startswith("_ins_") for s in engine.execute("SHOW STREAMS;"))
    # DROP of the source first publishes what the feeder had not yet
    # produced: its rows are on the target's topic too, whether or not a
    # read served them before the DROP
    engine.execute(
        "CREATE STREAM side2_s (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='side2_s', value_format='json');"
        "INSERT INTO side2_s (k, val) VALUES ('z', 9.0);"
        "INSERT INTO tgt_s SELECT k, val FROM side2_s;"
        "DROP STREAM side2_s;"
    )
    rows = sorted((r["k"], r["s"]) for r in engine.execute("SELECT * FROM tgt_tot;"))
    assert rows == [("s", 2.0), ("t", 4.0), ("z", 9.0)]


def test_terminate_show_topics_print(engine):
    """r6 dialect long-tail: SHOW TOPICS lists backing topics, PRINT
    tails a topic's records from the beginning, TERMINATE stops a
    table's maintenance query (state freezes, SHOW QUERIES drops the
    id, DROP clears the marker for a fresh same-named re-create)."""
    engine.execute(
        "CREATE STREAM tp (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='tp_topic', value_format='json');"
        "INSERT INTO tp (k, val) VALUES ('a', 1.0);"
        "INSERT INTO tp (k, val) VALUES ('b', 2.0);"
        "CREATE TABLE tp_tot WITH (KAFKA_TOPIC='tp_out') AS "
        "SELECT k AS k, SUM(val) AS s FROM tp GROUP BY k EMIT CHANGES;"
    )
    topics = engine.execute("SHOW TOPICS;")
    assert "tp_topic" in topics and "tp_out" in topics
    # PRINT serves the wire records (JSON, rowtime included), LIMIT caps
    recs = engine.execute("PRINT 'tp_topic' FROM BEGINNING;")
    assert len(recs) == 2 and '"k":"a"' in recs[0] and "rowtime" in recs[0]
    assert len(engine.execute("PRINT tp_topic LIMIT 1;")) == 1
    with pytest.raises(Exception, match="unknown topic"):
        engine.execute("PRINT nope_topic;")
    # TERMINATE freezes the table at its current state
    assert engine.execute("SELECT * FROM tp_tot;")  # materialize first
    engine.execute("TERMINATE CTAS_tp_tot;")
    assert "CTAS_tp_tot" not in engine.execute("SHOW QUERIES;")
    engine.execute("INSERT INTO tp (k, val) VALUES ('a', 100.0);")
    rows = {r["k"]: r["s"] for r in engine.execute("SELECT * FROM tp_tot;")}
    assert rows == {"a": 1.0, "b": 2.0}  # the new insert did NOT drain
    with pytest.raises(Exception, match="already terminated"):
        engine.execute("TERMINATE CTAS_tp_tot;")
    with pytest.raises(Exception, match="unknown query id"):
        engine.execute("TERMINATE CTAS_nope;")
    # ksqlDB teardown order works, and re-create runs fresh (drains all)
    engine.execute("DROP TABLE tp_tot;")
    engine.execute(
        "CREATE TABLE tp_tot AS SELECT k AS k, SUM(val) AS s "
        "FROM tp GROUP BY k EMIT CHANGES;"
    )
    rows = {r["k"]: r["s"] for r in engine.execute("SELECT * FROM tp_tot;")}
    assert rows == {"a": 101.0, "b": 2.0}
    # TERMINATE ALL empties SHOW QUERIES
    engine.execute("TERMINATE ALL;")
    assert engine.execute("SHOW QUERIES;") == []


def test_dependency_hardening_r6(engine):
    """r6 review fixes: (a) INSERT cycle through the hidden CSAS's JOIN
    side is rejected at INSERT time; (b) DROP STREAM with a CTAS table
    reader is refused by name, ksqlDB-parity; (c) a feeder TERMINATEd
    and then dropped with its target leaves no marker that freezes a
    recreated feeder; (d) PRINT drains INSERT feeders before tailing;
    (e) PRINT works on CTAS output topics SHOW TOPICS lists."""
    # (a) cycle through the join side of the feeder's SELECT (the
    # stream-stream interval join needs distinct column names per side)
    engine.execute(
        "CREATE STREAM ja (ka VARCHAR, vala DOUBLE, ta TIMESTAMP) "
        "WITH (kafka_topic='ja', value_format='json', timestamp='ta');"
        "CREATE STREAM jb (kb VARCHAR, valb DOUBLE, tb TIMESTAMP) "
        "WITH (kafka_topic='jb', value_format='json', timestamp='tb');"
    )
    with pytest.raises(Exception, match="cycle"):
        engine.execute(
            "INSERT INTO ja SELECT jb.kb AS ka, jb.valb AS vala, "
            "jb.tb AS ta FROM jb JOIN ja WITHIN 1 HOUR ON jb.kb = ja.ka;"
        )
    # the rejected INSERT left no hidden feeder or orphan registration
    assert all(not s.startswith("_ins_")
               for s in engine.execute("SHOW STREAMS;"))

    # (b) a stream with a CTAS reader cannot be dropped
    engine.execute(
        "CREATE TABLE ja_tot AS SELECT ka AS ka, SUM(vala) AS s "
        "FROM ja GROUP BY ka EMIT CHANGES;"
    )
    with pytest.raises(Exception, match="tables.*read from it"):
        engine.execute("DROP STREAM ja;")
    engine.execute("DROP TABLE ja_tot;")
    engine.execute("DROP STREAM ja;")  # now fine

    # (c) TERMINATE ALL marks hidden feeders; DROP of the target must
    # clear those markers so a recreated feeder is not silently frozen.
    # The first feeder's row stays on the kept tz topic (no DELETE
    # TOPIC), and the recreated feeder produces it again.
    engine.execute(
        "CREATE STREAM tz (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='tz', value_format='json');"
        "CREATE STREAM sz (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='sz', value_format='json');"
        "INSERT INTO sz (k, val) VALUES ('m', 5.0);"
        "INSERT INTO tz SELECT k, val FROM sz;"
        "TERMINATE ALL;"
        "DROP STREAM tz;"
        "CREATE STREAM tz (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='tz', value_format='json');"
        "INSERT INTO tz SELECT k, val FROM sz;"
        "CREATE TABLE tz_tot AS SELECT k AS k, SUM(val) AS s "
        "FROM tz GROUP BY k EMIT CHANGES;"
    )
    rows = {r["k"]: r["s"] for r in engine.execute("SELECT * FROM tz_tot;")}
    assert rows == {"m": 10.0}  # the recreated feeder drains

    # (d) PRINT of a stream with an undrained feeder shows the merged view
    engine.execute(
        "CREATE STREAM pa (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='pa', value_format='json');"
        "CREATE STREAM pb (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='pb', value_format='json');"
        "INSERT INTO pa (k, val) VALUES ('p', 1.0);"
        "INSERT INTO pb (k, val) VALUES ('q', 2.0);"
        "INSERT INTO pa SELECT k, val FROM pb;"
    )
    recs = engine.execute("PRINT pa FROM BEGINNING;")
    assert len(recs) == 2 and any('"k":"q"' in r for r in recs)

    # (e) PRINT of a CTAS output topic (declared via WITH kafka_topic)
    engine.execute(
        "CREATE TABLE pa_tot WITH (KAFKA_TOPIC='pa_out') AS "
        "SELECT k AS k, SUM(val) AS s FROM pa GROUP BY k EMIT CHANGES;"
    )
    assert "pa_out" in engine.execute("SHOW TOPICS;")
    recs = engine.execute("PRINT 'pa_out';")
    assert len(recs) == 2 and any('"k":"p"' in r for r in recs)

    # (f) a feeder whose SOURCE gains a feeder of its own: the new rows
    # propagate through the chain into the first feeder's target, and
    # the target's readers count no row twice
    engine.execute(
        "CREATE STREAM fa (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='fa', value_format='json');"
        "CREATE STREAM fb (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='fb', value_format='json');"
        "CREATE STREAM fc (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='fc', value_format='json');"
        "INSERT INTO fa (k, val) VALUES ('a', 1.0);"
        "INSERT INTO fb (k, val) VALUES ('b', 2.0);"
        "INSERT INTO fb SELECT k, val FROM fa;"
        "CREATE TABLE fb_tot AS SELECT k AS k, SUM(val) AS s "
        "FROM fb GROUP BY k EMIT CHANGES;"
    )
    rows = {r["k"]: r["s"] for r in engine.execute("SELECT * FROM fb_tot;")}
    assert rows == {"a": 1.0, "b": 2.0}
    engine.execute(
        "INSERT INTO fc (k, val) VALUES ('c', 4.0);"
        "INSERT INTO fa SELECT k, val FROM fc;"
    )
    rows = {r["k"]: r["s"] for r in engine.execute("SELECT * FROM fb_tot;")}
    assert rows == {"a": 1.0, "b": 2.0, "c": 4.0}  # a stays 1.0: no double count


def test_ksql_e2e_query_leaves_no_work_dir(spark, sf_dir):
    """The ksql_e2e_* declared queries pull their rows to the driver and
    remove their temporary engine work directory before returning."""
    import glob
    import os
    import tempfile

    from ksql_udaf_statistics_spark.plans.queries import QUERIES

    pattern = os.path.join(tempfile.gettempdir(), "kuss_ksql_*")
    before = set(glob.glob(pattern))
    out = QUERIES["ksql_e2e_session_stats"](spark, sf_dir)
    assert out.count() > 0
    assert set(glob.glob(pattern)) - before == set()


def _stream_files(engine, name):
    """The stream's record files a file-source listing sees (Spark skips
    names starting with '.' or '_')."""
    return sorted(f for f in os.listdir(engine.streams[name].path)
                  if not f.startswith((".", "_")))


def _count_table(engine, stream, fmt="json"):
    engine.execute(
        f"CREATE STREAM {stream} (k VARCHAR, val DOUBLE) "
        f"WITH (kafka_topic='{stream}', value_format='{fmt}');"
        f"CREATE TABLE {stream}_tot AS SELECT k AS k, COUNT(*) AS n, "
        f"SUM(val) AS s FROM {stream} GROUP BY k EMIT CHANGES;"
    )


def _inserts(stream, keys):
    return "".join(
        f"INSERT INTO {stream} (k, val) VALUES ('{k}', {float(i)});"
        for i, k in enumerate(keys)
    )


def test_one_execute_publishes_one_file_per_stream(engine):
    """The INSERT ... VALUES records of one execute() land in one file per
    target stream, in statement order, and a pull sees every record."""
    _count_table(engine, "ba")
    _count_table(engine, "bb")
    engine.execute(_inserts("ba", [f"k{i % 7}" for i in range(50)]))
    assert len(_stream_files(engine, "ba")) == 1
    rows = engine.execute("SELECT * FROM ba_tot;")
    assert sum(r["n"] for r in rows) == 50
    assert sum(r["s"] for r in rows) == float(sum(range(50)))

    engine.execute(_inserts("ba", ["x", "y"]) + _inserts("bb", ["x", "y", "z"])
                   + _inserts("ba", ["z"]))
    assert len(_stream_files(engine, "ba")) == 2
    [fname] = _stream_files(engine, "bb")
    with open(os.path.join(engine.streams["bb"].path, fname)) as f:
        assert [json.loads(line)["k"] for line in f] == ["x", "y", "z"]
    assert sum(r["n"] for r in engine.execute("SELECT * FROM ba_tot;")) == 53
    assert {r["k"]: r["n"] for r in engine.execute("SELECT * FROM bb_tot;")} \
        == {"x": 1, "y": 1, "z": 1}


def test_statement_between_inserts_sees_earlier_inserts(engine, monkeypatch):
    """Any other statement publishes the buffered records before it runs:
    a pull between two INSERTs of one call sees the first one."""
    _count_table(engine, "bc")
    seen = []
    pull = engine._pull_query
    monkeypatch.setattr(engine, "_pull_query",
                        lambda stmt: seen.append(pull(stmt)) or seen[-1])
    assert engine.execute(
        _inserts("bc", ["a"]) + "SELECT * FROM bc_tot;" + _inserts("bc", ["b"])
    ) is None
    assert [r["k"] for r in seen[0]] == ["a"]
    assert len(_stream_files(engine, "bc")) == 2
    assert sorted(r["k"] for r in engine.execute("SELECT * FROM bc_tot;")) == ["a", "b"]


def test_failing_statement_still_publishes_earlier_inserts(engine):
    _count_table(engine, "bd")
    with pytest.raises(Exception, match="arity mismatch"):
        engine.execute(
            _inserts("bd", ["a", "b"])
            + "INSERT INTO bd (k, val) VALUES ('c');"
            + _inserts("bd", ["d"])
        )
    assert len(_stream_files(engine, "bd")) == 1
    assert sorted(r["k"] for r in engine.execute("SELECT * FROM bd_tot;")) == ["a", "b"]


def test_delimited_stream_batches_inserts(engine):
    _count_table(engine, "be", fmt="delimited")
    engine.execute(_inserts("be", ["a", "b", "a"]))
    [fname] = _stream_files(engine, "be")
    assert fname.endswith(".csv")
    assert {r["k"]: r["n"] for r in engine.execute("SELECT * FROM be_tot;")} \
        == {"a": 2, "b": 1}


def test_failed_publish_leaves_no_stream_file(engine, monkeypatch):
    """The records of one execute() are published atomically: when the
    publish fails, the call raises, no visible (or temporary) file is
    left, and no reader sees any of its records."""
    from ksql_udaf_statistics_spark.frontend import ksql as ksql_mod

    _count_table(engine, "bt")
    engine.execute(_inserts("bt", ["a"]))

    def fail_replace(src, dst):
        raise OSError("publish failed")

    with monkeypatch.context() as mp:
        mp.setattr(ksql_mod.os, "replace", fail_replace)
        with pytest.raises(OSError, match="publish failed"):
            engine.execute(_inserts("bt", ["b", "c"]))
    assert len(os.listdir(engine.streams["bt"].path)) == 1
    assert [r["k"] for r in engine.execute("SELECT * FROM bt_tot;")] == ["a"]


def test_doubled_quote_escapes_a_quote(engine):
    """ksqlDB escapes ' inside a string literal by doubling it, in INSERT
    values and in predicates alike."""
    assert KsqlEngine._literal("'it''s'") == "it's"
    _count_table(engine, "eq")
    engine.execute(_inserts("eq", ["its"]) + "INSERT INTO eq (k, val) VALUES ('it''s', 2.5);")
    assert engine.execute("SELECT k, s FROM eq_tot WHERE k = 'it''s';") \
        == [{"k": "it's", "s": 2.5}]


def test_batched_insert_refresh_runs_one_spark_job(engine):
    """A refresh after a 50-INSERT execute() reads one stream file: the
    micro-batch is the only Spark job the op adds to the table query's
    job group, with no parallel file-listing job (Spark lists more than
    32 paths with a job)."""
    _count_table(engine, "bj")
    q = engine.queries["ctas_bj_tot"]
    sc = engine.spark.sparkContext

    def jobs():
        # job records reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))

    before = jobs()
    engine.execute(_inserts("bj", [f"k{i % 7}" for i in range(50)]))
    assert sum(r["n"] for r in engine.execute("SELECT * FROM bj_tot;")) == 50
    assert jobs() - before == 1


def _active(spark, prefix):
    return [q for q in spark.streams.active if q.name.startswith(prefix + "_")]


def _counts(rows):
    return {r["k"]: r["n"] for r in rows}


def test_terminate_catches_up_then_stops_the_query(engine, spark):
    """TERMINATE freezes the table at everything published before it: a
    record INSERTed in the same execute() just before the TERMINATE is in
    the frozen state, and the query is no longer active."""
    _count_table(engine, "tq")
    assert len(_active(spark, "ctas_tq_tot")) == 1
    engine.execute(_inserts("tq", ["a", "b"]) + "TERMINATE CTAS_tq_tot;")
    assert _active(spark, "ctas_tq_tot") == []
    engine.execute(_inserts("tq", ["a"]))
    assert _counts(engine.execute("SELECT * FROM tq_tot;")) == {"a": 1, "b": 1}


def test_drop_and_recreate_runs_one_fresh_query(engine, spark):
    """DROP stops the table's query before deleting its state; the
    re-created table runs exactly one query, on a fresh checkpoint that
    recomputes every record from offset 0 in one batch."""
    _count_table(engine, "dq")
    for keys in (["a"], ["a", "b"]):
        engine.execute(_inserts("dq", keys))
        engine.execute("SELECT * FROM dq_tot;")
    assert len(engine.tables["dq_tot"].sink.committed_batches()) == 2
    engine.execute("DROP TABLE dq_tot;")
    assert _active(spark, "ctas_dq_tot") == []
    engine.execute(
        "CREATE TABLE dq_tot AS SELECT k AS k, COUNT(*) AS n, "
        "SUM(val) AS s FROM dq GROUP BY k EMIT CHANGES;"
    )
    assert len(_active(spark, "ctas_dq_tot")) == 1
    assert _counts(engine.execute("SELECT * FROM dq_tot;")) == {"a": 2, "b": 1}
    assert [e["batch_id"] for e in
            engine.tables["dq_tot"].sink.committed_batches()] == [0]
    assert len(_active(spark, "ctas_dq_tot")) == 1


def test_feeder_leaves_the_target_table_query_running(engine, spark):
    """Registering an INSERT INTO ... SELECT feeder restarts nothing
    downstream: the target stream's CTAS keeps running with the same
    run id and its committed batches, and its pull equals the same table
    computed from offset 0 by a query created afterwards."""
    engine.execute(
        "CREATE STREAM ft (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='ft', value_format='json');"
        "CREATE STREAM fs (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='fs', value_format='json');"
        "CREATE TABLE ft_tot AS SELECT k AS k, COUNT(*) AS n "
        "FROM ft GROUP BY k EMIT CHANGES;"
    )
    engine.execute(_inserts("ft", ["a", "b", "a"]))
    assert _counts(engine.execute("SELECT * FROM ft_tot;")) == {"a": 2, "b": 1}
    query = engine.queries["ctas_ft_tot"]
    run_id = query.runId
    committed = engine.tables["ft_tot"].sink.committed_batches()
    engine.execute(_inserts("fs", ["b", "c"]) + "INSERT INTO ft SELECT k, val FROM fs;")
    assert engine.queries["ctas_ft_tot"] is query and query.isActive
    assert query.runId == run_id
    assert engine.tables["ft_tot"].sink.committed_batches()[:len(committed)] == committed
    engine.execute(
        "CREATE TABLE ft_fresh AS SELECT k AS k, COUNT(*) AS n "
        "FROM ft GROUP BY k EMIT CHANGES;"
    )
    got = _counts(engine.execute("SELECT * FROM ft_tot;"))
    assert got == _counts(engine.execute("SELECT * FROM ft_fresh;"))
    assert got == {"a": 2, "b": 2, "c": 1}


def test_query_stopped_outside_the_engine_fails_one_pull(engine, spark):
    """A table query that stops behind the engine's back makes the next
    pull raise, naming the table, instead of serving stale rows; the pull
    after that restarts it from its checkpoint and serves every record."""
    _count_table(engine, "kq")
    engine.execute(_inserts("kq", ["a"]))
    assert _counts(engine.execute("SELECT * FROM kq_tot;")) == {"a": 1}
    engine.queries["ctas_kq_tot"].stop()
    engine.execute(_inserts("kq", ["a", "b"]))
    with pytest.raises(RuntimeError, match="table 'kq_tot'"):
        engine.execute("SELECT * FROM kq_tot;")
    assert _counts(engine.execute("SELECT * FROM kq_tot;")) == {"a": 2, "b": 1}
    assert len(_active(spark, "ctas_kq_tot")) == 1


def test_feeder_after_a_removed_feeder_gets_a_free_name(engine):
    """A feeder registered after an earlier one was removed does not
    take over a live feeder's name, and with it its query and checkpoint:
    both live feeders' rows reach the target, and so does the row the
    removed feeder published before its source was dropped."""
    engine.execute("".join(
        f"CREATE STREAM {s} (k VARCHAR, val DOUBLE) "
        f"WITH (kafka_topic='{s}', value_format='json');"
        for s in ("nt", "na", "nb", "nc")
    ) + _inserts("na", ["a"]) + _inserts("nb", ["b"]) + _inserts("nc", ["c"]) + (
        "INSERT INTO nt SELECT k, val FROM na;"
        "INSERT INTO nt SELECT k, val FROM nb;"
        "DROP STREAM na;"
        "INSERT INTO nt SELECT k, val FROM nc;"
        "CREATE TABLE nt_tot AS SELECT k AS k, COUNT(*) AS n "
        "FROM nt GROUP BY k EMIT CHANGES;"
    ))
    assert _counts(engine.execute("SELECT * FROM nt_tot;")) == {"a": 1, "b": 1, "c": 1}


def test_replayed_feeder_batch_replaces_its_file(engine, spark):
    """A feeder's batch writer called twice with one batch id (a replay
    after a crash before the batch commit) leaves one file, and the
    target's readers count its rows once."""
    from ksql_udaf_statistics_spark.frontend.ksql import _FeederWriter

    _count_table(engine, "rp")
    writer = _FeederWriter(engine.streams["rp"], "_ins_rp_test")
    batch = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, val double")
    writer(batch, 7)
    assert _counts(engine.execute("SELECT * FROM rp_tot;")) == {"a": 1, "b": 1}
    writer(batch, 7)
    assert _stream_files(engine, "rp") == ["ins_rp_test-000000000007.json"]
    assert os.listdir(engine.streams["rp"].path) == _stream_files(engine, "rp")
    engine.execute(_inserts("rp", ["a"]))
    assert _counts(engine.execute("SELECT * FROM rp_tot;")) == {"a": 2, "b": 1}


@pytest.mark.parametrize("fmt", ["json", "delimited"])
def test_feeder_rows_follow_the_target_wire_format(engine, fmt):
    """Rows a feeder publishes are encoded like INSERT ... VALUES records
    of the target: a json target gets NaN as null, a delimited one keeps
    NaN, and both keep null. A table over the feeder's target equals the
    same table over a stream that got the records by INSERT ... VALUES."""
    rows = ("INSERT INTO {s} (k, val) VALUES ('a', 1.5);"
            "INSERT INTO {s} (k, val) VALUES ('a', NaN);"
            "INSERT INTO {s} (k) VALUES ('a');"
            "INSERT INTO {s} (k, val) VALUES ('b', -2.0);")
    for s in ("fsrc", "ftgt", "fctl"):
        # the source is delimited in both cases: it keeps the NaN
        wire = "delimited" if s == "fsrc" else fmt
        engine.execute(
            f"CREATE STREAM {s} (k VARCHAR, val DOUBLE) "
            f"WITH (kafka_topic='{s}', value_format='{wire}');"
        )
    for s in ("ftgt", "fctl"):
        engine.execute(
            f"CREATE TABLE {s}_tot AS SELECT k AS k, COUNT(*) AS n, "
            f"COUNT(val) AS nv, SUM(val) AS s FROM {s} GROUP BY k EMIT CHANGES;"
        )
    engine.execute(rows.format(s="fsrc") + rows.format(s="fctl")
                   + "INSERT INTO ftgt SELECT k, val FROM fsrc;")
    got = sorted(engine.execute("SELECT * FROM ftgt_tot;"), key=lambda r: r["k"])
    assert got == sorted(engine.execute("SELECT * FROM fctl_tot;"),
                         key=lambda r: r["k"])
    # json: the NaN arrived as null, so COUNT(val) skips it; delimited:
    # it stayed NaN, so COUNT(val) counts it and SUM is NaN (served null)
    nan_kept = fmt == "delimited"
    assert got[0] == {"k": "a", "n": 3, "nv": 1 + nan_kept,
                      "s": None if nan_kept else 1.5}
    # a synthetic ROWTIME is stamped on the feeder's rows
    recs = [json.loads(r) for r in engine.execute("PRINT ftgt;")]
    assert len(recs) == 4 and all(r["rowtime"] for r in recs)


def test_feeder_rows_land_in_the_same_windows(engine):
    """A feeder into a target with timestamp='ts' puts its rows in the
    same tumbling windows, with the same values, as INSERT ... VALUES of
    the same records."""
    rows = "".join(
        f"INSERT INTO {{s}} (k, val, ts) VALUES "
        f"('{k}', {v}, '2024-01-01 00:{m:02d}:{sec:02d}.{us:06d}');"
        for k, v, m, sec, us in [("a", 1.0, 0, 0, 0), ("a", 2.5, 4, 59, 999999),
                                 ("a", 4.0, 5, 0, 0), ("b", 8.0, 9, 30, 123456)]
    )
    for s in ("tsrc", "ttgt", "tctl"):
        engine.execute(
            f"CREATE STREAM {s} (k VARCHAR, val DOUBLE, ts TIMESTAMP) "
            f"WITH (kafka_topic='{s}', value_format='json', timestamp='ts');"
        )
    for s in ("ttgt", "tctl"):
        engine.execute(
            f"CREATE TABLE {s}_w AS SELECT k AS k, WINDOWSTART AS ws, "
            f"COUNT(*) AS n, SUM(val) AS s, SKEWNESS(val) AS sk FROM {s} "
            f"WINDOW TUMBLING (SIZE 5 MINUTES) GROUP BY k EMIT CHANGES;"
        )
    engine.execute(rows.format(s="tsrc") + rows.format(s="tctl")
                   + "INSERT INTO ttgt SELECT k, val, ts FROM tsrc;")

    def windows(table):
        return sorted((r["k"], str(r["ws"]), r["n"], r["s"], r["sk"])
                      for r in engine.execute(f"SELECT * FROM {table};"))

    got = windows("ttgt_w")
    assert got == windows("tctl_w")
    assert [g[:4] for g in got] == [
        ("a", "2024-01-01 00:00:00", 2, 3.5),
        ("a", "2024-01-01 00:05:00", 1, 4.0),
        ("b", "2024-01-01 00:05:00", 1, 8.0),
    ]


@pytest.mark.parametrize("via", ["source", "csas", "feeder"])
def test_every_insert_is_visible_to_the_next_pull(engine, via):
    """30 rounds of one execute() of k INSERTs followed by a pull: every
    round's pull counts every record inserted so far, exactly. Over a
    CSAS, or over the target of an INSERT INTO ... SELECT feeder, the pull
    must first wait for that query, then the table's."""
    engine.execute(
        "CREATE STREAM vs (k VARCHAR, val DOUBLE) "
        "WITH (kafka_topic='vs', value_format='json');"
    )
    src = "vs"
    if via == "csas":
        engine.execute("CREATE STREAM vs_d AS SELECT k, val * 2 AS val FROM vs;")
        src = "vs_d"
    elif via == "feeder":
        engine.execute(
            "CREATE STREAM vs_t (k VARCHAR, val DOUBLE) "
            "WITH (kafka_topic='vs_t', value_format='json');"
            "INSERT INTO vs_t SELECT k, val FROM vs;"
        )
        src = "vs_t"
    engine.execute(
        f"CREATE TABLE vs_tot AS SELECT k AS k, COUNT(*) AS n "
        f"FROM {src} GROUP BY k EMIT CHANGES;"
    )
    want: Counter = Counter()
    for r in range(30):
        keys = [f"k{(r + i) % 5}" for i in range(1 + r % 4)]
        want.update(keys)
        rows = engine.execute(_inserts("vs", keys) + "SELECT * FROM vs_tot;")
        assert _counts(rows) == dict(want), f"round {r}"


def test_describe_extended_reports_the_maintaining_query(engine, spark):
    """DESCRIBE EXTENDED appends the maintaining query's runtime row: its
    id, its state and its last progress report."""
    # no idle-trigger report may replace the data batch's as the last one
    # (the interval is read when the query starts)
    spark.conf.set("spark.sql.streaming.noDataProgressEventInterval", "1h")
    try:
        _count_table(engine, "de")
    finally:
        spark.conf.unset("spark.sql.streaming.noDataProgressEventInterval")
    engine.execute(_inserts("de", ["a", "b", "a"]))
    plain = engine.execute("DESCRIBE de_tot;")
    rows = engine.execute("DESCRIBE EXTENDED de_tot;")
    assert rows[:-1] == plain
    rt = rows[-1]
    assert rt["query"] == "CTAS_de_tot" and rt["state"] == "RUNNING"
    assert rt["query_id"] == str(engine.queries["ctas_de_tot"].id)
    assert rt["batch_id"] == 0 and rt["num_input_rows"] == 3
    assert rt["state_rows_total"] == 2
    assert rt["processed_rows_per_second"] > 0
    # a source stream has no maintaining query; a derived stream does
    assert engine.execute("DESCRIBE EXTENDED de;") == engine.execute("DESCRIBE de;")
    engine.execute("CREATE STREAM de_d AS SELECT k, val FROM de;")
    assert engine.execute("DESCRIBE EXTENDED de_d;")[-1]["state"] == "RUNNING"
    engine.execute("TERMINATE CTAS_de_tot;")
    assert engine.execute("DESCRIBE EXTENDED de_tot;")[-1]["state"] == "TERMINATED"
