"""Batch ``run()`` vs live ``run_streaming()`` where the feed sentinel or the
feed's types could leak into results: running aggregates without a WHERE,
an all-null string chunk, an empty source stream, windows with GROUP BY,
and NULL group keys."""

import datetime

import pytest

from eventflux_engine_spark.sql.app import EventFluxApp

EVENTS = [(0, 5), (1, 6), (0, 7)]


def _app(spark, sql, rows):
    app = EventFluxApp(spark).execute(sql)
    if rows:
        app.send("S", rows)
    return app


def _parity(spark, sql, rows, **kw):
    app = _app(spark, sql, rows)
    batch = app.run("Out")
    assert sorted(app.run_streaming("Out", **kw)) == sorted(batch)
    return sorted(batch)


class TestRunningAggregateSentinel:
    """The far-future sentinel row must not be aggregated by a
    non-windowed running aggregate that has no WHERE clause."""

    def test_count_star(self, spark):
        sql = """
            CREATE STREAM S (k INT, v INT);
            CREATE STREAM Out (n BIGINT);
            INSERT INTO Out SELECT COUNT(*) AS n FROM S;
        """
        assert _parity(spark, sql, EVENTS) == [(3,)]

    def test_min(self, spark):
        sql = """
            CREATE STREAM S (k INT, v INT);
            CREATE STREAM Out (m INT);
            INSERT INTO Out SELECT MIN(v) AS m FROM S;
        """
        assert _parity(spark, sql, EVENTS) == [(5,)]

    def test_int_group_key(self, spark):
        # the sentinel's neutral int key 0 collides with a real key
        sql = """
            CREATE STREAM S (k INT, v INT);
            CREATE STREAM Out (k INT, n BIGINT);
            INSERT INTO Out SELECT k, COUNT(*) AS n FROM S GROUP BY k;
        """
        assert _parity(spark, sql, EVENTS) == [(0, 2), (1, 1)]


def test_all_null_string_chunk(spark):
    sql = """
        CREATE STREAM S (k VARCHAR, v INT);
        CREATE STREAM Out (k VARCHAR, v INT);
        INSERT INTO Out SELECT k, v FROM S;
    """
    app = _app(spark, sql, [("a", 1), (None, 2)])
    assert app.run_streaming("Out", n_chunks=2) == app.run("Out") == [("a", 1), (None, 2)]


class TestEmptySourceStream:
    def test_row_level_filter(self, spark):
        sql = """
            CREATE STREAM S (k VARCHAR, v INT);
            CREATE STREAM Out (k VARCHAR, v INT);
            INSERT INTO Out SELECT k, v FROM S WHERE v > 1;
        """
        assert _parity(spark, sql, []) == []

    def test_keyed_group_by(self, spark):
        sql = """
            CREATE STREAM S (k VARCHAR, v INT);
            CREATE STREAM Out (k VARCHAR, n BIGINT);
            INSERT INTO Out SELECT k, COUNT(*) AS n FROM S GROUP BY k;
        """
        assert _parity(spark, sql, []) == []


class TestWindowGroupBy:
    """Batch windows whose retained set is computed before aggregation
    (time, sort, length, externalTime) keep the query's GROUP BY."""

    def test_time_window(self, spark):
        sql = """
            CREATE STREAM S (k INT, v INT);
            CREATE STREAM Out (k INT, n BIGINT);
            INSERT INTO Out SELECT k, COUNT(*) AS n FROM S
            WINDOW('time', 100000) GROUP BY k;
        """
        assert _parity(spark, sql, EVENTS) == [(0, 2), (1, 1)]

    def test_sort_window(self, spark):
        # the 3 largest v: 7, 6, 4 -> k=0: 7 + 4, k=1: 6
        sql = """
            CREATE STREAM S (k INT, v INT);
            CREATE STREAM Out (k INT, total BIGINT);
            INSERT INTO Out SELECT k, SUM(v) AS total FROM S
            WINDOW('sort', 3, 'v desc') GROUP BY k;
        """
        rows = [(0, 1), (1, 6), (0, 7), (1, 2), (0, 4)]
        assert _parity(spark, sql, rows, n_chunks=2) == [(0, 11), (1, 6)]

    def test_length_window(self, spark):
        sql = """
            CREATE STREAM S (k INT, v INT);
            CREATE STREAM Out (k INT, total BIGINT);
            INSERT INTO Out SELECT k, SUM(v) AS total FROM S
            WINDOW('length', 3) GROUP BY k;
        """
        # the last 3 events: (1, 6), (0, 7), (1, 2)
        app = _app(spark, sql, [(0, 1), (1, 6), (0, 7), (1, 2)])
        assert sorted(app.run("Out")) == [(0, 7), (1, 8)]

    def test_external_time_window(self, spark):
        sql = """
            CREATE STREAM S (k INT, ets TIMESTAMP, v INT);
            CREATE STREAM Out (k INT, total BIGINT);
            INSERT INTO Out SELECT k, SUM(v) AS total
            FROM S WINDOW('externalTime', 'ets', 5 seconds) GROUP BY k;
        """
        base = datetime.datetime(2024, 6, 1)
        at = [base + datetime.timedelta(seconds=s) for s in (17, 2, 20, 16, 10)]
        # max data time 20 s: retained ets > 15 s -> (0,17,16), (1,20,32), (1,16,4)
        app = _app(spark, sql, [
            (0, at[0], 16), (1, at[1], 1), (1, at[2], 32), (1, at[3], 4), (0, at[4], 8),
        ])
        assert sorted(app.run("Out")) == [(0, 16), (1, 36)]


class TestNullGroupKey:
    """A real NULL group key is a group like any other in both modes: the
    drain drops sentinel rows by ``__seq`` only."""

    ROWS = [("a", 1), (None, 2), ("a", 3)]

    def _check(self, spark, window):
        sql = f"""
            CREATE STREAM S (k VARCHAR, v INT);
            CREATE STREAM Out (k VARCHAR, n BIGINT);
            INSERT INTO Out SELECT k, COUNT(*) AS n FROM S {window} GROUP BY k;
        """
        app = _app(spark, sql, self.ROWS)
        want = [("a", 2), (None, 1)]
        assert sorted(app.run("Out"), key=str) == want
        assert sorted(app.run_streaming("Out"), key=str) == want

    def test_running_aggregate(self, spark):
        self._check(spark, "")

    def test_tumbling_window(self, spark):
        self._check(spark, "WINDOW('tumbling', 1 MINUTE)")


# -- one clause lowering: every clause run() reads, run_streaming() reads too

SYM = [("a", 1), ("a", 2), ("b", 10), ("a", 4), ("b", 20), ("a", 100), ("b", 200)]
SYM_DDL = "CREATE STREAM S (sym VARCHAR, v INT);"
_ETS = datetime.datetime(2024, 6, 1)


def _parity_sent(spark, sql, sends, **kw):
    """``_parity`` over events sent to several streams, in list order."""
    app = EventFluxApp(spark).execute(sql)
    for stream, rows in sends:
        app.send(stream, rows)
    batch = app.run("Out")
    assert sorted(app.run_streaming("Out", **kw), key=str) == sorted(batch, key=str)
    return sorted(batch, key=str)


CLAUSE_PARITY = {
    "having": (
        SYM_DDL + """
        CREATE STREAM Out (sym VARCHAR, total BIGINT);
        INSERT INTO Out SELECT sym, SUM(v) AS total FROM S
        GROUP BY sym HAVING SUM(v) > 110;
        """,
        [("S", SYM)],
        [("b", 230)],
    ),
    "tumbling_having": (
        SYM_DDL + """
        CREATE STREAM Out (sym VARCHAR, total BIGINT);
        INSERT INTO Out SELECT sym, SUM(v) AS total FROM S
        WINDOW('tumbling', 5 SECONDS) GROUP BY sym HAVING SUM(v) > 10;
        """,
        [("S", SYM)],
        [("a", 100), ("b", 200), ("b", 30)],
    ),
    "having_on_alias": (
        SYM_DDL + """
        CREATE STREAM Out (sym VARCHAR, total BIGINT);
        INSERT INTO Out SELECT sym, SUM(v) AS total FROM S
        GROUP BY sym HAVING total > 110;
        """,
        [("S", SYM)],
        [("b", 230)],
    ),
    "partition_sum": (
        SYM_DDL + """
        CREATE STREAM Out (total BIGINT);
        PARTITION WITH (sym OF S)
        BEGIN
            INSERT INTO Out SELECT SUM(v) AS total FROM S;
        END;
        """,
        [("S", SYM)],
        [(107,), (230,)],
    ),
    "partition_tumbling": (
        SYM_DDL + """
        CREATE STREAM Out (total BIGINT);
        PARTITION WITH (sym OF S)
        BEGIN
            INSERT INTO Out SELECT SUM(v) AS total FROM S
            WINDOW('tumbling', 5 SECONDS);
        END;
        """,
        [("S", SYM)],
        [(100,), (200,), (30,), (7,)],
    ),
    "named_tumbling_window": (
        SYM_DDL + """
        CREATE WINDOW W (sym VARCHAR, v INT) WINDOW('tumbling', 5 SECONDS);
        CREATE STREAM Out (sym VARCHAR, total BIGINT);
        INSERT INTO W SELECT sym, v FROM S;
        INSERT INTO Out SELECT sym, SUM(v) AS total FROM W GROUP BY sym;
        """,
        [("S", SYM)],
        [("a", 100), ("a", 7), ("b", 200), ("b", 30)],
    ),
    "external_time_batch": (
        """
        CREATE STREAM S (ets TIMESTAMP, v INT);
        CREATE STREAM Out (total BIGINT);
        INSERT INTO Out SELECT SUM(v) AS total FROM S
        WINDOW('externalTimeBatch', 'ets', 10 SECONDS);
        """,
        # data times scrambled against arrival; one event per 10 s bucket
        [("S", [(_ETS + datetime.timedelta(seconds=s), v)
                for s, v in ((1, 1), (25, 4), (12, 2), (38, 8))])],
        [(1,), (2,), (4,), (8,)],
    ),
    "unidirectional_join": (
        """
        CREATE STREAM L (id INT, lv INT);
        CREATE STREAM R (id INT, rv INT);
        CREATE STREAM Out (lv INT, rv INT);
        INSERT INTO Out SELECT L.lv, R.rv FROM L UNIDIRECTIONAL JOIN R
        ON L.id = R.id;
        """,
        # only L arrivals emit, against the R rows that arrived before them
        [("R", [(1, 10)]), ("L", [(1, 1)]), ("R", [(1, 20)]), ("L", [(1, 2)])],
        [(1, 10), (2, 10), (2, 20)],
    ),
    "select_order_differs_from_group_order": (
        SYM_DDL + """
        CREATE STREAM Out (total BIGINT, sym VARCHAR);
        INSERT INTO Out SELECT SUM(v) AS total, sym FROM S
        WINDOW('tumbling', 5 SECONDS) GROUP BY sym;
        """,
        [("S", SYM)],
        [(100, "a"), (200, "b"), (30, "b"), (7, "a")],
    ),
    "table_join_rate_limit": (
        """
        CREATE STREAM S (k INT, v INT);
        CREATE TABLE T (k INT, label VARCHAR);
        CREATE STREAM Out (v INT, label VARCHAR);
        INSERT INTO Out SELECT S.v, T.label FROM S JOIN T ON S.k = T.k
        OUTPUT LAST EVERY 3 SECONDS;
        """,
        # the last 3 s bucket flushes although the join drops the sentinel
        [("T", [(1, "one")]), ("S", [(1, v) for v in range(8)])],
        [(1, "one"), (4, "one"), (7, "one")],
    ),
    # no app test read these two windows in either mode
    "sliding": (
        SYM_DDL + """
        CREATE STREAM Out (sym VARCHAR, total BIGINT);
        INSERT INTO Out SELECT sym, SUM(v) AS total FROM S
        WINDOW('sliding', 4 SECONDS, 2 SECONDS) GROUP BY sym;
        """,
        [("S", SYM)],
        # windows [-2,2) [0,4) [2,6) [4,8) [6,10)
        [("a", 100), ("a", 104), ("a", 3), ("a", 7),
         ("b", 10), ("b", 200), ("b", 220), ("b", 30)],
    ),
    "session": (
        SYM_DDL + """
        CREATE STREAM Out (sym VARCHAR, total BIGINT);
        INSERT INTO Out SELECT sym, SUM(v) AS total FROM S
        WINDOW('session', 1500 MILLISECONDS) GROUP BY sym;
        """,
        [("S", SYM)],
        # a arrives at 0, 1, 3, 5 s and b at 2, 4, 6 s
        [("a", 100), ("a", 3), ("a", 4), ("b", 10), ("b", 20), ("b", 200)],
    ),
}


@pytest.mark.parametrize("case", sorted(CLAUSE_PARITY))
def test_clause_parity(spark, case):
    """run_streaming() reads every clause run() reads."""
    sql, sends, want = CLAUSE_PARITY[case]
    assert _parity_sent(spark, sql, sends, n_chunks=2) == want


REJECTED = {
    "order_by_limit": (
        "sym VARCHAR, v INT", "SELECT sym, v FROM S ORDER BY v DESC LIMIT 2", "ORDER BY"),
    "limit_offset": ("sym VARCHAR, v INT", "SELECT sym, v FROM S LIMIT 2 OFFSET 1", "LIMIT"),
    "length_passthrough": (
        "sym VARCHAR, v INT", "SELECT sym, v FROM S WINDOW('length', 2)", r"WINDOW\('length'\)"),
    "partition_length_batch": (
        "total BIGINT", "SELECT SUM(v) AS total FROM S WINDOW('lengthBatch', 2)",
        "PARTITION WITH"),
    "length_having": (
        "total BIGINT", "SELECT SUM(v) AS total FROM S WINDOW('length', 2) HAVING SUM(v) > 3",
        "HAVING"),
}


@pytest.mark.parametrize("case", sorted(REJECTED))
def test_streaming_rejects_what_it_cannot_honour(spark, case):
    """A clause the live plan cannot honour raises a ValueError naming it;
    run() still answers."""
    out, select, clause = REJECTED[case]
    body = f"INSERT INTO Out {select};"
    if case.startswith("partition"):
        body = f"PARTITION WITH (sym OF S) BEGIN {body} END;"
    app = EventFluxApp(spark).execute(SYM_DDL + f"CREATE STREAM Out ({out});" + body)
    app.send("S", SYM)
    assert app.run("Out")
    with pytest.raises(ValueError, match=clause):
        app.run_streaming("Out")


@pytest.mark.parametrize("window", ["tumbling', 5 SECONDS", "lengthBatch', 2"])
def test_row_level_time_window_rejected_in_both_modes(spark, window):
    app = EventFluxApp(spark).execute(
        SYM_DDL + f"""
        CREATE STREAM Out (sym VARCHAR, v INT);
        INSERT INTO Out SELECT sym, v FROM S WINDOW('{window});
        """
    )
    app.send("S", SYM)
    for run in (app.run, app.run_streaming):
        with pytest.raises(ValueError, match="require aggregation"):
            run("Out")


def test_query_fed_join_partner_rejected_live(spark):
    # a live partner feed carries only the stream's own sent events
    app = EventFluxApp(spark).execute(
        """
        CREATE STREAM L (id INT);
        CREATE STREAM Src (id INT);
        CREATE STREAM R (id INT);
        CREATE STREAM Out (id INT);
        INSERT INTO R SELECT id FROM Src;
        INSERT INTO Out SELECT L.id FROM L JOIN R ON L.id = R.id;
        """
    )
    app.send("Src", [(1,)])
    app.send("L", [(1,)])
    assert app.run("Out") == [(1,)]
    with pytest.raises(ValueError, match="JOIN partner R"):
        app.run_streaming("Out")


_SNAPSHOT = SYM_DDL + """
    CREATE STREAM Out (sym VARCHAR, total BIGINT);
    INSERT INTO Out SELECT sym, SUM(v) AS total FROM S GROUP BY sym
    {} OUTPUT SNAPSHOT EVERY 2 SECONDS;
"""
_PATTERN = SYM_DDL + """
    CREATE STREAM Out (v1 INT, v2 INT);
    INSERT INTO Out SELECT e1.v AS v1, e2.v AS v2
    FROM PATTERN (EVERY (e1=S -> e2=S[v > e1.v])) {};
"""
#: OUTPUT SNAPSHOT restates per-tick state and a pattern emits its matches;
#: neither reads these clauses, in either mode
UNREAD = {
    "snapshot_having": (_SNAPSHOT.format("HAVING SUM(v) > 10"), "HAVING"),
    "snapshot_order_by": (_SNAPSHOT.format("ORDER BY sym LIMIT 1"), "ORDER BY"),
    "pattern_limit": (_PATTERN.format("LIMIT 1"), "LIMIT"),
    "pattern_order_by": (_PATTERN.format("ORDER BY v1 DESC"), "ORDER BY"),
    "pattern_output_rate": (_PATTERN.format("OUTPUT FIRST EVERY 2 EVENTS"), "OUTPUT"),
}


@pytest.mark.parametrize("case", sorted(UNREAD))
def test_unread_clauses_rejected_in_both_modes(spark, case):
    sql, clause = UNREAD[case]
    app = EventFluxApp(spark).execute(sql)
    app.send("S", SYM)
    for run in (app.run, app.run_streaming):
        with pytest.raises(ValueError, match=clause):
            run("Out")


# -- live aggregates follow run()'s NULL rule ------------------------------

_NULLS = [(1,), (None,), (None,), (4,), (None,), (2,)]
_COUNT_WINDOW = """
    CREATE STREAM S (v INT);
    CREATE STREAM Out (a {});
    INSERT INTO Out SELECT {}(v) AS a FROM S WINDOW({});
"""
_SNAPSHOT_OF = """
    CREATE STREAM S (k VARCHAR, x {0});
    CREATE STREAM Out (k VARCHAR, a {0});
    INSERT INTO Out SELECT k, {1}(x) AS a FROM S GROUP BY k
    OUTPUT SNAPSHOT EVERY 2 SECONDS;
"""
#: NULLs are skipped; SUM/MIN/MAX/AVG of no values are NULL, COUNT counts
#: non-NULL values; MIN/MAX keep the argument's type. Each case crosses a
#: micro-batch boundary (``n_chunks=2``)
NULL_AGGREGATES = {
    "length_batch_count": (
        _COUNT_WINDOW.format("BIGINT", "COUNT", "'lengthBatch', 3"), _NULLS, [(1,), (2,)]),
    "length_batch_sum": (
        _COUNT_WINDOW.format("BIGINT", "SUM", "'lengthBatch', 3"), _NULLS, [(1,), (6,)]),
    "length_batch_min": (
        _COUNT_WINDOW.format("INT", "MIN", "'lengthBatch', 3"), _NULLS, [(1,), (2,)]),
    "length_batch_avg": (
        _COUNT_WINDOW.format("DOUBLE", "AVG", "'lengthBatch', 3"), _NULLS, [(1.0,), (3.0,)]),
    "length_all_null_window_sum": (
        _COUNT_WINDOW.format("BIGINT", "SUM", "'length', 2"), _NULLS[:3], [(None,)]),
    "snapshot_all_null_key_sum": (
        _SNAPSHOT_OF.format("INT", "SUM"),
        [("a", 1), ("b", None), ("a", 2), ("b", None)],
        [("a", 3), ("a", 3), ("b", None), ("b", None)],
    ),
    "snapshot_varchar_min": (
        _SNAPSHOT_OF.format("VARCHAR", "MIN"),
        [("a", "zed"), ("a", "amy"), ("b", "bo")],
        [("a", "amy"), ("b", "bo")],
    ),
}


@pytest.mark.parametrize("case", sorted(NULL_AGGREGATES))
def test_live_aggregates_follow_the_null_rule(spark, case):
    sql, rows, want = NULL_AGGREGATES[case]
    assert _parity(spark, sql, rows, n_chunks=2) == want


# -- rows a live operator holds between micro-batches keep their types -----

_CODES = "CREATE STREAM S (code VARCHAR, v INT);"
#: each case's held rows cross a micro-batch boundary (``n_chunks=2``):
#: numeric-looking strings stay strings and a NULL BOOLEAN stays NULL
HELD_ROW_TYPES = {
    "sort_window_numeric_strings": (
        _CODES + """
        CREATE STREAM Out (code VARCHAR, v INT);
        INSERT INTO Out SELECT code, v FROM S WINDOW('sort', 2, 'v desc');
        """,
        [("007", 1), ("008", 5), ("009", 3)],
        [("008", 5), ("009", 3)],
    ),
    "time_window_group_by_numeric_strings": (
        _CODES + """
        CREATE STREAM Out (code VARCHAR, n BIGINT);
        INSERT INTO Out SELECT code, COUNT(*) AS n FROM S
        WINDOW('time', 100000) GROUP BY code;
        """,
        [("007", 1), ("008", 5), ("007", 3)],
        [("007", 2), ("008", 1)],
    ),
    "output_last_every_time_numeric_strings": (
        _CODES + """
        CREATE STREAM Out (code VARCHAR, v INT);
        INSERT INTO Out SELECT code, v FROM S OUTPUT LAST EVERY 2 SECONDS;
        """,
        [("007", 1), ("008", 5), ("009", 3), ("010", 4)],
        [("008", 5), ("010", 4)],
    ),
    "snapshot_group_by_numeric_strings": (
        _CODES + """
        CREATE STREAM Out (code VARCHAR, n BIGINT);
        INSERT INTO Out SELECT code, COUNT(*) AS n FROM S GROUP BY code
        OUTPUT SNAPSHOT EVERY 2 SECONDS;
        """,
        [("007", 1), ("008", 5), ("009", 3)],
        [("007", 1), ("008", 1), ("009", 1)],
    ),
    "sort_window_nullable_boolean": (
        """
        CREATE STREAM S (ok BOOLEAN, v INT);
        CREATE STREAM Out (v INT, ok BOOLEAN);
        INSERT INTO Out SELECT v, ok FROM S WINDOW('sort', 2, 'v desc');
        """,
        [(True, 1), (None, 5), (False, 3)],
        [(3, False), (5, None)],
    ),
}


@pytest.mark.parametrize("case", sorted(HELD_ROW_TYPES))
def test_held_rows_keep_their_types(spark, case):
    sql, rows, want = HELD_ROW_TYPES[case]
    assert _parity(spark, sql, rows, n_chunks=2) == want


def test_absent_row_tied_with_trigger_does_not_cancel_it(spark):
    # NOT ... FOR d looks at (trigger.ts, trigger.ts + d]: a same-key absent
    # row at the trigger's own ts is outside it
    sql = """
        CREATE STREAM S (kind VARCHAR, v INT);
        CREATE STREAM Out (v INT);
        INSERT INTO Out SELECT e1.v
        FROM PATTERN (e1=S[kind = 'ask'] -> NOT S[kind = 'ok'] FOR 5 seconds);
    """
    t0 = datetime.datetime(2024, 1, 1)
    app = EventFluxApp(spark).execute(sql)
    app.send(
        "S", [("ask", 1), ("ok", 0), ("ask", 2)],
        ts=[t0, t0, t0 + datetime.timedelta(seconds=20)],
    )
    batch = sorted(app.run("Out"))
    assert sorted(app.run_streaming("Out", n_chunks=2)) == batch == [(1,), (2,)]
