"""Batch ``run()`` vs live ``run_streaming()`` where the feed sentinel or the
feed's types could leak into results: running aggregates without a WHERE,
an all-null string chunk, an empty source stream, windows with GROUP BY,
and NULL group keys."""

import datetime

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
