"""EventFluxApp — the AppRunner-equivalent runtime for the SQL dialect.

≙ reference lifecycle (SURVEY.md §3.1): ``EventFluxManager::
create_eventflux_app_runtime_from_string`` + AppRunner test harness
(``tests/common/mod.rs:31``): parse a multi-statement app, ``send()`` events
into input streams, collect a target stream's output rows.

Execution model here: each ``send`` stamps a global arrival sequence (the
analog of the reference's single-threaded arrival order); ``run(target)``
materializes the dataflow bottom-up. ``_Select`` parses a query's clauses
once, and one lowering turns them into DataFrame operations for both
``run()`` and the live ``run_streaming()``: ``_lower`` for joins, WHERE,
windows, GROUP BY/HAVING, the projection, ORDER BY/LIMIT and OUTPUT rate
limiting, and ``_lower_pattern`` for the keyed-NFA pattern matcher (``FROM
PATTERN``). No clause becomes SQL text and no temp view is registered. The
live lowering differs only in the sentinel guard, the watermark and the
stateful count/sort/time windows, rate limiters and snapshots; it raises a
``ValueError`` naming any clause it cannot honour.

Deliberate batch-semantics deltas from the push engine (documented, asserted
in tests): non-windowed GROUP BY yields final aggregates (the reference
emits per-chunk running updates — Spark's update output mode in streaming);
windowed aggregates yield one row per closed window.
"""

from __future__ import annotations

import datetime
import functools
import re
import threading
import warnings
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cep import PatternSpec, Step, match_pattern_batch
from ..operators.aggregations import parse_simple_agg
from ..operators.windows import sort_window_topk
from .compiler import (
    AggregationDef,
    DmlDef,
    PatternDef,
    QueryDef,
    StreamDef,
    _split_top,
    parse_aggregation,
    parse_create,
    parse_delete,
    parse_insert,
    parse_trigger,
    parse_update,
    parse_upsert,
    split_statements,
)
from .feeds import (
    EPOCH as _EPOCH,
    OUTER_JOIN_KEY,
    Feeds,
    drop_sentinel,
    keep_sentinel,
    not_sentinel,
)

_AGG_RE = re.compile(
    r"\b(COUNT|SUM|AVG|MIN|MAX|STDDEV|STDDEV_POP|COUNT_DISTINCT|FIRST|LAST)\s*\(",
    re.IGNORECASE,
)


def _is_agg_expr(e: str) -> bool:
    """Built-in aggregate OR a user attribute aggregator registered through
    the extension factory surface (functions/extensions.py ≙
    eventflux_manager.rs:283-288 add_attribute_aggregator_factory)."""
    if _AGG_RE.search(e):
        return True
    from ..functions import extensions as ext

    return ext.matches_registered_aggregator(e)


_EREF_RE = re.compile(r"\b(e\d+)\.(\w+)")

#: windows whose event-time column joins the GROUP BY
_EVENT_TIME_WINDOWS = ("tumbling", "sliding", "session", "cron", "externalTimeBatch")
#: the ones a live watermark closes (append mode); cron and
#: externalTimeBatch groups re-aggregate to a complete-mode final state
_WATERMARK_WINDOWS = ("tumbling", "sliding", "session")


def _sql_literal(text: str):
    """Evaluate a SQL literal from an on-demand INSERT VALUES list."""
    t = text.strip()
    if re.fullmatch(r"'(?:[^']|'')*'", t):
        return t[1:-1].replace("''", "'")
    u = t.upper()
    if u == "NULL":
        return None
    if u in ("TRUE", "FALSE"):
        return u == "TRUE"
    if re.fullmatch(r"[+-]?\d+", t):
        return int(t)
    if re.fullmatch(r"[+-]?\d*\.\d+(?:[eE][+-]?\d+)?", t):
        return float(t)
    raise ValueError(f"unsupported literal in on-demand INSERT: {text!r}")


class EventFluxApp:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.streams: dict[str, StreamDef] = {}
        self.queries: list[QueryDef] = []
        self.dml: list[DmlDef] = []
        self.aggregations: dict[str, AggregationDef] = {}
        self._rows: dict[str, list[tuple]] = {}
        #: final table states after DML replay / on-demand mutation
        self._table_final: dict[str, list[dict]] = {}
        self._dml_cache: dict[int, dict] = {}
        #: test hook — force event-at-a-time DML replay (the parity oracle)
        #: even when the statements compile to MERGE plans
        self._force_dml_replay = False
        self._seq = 0
        # concurrent senders serialize on the junction lock: each send()
        # call is atomic, so one caller's batch lands contiguously in the
        # global arrival order (stream_junction.rs concurrent-publisher
        # contract; exercised by the app_runner_stress.rs-style pytest)
        self._send_lock = threading.Lock()

    # -- DDL / DML registration ------------------------------------------

    def execute(self, sql: str) -> "EventFluxApp":
        # PARTITION WITH (...) BEGIN ... END blocks contain ';' — lift them
        # out before statement splitting (partition/parser.rs:14 analog)
        partition_blocks = []

        def _capture(m: re.Match) -> str:
            partition_blocks.append((m.group(1), m.group(2)))
            return ""

        sql = re.sub(
            r"PARTITION\s+WITH\s*\(([^)]*)\)\s*BEGIN(.*?)END\s*;?",
            _capture,
            sql,
            flags=re.IGNORECASE | re.DOTALL,
        )
        for keys_text, body in partition_blocks:
            pkeys = {}
            for item in keys_text.split(","):
                km = re.match(r"\s*(\w+)\s+OF\s+(\w+)\s*", item, re.IGNORECASE)
                pkeys[km.group(2)] = km.group(1)
            for stmt in split_statements(body):
                q = parse_insert(stmt)
                q.partition_keys.update(pkeys)
                self.queries.append(q)
                if q.target not in self.streams:
                    self.streams[q.target] = StreamDef(q.target, [])
                    self._rows.setdefault(q.target, [])
        for stmt in split_statements(sql):
            head = stmt.split(None, 1)[0].upper()
            if head == "CREATE" and re.match(r"CREATE\s+TRIGGER", stmt, re.IGNORECASE):
                d = parse_trigger(stmt)
                self.streams[d.name] = d
                self._rows.setdefault(d.name, [])
            elif head == "CREATE" and re.match(
                r"CREATE\s+AGGREGATION", stmt, re.IGNORECASE
            ):
                a = parse_aggregation(stmt)
                self.aggregations[a.name] = a
            elif head == "CREATE":
                d = parse_create(stmt)
                self.streams[d.name] = d
                self._rows.setdefault(d.name, [])
            elif head == "INSERT":
                q = parse_insert(stmt)
                self.queries.append(q)
                if q.target not in self.streams:
                    # INSERT INTO auto-creates the output stream
                    # (GRAMMAR.md "Dynamic Output Streams")
                    self.streams[q.target] = StreamDef(q.target, [])
                    self._rows.setdefault(q.target, [])
            elif head == "UPDATE":
                self.dml.append(parse_update(stmt))
            elif head == "DELETE":
                self.dml.append(parse_delete(stmt))
            elif head == "UPSERT":
                self.dml.append(parse_upsert(stmt))
            else:
                raise ValueError(f"unsupported statement: {stmt[:60]}")
        for d in self.dml:
            if d.table not in self.streams or not self.streams[d.table].is_table:
                raise ValueError(f"{d.kind.upper()} target {d.table} is not a TABLE")
        return self

    # -- data ingestion ----------------------------------------------------

    def send(self, stream: str, rows: list[tuple], ts: list[Any] | None = None) -> None:
        """Append events; arrival order == global send order (the reference
        stamps wall-clock on arrival, input_handler.rs:65 — we stamp a
        deterministic 1-second-per-event clock unless ``ts`` is given)."""
        sd = self.streams[stream]
        with self._send_lock:
            for i, r in enumerate(rows):
                if len(r) != len(sd.columns):
                    raise ValueError(
                        f"{stream} expects {len(sd.columns)} cols, got {r}"
                    )
                t = ts[i] if ts else _EPOCH + datetime.timedelta(seconds=self._seq)
                self._rows[stream].append((*r, self._seq, t))
                self._seq += 1

    # -- evaluation ---------------------------------------------------------

    def _base_rows(self, name: str) -> tuple[str, list[tuple]]:
        """DDL schema and rows of a stream's own events: its sent rows, or
        a trigger's ticks."""
        sd = self.streams[name]
        schema = ", ".join(f"{c} {t}" for c, t in sd.columns)
        schema = (schema + ", " if schema else "") + "__seq bigint, __ts timestamp"
        rows = self._rows[name]
        if sd.trigger is not None:
            # deterministic tick generation over the app's logical clock:
            # 'start' fires once at epoch; EVERY d fires after each interval
            # up to the last arrival (trigger_runtime.rs:13 analog)
            if sd.trigger == "start":
                ticks = [_EPOCH]
            elif isinstance(sd.trigger, tuple) and sd.trigger[0] == "cron":
                # arbitrary 6-field cron (sql/cron.py ≙ trigger_runtime.rs:47)
                ticks = sd.trigger[1].ticks(
                    _EPOCH, _EPOCH + datetime.timedelta(seconds=self._seq)
                )
            else:
                step = datetime.timedelta(milliseconds=int(sd.trigger))
                end = _EPOCH + datetime.timedelta(seconds=self._seq)
                ticks, t = [], _EPOCH + step
                while t <= end:
                    ticks.append(t)
                    t += step
            rows = [(t, 10_000_000 + i, t) for i, t in enumerate(ticks)]
        return schema, rows

    def _base_df(self, name: str) -> DataFrame:
        sd = self.streams[name]
        schema, rows = self._base_rows(name)
        base = self.spark.createDataFrame(rows, schema)
        if sd.is_table and sd.options.get("backend") == "jdbc":
            # pre-existing store contents arrive BEFORE every stream event
            # (negative __seq) — jdbc_table.rs:18 read path via Spark's jdbc
            # datasource (pushdown + partitioned scans at scale)
            from ..operators.tables import jdbc_read

            base = jdbc_read(self.spark, sd.options, sd.columns).unionByName(base)
        return base

    def stream_df(self, name: str, _stack: frozenset = frozenset()) -> DataFrame:
        """Materialize a stream: sent rows + every query targeting it.
        A TABLE with DML statements materializes as its final replayed
        state (mutations applied in arrival order)."""
        if name in _stack:
            raise ValueError(f"cyclic stream dependency through {name}")
        if self.streams[name].is_table and (
            name in self._table_final
            or any(d.table == name for d in self.dml)
            or self.streams[name].options.get("backend")
        ):
            return self._table_df(name, _stack)
        df = self._base_df(name)
        for q in self.queries:
            if q.target == name:
                out = self._run_query(q, _stack | {name})
                df = df.unionByName(out) if self.streams[name].columns else out
        return df

    # -- table DML replay ---------------------------------------------------
    #
    # ≙ reference table mutation processors ({update,delete,upsert}_table_
    # processor.rs): every arriving source-stream event mutates the table
    # under the app's single global arrival order. This replay is the
    # AppRunner fixture analog (bounded data, like run()'s collect) — the
    # distributed form of the same semantics is operators/dml.py's MERGE
    # plans, oracle-gated as dml_upsert_last_writer / dml_update_additive /
    # dml_delete_stream_antijoin.

    def _compiled_table_plan(
        self, name: str, _stack: frozenset = frozenset()
    ) -> "DataFrame | None":
        """Distributed MERGE plan for the table's final state when every DML
        statement targeting it is a commuting class (sql/dml_compile.py) —
        the scale path: no driver replay, no per-event loops. None when the
        state was already materialized (on-demand mutation) or a statement
        doesn't commute (→ event-at-a-time replay)."""
        if name in self._table_final or self._force_dml_replay:
            return None
        from . import dml_compile

        return dml_compile.compiled_table_plan(self, name, _stack)

    def _table_state(self, name: str, _stack: frozenset = frozenset()) -> list[dict]:
        if name in self._table_final:
            return self._table_final[name]
        plan = self._compiled_table_plan(name, _stack)
        if plan is not None:
            try:
                state = [r.asDict() for r in plan.orderBy("__seq").collect()]
            except Exception as exc:  # analysis failure in a rewritten expr
                # (e.g. an expression shape mask_literals/rewrite mangled):
                # the event-at-a-time replay is the parity oracle — fall
                # back to it rather than erroring the whole app
                warnings.warn(
                    f"compiled DML plan for table {name!r} failed analysis "
                    f"({exc.__class__.__name__}); falling back to "
                    f"event-at-a-time replay (O(events) driver loop)",
                    RuntimeWarning, stacklevel=2,
                )
                plan = None
            if plan is not None:
                self._table_final[name] = state
                return state
        sd = self.streams[name]
        if any(d.table == name for d in self.dml) and not self._force_dml_replay:
            # reachable only when compiled_table_plan declined (a statement
            # outside the commuting classes): surface the O(events x rows)
            # path so users don't ship it unknowingly at scale
            warnings.warn(
                f"DML on table {name!r} falls outside the commuting classes "
                "(sql/dml_compile.py) - using the event-at-a-time driver "
                "replay, which does not scale past test-sized inputs",
                RuntimeWarning, stacklevel=2,
            )
        cols = [c for c, _ in sd.columns]
        events: list[tuple[int, str, object, object]] = []  # (seq, kind, dml, payload)
        if sd.options.get("backend") == "jdbc":
            # store contents pre-exist every event (negative __seq)
            from ..operators.tables import jdbc_read

            for r in jdbc_read(self.spark, sd.options, sd.columns).collect():
                rec = r.asDict()
                events.append((rec["__seq"], "add", None, rec))
        # adds: sent rows + INSERT INTO <table> query emissions
        for r in self._rows[name]:
            row = dict(zip(cols, r[:-2]))
            events.append((r[-2], "add", None, {**row, "__seq": r[-2], "__ts": r[-1]}))
        for q in self.queries:
            if q.target == name:
                out = self._run_query(q, _stack | {name}).toPandas()
                for rec in out.to_dict("records"):
                    events.append(
                        (int(rec["__seq"]), "add", None,
                         {**{c: rec[c] for c in cols}, "__seq": int(rec["__seq"]),
                          "__ts": rec["__ts"]})
                    )
        # mutations: each DML statement driven by its source stream's rows
        for d in self.dml:
            if d.table != name:
                continue
            src = (
                self.stream_df(d.source, _stack | {name})
                .orderBy("__seq")
                .toPandas()
            )
            for rec in src.to_dict("records"):
                events.append((int(rec["__seq"]), d.kind, d, rec))
        events.sort(key=lambda e: e[0])

        # cache backend (cache_table.rs:20): bounded FIFO — every insert
        # beyond capacity evicts the OLDEST surviving row
        max_size = (
            int(sd.options.get("max_size", "0"))
            if sd.options.get("backend") == "cache"
            else None
        )
        state: list[dict] = []
        for seq, kind, d, payload in events:
            if kind == "add":
                state.append(payload)
            else:
                self._apply_mutation(state, d, payload, cols, seq)
            if max_size is not None and len(state) > max_size:
                del state[: len(state) - max_size]
        self._table_final[name] = state
        return state

    def _dml_compiled(self, d: DmlDef, cols: list[str]) -> dict:
        """Per-statement compiled callables (cached — the replay loop calls
        this once per EVENT, the regex compilation must not repeat)."""
        key = id(d)
        if key not in self._dml_cache:
            self._dml_cache[key] = {
                "cond": self._compile_dml_expr(d.condition, d, cols),
                "setters": [
                    (col, self._compile_dml_expr(expr, d, cols))
                    for col, expr in d.set_items
                ],
                "select": [
                    self._compile_dml_expr(expr, d, cols, prefer_event=True)
                    for expr, _ in d.select_items
                ],
            }
        return self._dml_cache[key]

    def _apply_mutation(
        self, state: list[dict], d: DmlDef, event: dict, cols: list[str], seq: int
    ) -> None:
        compiled = self._dml_compiled(d, cols)
        cond = compiled["cond"]
        if d.kind == "update":
            for row in state:
                if cond(row, event):
                    new = {col: fn(row, event) for col, fn in compiled["setters"]}
                    row.update(new)
        elif d.kind == "delete":
            state[:] = [row for row in state if not cond(row, event)]
        elif d.kind == "upsert":
            vals = [fn({}, event) for fn in compiled["select"]]
            if len(vals) != len(cols):
                raise ValueError(
                    f"UPSERT INTO {d.table}: SELECT yields {len(vals)} values, "
                    f"table has {len(cols)} columns"
                )
            new_row = dict(zip(cols, vals))
            matched = False
            for row in state:
                if cond(row, event):
                    row.update(new_row)
                    matched = True
            if not matched:
                state.append(
                    {**new_row, "__seq": seq, "__ts": event.get("__ts")}
                )

    def _compile_dml_expr(
        self, expr: str, d: DmlDef, table_cols: list[str], prefer_event: bool = False
    ):
        """Compile a DML condition / SET / SELECT expression into a python
        callable over (table row dict, event dict). Qualified refs resolve by
        name (table vs source/alias); bare names prefer the table column —
        except UPSERT SELECT items (``prefer_event``), whose values come from
        the driving stream event."""
        from .dml_compile import mask_literals, restore_literals

        src_names = {d.source}
        if d.source_alias:
            src_names.add(d.source_alias)

        def sub_qualified(m: re.Match) -> str:
            qual, col = m.group(1), m.group(2)
            if qual == d.table:
                return f"__t[{col!r}]"
            if qual in src_names:
                return f"__e[{col!r}]"
            raise ValueError(f"unknown qualifier {qual!r} in {expr!r}")

        # mask '...' string literals first so keyword/identifier rewriting
        # can never touch words inside them (ADVICE r2: multi-word literals)
        py, lits = mask_literals(expr)
        py = re.sub(r"\b(\w+)\.(\w+)\b", sub_qualified, py)
        py = re.sub(r"(?<![<>!=])=(?!=)", "==", py)
        py = re.sub(r"\bAND\b", "and", py, flags=re.IGNORECASE)
        py = re.sub(r"\bOR\b", "or", py, flags=re.IGNORECASE)
        py = re.sub(r"\bNOT\b", "not", py, flags=re.IGNORECASE)

        def sub_bare(m: re.Match) -> str:
            w = m.group(1)
            if w in ("and", "or", "not", "__t", "__e", "True", "False", "None"):
                return w
            if not prefer_event and w in table_cols:
                return f"__t[{w!r}]"
            return f"__e[{w!r}]"

        # the quote lookahead skips the col names inside already-substituted
        # __t['col'] / __e['col'] forms (string literals are masked out)
        py = re.sub(r"\b(?!__[te]\b)([a-zA-Z_]\w*)\b(?!\s*\(|')", sub_bare, py)
        py = restore_literals(py, lits)
        code = compile(py, "<dml-expr>", "eval")

        def fn(row: dict, event: dict):
            return eval(code, {"__builtins__": {}}, {"__t": row, "__e": event})

        return fn

    @staticmethod
    def _py(v):
        """pandas/numpy scalar → plain python (createDataFrame strictness)."""
        if isinstance(v, pd.Timestamp):
            return v.to_pydatetime()
        return v.item() if hasattr(v, "item") else v

    def _table_df(self, name: str, _stack: frozenset = frozenset()) -> DataFrame:
        plan = self._compiled_table_plan(name, _stack)
        if plan is not None:
            return plan
        cols = [c for c, _ in self.streams[name].columns]
        schema = ", ".join(f"{c} {t}" for c, t in self.streams[name].columns)
        schema += ", __seq bigint, __ts timestamp"
        state = self._table_state(name, _stack)
        rows = [
            tuple(self._py(r.get(c)) for c in cols)
            + (self._py(r["__seq"]), self._py(r["__ts"]))
            for r in state
        ]
        return self.spark.createDataFrame(rows, schema)

    def table(self, name: str) -> list[tuple]:
        """Final table state (insertion order) after all DML replay —
        ≙ reference Table::find over the whole store."""
        cols = [c for c, _ in self.streams[name].columns]
        return [tuple(r.get(c) for c in cols) for r in self._table_state(name)]

    def flush_table(self, name: str) -> None:
        """Write a JDBC-backed table's final state back to its store
        (jdbc_table.rs write path; overwrite = final-state contract)."""
        sd = self.streams[name]
        if sd.options.get("backend") != "jdbc":
            raise ValueError(f"table {name!r} has no jdbc backend to flush to")
        from ..operators.tables import jdbc_write

        jdbc_write(self._table_df(name).select(*[c for c, _ in sd.columns]), sd.options)

    # -- incremental aggregation queries --------------------------------------

    def query_aggregation(
        self,
        name: str,
        per: str,
        within: "tuple | None" = None,
    ) -> list[tuple]:
        """``query_aggregation(agg_id, within, per)``
        (≙ eventflux_app_runtime.rs:982) over a CREATE AGGREGATION cascade.
        Returns (keys..., bucket_start, aggs...) rows ordered by
        (keys, bucket_start). Exceeds the reference, whose runtime ignores
        ``within`` (aggregation_runtime.rs:61) — here it is a real
        bucket-range filter."""
        from ..operators.incremental import IncrementalAggregation

        a = self.aggregations[name]
        src = self.stream_df(a.source)
        inc = IncrementalAggregation(
            src, "__ts", a.group_cols, a.aggs, a.durations
        )
        out = inc.query(per, within)
        return [
            tuple(r)
            for r in out.orderBy(*a.group_cols, "bucket_start").collect()
        ]

    # -- on-demand (store) queries -------------------------------------------
    #
    # ≙ reference on_demand_query.rs:17-28 / store.rs:5 — SELECT / UPDATE /
    # DELETE against a table's CURRENT state, outside any stream query.

    def on_demand(self, sql: str) -> list[tuple] | int:
        """Run an on-demand store query (≙ OnDemandQueryType,
        on_demand_query.rs:17-28). SELECT returns rows; UPDATE / DELETE /
        UPDATE OR INSERT mutate the table state in place and return the
        affected-row count (an UPDATE OR INSERT that matches nothing
        inserts one row built from its SET items,
        on_demand_query.rs:132-150 update_or_insert_by)."""
        stmt = sql.strip().rstrip(";")
        head = stmt.split(None, 1)[0].upper()
        if head == "INSERT":
            # OnDemandQueryType::Insert: append one literal row to the store
            m = re.match(
                r"INSERT\s+INTO\s+(\w+)\s+VALUES\s*\((.*)\)\s*$",
                stmt, re.IGNORECASE | re.DOTALL,
            )
            if m is None:
                raise ValueError(
                    "on-demand INSERT must be 'INSERT INTO <table> "
                    f"VALUES (v, ...)': {stmt[:80]!r}"
                )
            table, vals_text = m.groups()
            if table not in self.streams:
                raise ValueError(f"unknown table {table!r} in on-demand statement")
            cols = [c for c, _ in self.streams[table].columns]
            vals = [v.strip() for v in _split_top(vals_text)]
            if len(vals) != len(cols):
                raise ValueError(
                    f"{table} expects {len(cols)} values, got {len(vals)}"
                )
            self._table_state(table).append(
                {c: _sql_literal(v) for c, v in zip(cols, vals)} | self._stamp()
            )
            return 1
        if head == "SELECT":
            tables = {d.table for d in self.dml} | {
                n for n, s in self.streams.items() if s.is_table
            }
            for t in tables:
                self._table_df(t).createOrReplaceTempView(t)
            out = self.spark.sql(stmt)
            cols = [c for c in out.columns if not c.startswith("__")]
            return [tuple(r) for r in out.select(*cols).collect()]
        upsert = bool(re.match(r"UPDATE\s+OR\s+INSERT\b", stmt, re.IGNORECASE))
        if head == "UPDATE":
            kind = "UPDATE OR INSERT" if upsert else "UPDATE"
            m = re.match(
                r"UPDATE\s+(?:OR\s+INSERT\s+INTO\s+)?(\w+)\s+SET\s+(.*?)"
                r"(?:\s+WHERE\s+(.*))?$",
                stmt, re.IGNORECASE | re.DOTALL,
            )
            if m is None:
                raise ValueError(
                    f"on-demand {kind} must be '{kind}{' INTO' if upsert else ''} "
                    f"<table> SET col = expr[, ...] [WHERE <cond>]': {stmt[:80]!r}"
                )
            table, set_text, cond_text = m.groups()
            d = DmlDef("update", table, "__none__", (cond_text or "").strip())
            for item in _split_top(set_text):
                am = re.match(r"([\w.]+)\s*=\s*(.+)$", item.strip(), re.DOTALL)
                if am is None:
                    raise ValueError(f"bad SET item in on-demand {kind}: {item!r}")
                d.set_items.append((am.group(1).split(".")[-1], am.group(2).strip()))
        elif head == "DELETE":
            m = re.match(
                r"DELETE\s+FROM\s+(\w+)(?:\s+WHERE\s+(.*))?$",
                stmt, re.IGNORECASE | re.DOTALL,
            )
            if m is None:
                raise ValueError(
                    "on-demand DELETE must be 'DELETE FROM <table> "
                    f"[WHERE <cond>]': {stmt[:80]!r}"
                )
            table, cond_text = m.groups()
            d = DmlDef("delete", table, "__none__", (cond_text or "").strip())
        else:
            raise ValueError(f"unsupported on-demand statement: {stmt[:60]}")
        if table not in self.streams:
            raise ValueError(f"unknown table {table!r} in on-demand statement")
        cols = [c for c, _ in self.streams[table].columns]
        state = self._table_state(table)
        # WHERE-less statement = full-table mutation (reference store.rs
        # accepts the same shape)
        cond = (
            self._compile_dml_expr(d.condition, d, cols)
            if d.condition
            else (lambda row, event: True)
        )
        n_before = len(state)
        if d.kind == "delete":
            state[:] = [row for row in state if not cond(row, {})]
            return n_before - len(state)
        setters = [
            (col, self._compile_dml_expr(expr, d, cols)) for col, expr in d.set_items
        ]
        n = 0
        for row in state:
            if cond(row, {}):
                row.update({col: fn(row, {}) for col, fn in setters})
                n += 1
        if upsert and n == 0:
            # miss → insert: the new row is built from the SET items over a
            # null-initialized row (upsert_table_processor.rs miss branch
            # semantics, applied store-side)
            row = {c: None for c in cols} | self._stamp()
            row.update({col: fn(row, {}) for col, fn in setters})
            state.append(row)
            n = 1
        return n

    def _stamp(self) -> dict:
        """The next arrival's ``__seq``/``__ts`` for a row added on demand."""
        stamp = {
            "__seq": self._seq,
            "__ts": _EPOCH + datetime.timedelta(seconds=self._seq),
        }
        self._seq += 1
        return stamp

    def run(self, target: str) -> list[tuple]:
        """Collect the target stream's rows in emission order (AppRunner
        ``shutdown()`` analog)."""
        df = self.stream_df(target)
        cols = [c for c, _ in self.streams[target].columns] or [
            c for c in df.columns if not c.startswith("__")
        ]
        return [tuple(r) for r in df.orderBy("__seq").select(*cols).collect()]

    # -- streaming execution --------------------------------------------------

    def run_streaming(
        self,
        target: str,
        watermark: str = "10 seconds",
        n_chunks: int = 3,
    ) -> list[tuple]:
        """Execute the single query targeting ``target`` as a REAL
        Structured Streaming job, in four parts:

        1. chain resolution: INSERT INTO chains compile into ONE streaming
           plan whose intermediate stages apply in-plan (junction
           fan-through, stream_junction.rs analog; :meth:`_stream_chain`);
        2. feeds: every input stream becomes a chunked file feed that ends
           in a far-future sentinel row. ``sql/feeds.py`` owns the sentinel
           and the one rule for what a watermark has made final;
        3. the lowering ``run()`` uses: every chain stage and a non-pattern
           terminal go through :meth:`_lower`, patterns through
           :meth:`_lower_pattern`. Live, they differ from batch only in the
           sentinel guard, the watermark and the stateful count, sort and
           time windows, rate limiters and snapshots, and they raise a
           ``ValueError`` naming any clause they cannot honour;
        4. one drain from a memory sink (:meth:`_drain`).

        ≙ the reference's actual runtime mode (runtime.start() + sources,
        eventflux_app_runtime.rs:674) — the batch ``run()`` is its replay
        twin; parity between the two is pytest-asserted
        (``tests/test_streaming_parity.py``).
        """
        qs = [q for q in self.queries if q.target == target]
        if len(qs) != 1:
            raise ValueError("run_streaming supports exactly one query per target")
        q = qs[0]
        sel = _Select(q, self.streams)
        source, prelude = self._stream_chain(q, sel)
        snapshot = q.output_rate is not None and q.output_rate[0] == "SNAPSHOT"
        if q.output_rate is not None and not snapshot and (
            q.pattern is not None or sel.is_agg
        ):
            raise ValueError(
                "streaming OUTPUT rate limiting supports row-level "
                "FIRST/LAST/ALL EVERY n EVENTS / d TIME queries and "
                "OUTPUT SNAPSHOT over aggregating queries"
            )
        outer_join = any(
            h != "inner" and not self.streams[s].is_table for h, s, _, _ in q.joins
        )
        with Feeds(self.spark, n_chunks) as feeds:

            def partner(s: str, how: str) -> DataFrame:
                # a table joins as its final state; a stream as its own
                # feed. An INNER join needs no event time, so that feed's
                # sentinel drops; an outer one keeps it (with non-null key
                # strings) because the pads flush only when BOTH sides'
                # watermarks pass the bound
                if self.streams[s].is_table:
                    return F.broadcast(self.stream_df(s))
                if how != "inner":
                    return self._feed(feeds, s, OUTER_JOIN_KEY)
                return drop_sentinel(self._feed(feeds, s))

            stream = self._feed(feeds, source, OUTER_JOIN_KEY if outer_join else None)
            for u, usel in prelude:
                stream, _ = self._lower(u, usel, stream, partner, watermark, feeds)
            if snapshot:
                kept = stream.filter(keep_sentinel(sel.where)) if sel.where else stream
                out, mode = self._snapshot_stream(q, kept, sel), "append"
            elif q.pattern is not None:
                # the chain's output is the first step's stream; every other
                # step stream is its own feed with its own sentinel, because
                # a union's watermark is the MIN across inputs
                first = q.pattern.steps[0].stream
                out = self._lower_pattern(
                    q,
                    lambda s: stream if s == first else self._feed(feeds, s),
                    watermark,
                )
                mode = "append"
            else:
                out, mode = self._lower(q, sel, stream, partner, watermark, feeds)
            return self._drain(out, f"__sqlstream_{target.lower()}", mode)

    def _stream_chain(
        self, q: QueryDef, sel: "_Select"
    ) -> tuple[str, list[tuple[QueryDef, "_Select"]]]:
        """Walk back through the INSERT INTO chain feeding ``q``
        (junction composition, stream_junction.rs). Returns the head
        stream (the only one fed) and the intermediate stages, head first,
        each with its parsed clauses.
        Every intermediate stage is row-level (filter/projection) or, at
        most once, a non-windowed GROUP BY followed only by row-level
        stages."""
        prelude: list[tuple[QueryDef, _Select]] = []
        agg_stage = None
        head = q.pattern.steps[0].stream if q.pattern else q.source
        while True:
            ups = [u for u in self.queries if u.target == head]
            if not ups:
                break
            if len(ups) != 1:
                raise ValueError(
                    f"run_streaming chains need exactly one query into {head}"
                )
            u = ups[0]
            if self._rows.get(head):
                raise ValueError(
                    f"stream {head} is both sent-to and query-fed; streaming "
                    "chains support one producer"
                )
            usel = _Select(u, self.streams)
            if u.pattern or usel.window or u.joins or u.output_rate is not None:
                raise ValueError(
                    "streaming chain intermediates must be row-level "
                    "filter/projection or a non-windowed GROUP BY "
                    f"aggregation, without OUTPUT rate limiting (stage into "
                    f"{head} is not)"
                )
            if usel.is_agg:
                # ONE aggregating intermediate per chain (stream_junction.rs
                # chains arbitrary queries; the Spark restatement runs the
                # running aggregation in-plan and drains the final state —
                # so everything downstream must be row-level and a second
                # aggregation over update-mode re-emissions would
                # double-count)
                if agg_stage is not None:
                    raise ValueError(
                        "streaming chains support one aggregating "
                        "intermediate stage"
                    )
                agg_stage = u
            prelude.insert(0, (u, usel))
            head = u.source
        if agg_stage is not None and (
            q.pattern or sel.window or q.joins or sel.is_agg
            or q.output_rate is not None
        ):
            raise ValueError(
                "a streaming chain with an aggregating intermediate "
                "needs a row-level terminal query (filter/projection)"
            )
        return head, prelude

    def _feed(self, feeds: Feeds, name: str, strings: str | None = None) -> DataFrame:
        """Open a stream's own events as the next sentinel-terminated feed."""
        ddl, rows = self._base_rows(name)
        return feeds.open(T.StructType.fromDDL(ddl), rows, strings)

    def _drain(self, out: DataFrame, name: str, mode: str) -> list[tuple]:
        """Run the plan over every feed into a memory sink and collect it in
        emission order without sentinel rows or ``__`` columns. Mode
        ``last`` is append mode keeping the final emission only (a
        per-arrival length window's final state)."""
        qh = (
            out.writeStream.format("memory").queryName(name)
            .outputMode("append" if mode == "last" else mode).start()
        )
        try:
            qh.processAllAvailable()
        finally:
            qh.stop()
        res = self.spark.sql(f"SELECT * FROM {name}")
        if "__tick" in res.columns:
            # SNAPSHOT emission order: (tick[, window bucket], keys) —
            # matches the batch operator's row_number ordering
            res = res.orderBy("__tick", *[c for c in res.columns if c != "__tick"])
        elif "__seq" in res.columns:
            res = drop_sentinel(res).orderBy("__seq")
        else:
            res = res.orderBy(*res.columns)
        cols = [c for c in res.columns if not c.startswith("__")]
        rows = [tuple(r) for r in res.select(*cols).collect()]
        return rows[-1:] if mode == "last" else rows

    def _snapshot_stream(self, q: QueryDef, src: DataFrame, sel: "_Select") -> DataFrame:
        """OUTPUT SNAPSHOT EVERY d over a live aggregating query
        (snapshot_output_rate.rs): per-tick full-state emission as a
        stateful op; identical event-time restatement to the batch
        operator, so batch/streaming rows match."""
        _check_snapshot(q, sel)
        w = sel.window
        from ..streaming.ratelimit import snapshot_agg_stream

        # tumbling window → the bucket start joins the state key (same
        # partials-over-buckets decomposition as the batch operator)
        buckets = [] if w is None else [_tumbling_bucket(w).alias("__wb")]
        parsed = [parse_simple_agg(e) for e, _ in sel.agg_items]
        if None in parsed:
            raise ValueError(
                "streaming SNAPSHOT needs decomposable aggregates "
                "(count/sum/avg/min/max)"
            )
        aliases = [a or e for e, a in sel.agg_items]
        proj = src.select(
            *buckets,
            *sel.keys,
            *[p.column().alias(f"_a{i}") for i, p in enumerate(parsed)],
            "__seq", "__ts",
        )
        wb = ["__wb"] if buckets else []
        interval_ms = q.output_rate[1]
        end = _EPOCH + datetime.timedelta(seconds=max(self._seq, 1))
        start_ms = int(_EPOCH.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000)
        n_ticks = int((end - _EPOCH).total_seconds() * 1000 // interval_ms)
        ktypes = dict(self.streams[q.source].columns)
        out_schema = ", ".join(
            ["__tick bigint"]
            + [f"{c} bigint" for c in wb]
            + [f"{k} {ktypes[k]}" for k in sel.keys]
            + [
                f"`{a}` {p.result_type(src).simpleString()}"
                for p, a in zip(parsed, aliases)
            ]
        )
        snap = snapshot_agg_stream(
            proj, wb + sel.keys, parsed, aliases, out_schema,
            interval_ms, start_ms, n_ticks,
        )
        # final projection in select-item order, cast to the target
        # stream's declared types (batch sum(int) is BIGINT etc.)
        return snap.select(
            "__tick", *wb,
            *[
                F.col((a or e) if _is_agg_expr(e) else e).cast(t).alias(c)
                for (e, a), (c, t) in zip(q.select_items, self.streams[q.target].columns)
            ],
        )

    # -- the one clause lowering of run() and run_streaming ---------------------

    def _run_query(self, q: QueryDef, stack: frozenset) -> DataFrame:
        def frame_of(s: str, how: str = "inner") -> DataFrame:
            return self.stream_df(s, stack)

        if q.pattern is not None:
            return self._lower_pattern(q, frame_of)
        sel = _Select(q, self.streams)
        if q.output_rate is not None and q.output_rate[0] == "SNAPSHOT":
            return self._run_snapshot_query(q, sel, frame_of(q.source))
        return self._lower(q, sel, frame_of(q.source), frame_of)[0]

    def _run_snapshot_query(self, q: QueryDef, sel: "_Select", df: DataFrame) -> DataFrame:
        """OUTPUT SNAPSHOT EVERY d (snapshot_output_rate.rs): every d ticks
        emit the FULL current aggregate state — restated on the app's event
        clock as per-tick cumulative aggregates (operators/output.py)."""
        from ..operators import output as OUT

        _check_snapshot(q, sel)
        w = sel.window
        if sel.where:
            df = df.filter(F.expr(sel.where))
        keys = sel.keys
        if w is not None:
            # SNAPSHOT over a tumbling window = the window bucket joins the
            # aggregation key (partials-over-buckets decomposition, VERDICT
            # r4 #5): at tick t the full per-(bucket, keys) state over
            # events with ts <= t emits — closed buckets show final values,
            # the open bucket its partial state
            df = df.withColumn("__wb", _tumbling_bucket(w))
            keys = ["__wb"] + keys
        aggs = [(e, a or e) for e, a in sel.agg_items]
        interval_ms = q.output_rate[1]
        end = _EPOCH + datetime.timedelta(seconds=max(self._seq, 1))
        out = OUT.output_snapshot_agg(
            df, interval_ms, "__ts", keys, aggs, _EPOCH, end
        )
        cols = [F.col(a or e) for e, a in q.select_items]
        order = [F.col("tick")] + [F.col(k) for k in keys]
        return out.select(
            *cols,
            F.row_number().over(Window.orderBy(*order)).alias("__seq"),
            F.col("tick").cast("timestamp").alias("__ts"),
        )

    def _lower(
        self,
        q: QueryDef,
        sel: "_Select",
        src: DataFrame,
        frame_of,
        watermark: str | None = None,
        feeds: Feeds | None = None,
    ) -> tuple[DataFrame, str]:
        """The one lowering of a non-pattern query for ``run()`` and
        ``run_streaming``: joins, WHERE, the window, GROUP BY [window,]
        [keys,] [PARTITION key] with HAVING or the SELECT projection, then
        ORDER BY / LIMIT / OFFSET and OUTPUT rate limiting, every clause
        read from ``sel``. ``src`` is the source stream's frame and
        ``frame_of(name, how)`` a join partner's.

        With a ``watermark`` the lowering is live, and only these differ:
        the sentinel guard (``sql/feeds.py``), the watermark of event-time
        windows and outer stream joins, and the stateful count, sort and
        time windows and rate limiter (``streaming/``). A clause the live
        plan cannot honour raises (:meth:`_check_live`). Returns the plan
        and its streaming output mode: ``append``, ``complete``, or
        ``last`` (append, keeping only the final emission)."""
        from ..streaming import pipelines as P

        live = watermark is not None
        if live:
            self._check_live(q, sel)
        if "__seq" not in src.columns:
            # a live chain stage after a running aggregate: filter and
            # projection over its state, which the complete-mode drain
            # returns final (what run() computes for the same chain)
            out = src.filter(F.expr(sel.where)) if sel.where else src
            return out.selectExpr(*sel.items), "complete"
        w = sel.window
        kind = w.kind if w else None
        if w is not None and q.joins:
            raise ValueError(f"WINDOW('{kind}') over a JOIN is unsupported")
        if kind in (*_EVENT_TIME_WINDOWS, "lengthBatch") and not sel.is_agg:
            raise ValueError(f"WINDOW('{kind}'): time windows require aggregation")
        df = self._join(q, src, frame_of, watermark) if q.joins else src
        if sel.where:
            # live, the sentinel survives the predicate: an event-time
            # operator or a rate limiter downstream needs it to flush
            pads = [f"__seq_{s}" for how, s, _, _ in q.joins if how != "inner"]
            df = df.filter(
                keep_sentinel(sel.where, "__seq", *pads) if live else F.expr(sel.where)
            )
        group: list[Column] = []
        out, mode = None, "append"
        if kind in _EVENT_TIME_WINDOWS:
            if kind == "cron":
                df = df.withColumn("__cron", self._cron_bucket(w))
                df = df.filter(F.col("__cron").isNotNull())
                group.append(F.col("__cron"))
            else:
                group.append(_window_col(w))
            if live and kind in _WATERMARK_WINDOWS:
                df = df.withWatermark("__ts", watermark)
        elif kind == "length" and not sel.is_agg:
            # passthrough length window → Current+Expired changelog
            # (app_runner_windows.rs:25-45 contract)
            from ..operators.windows import length_window_changelog

            keys = [sel.pkey] if sel.pkey else None
            out = length_window_changelog(df, w.params[0], ["__seq"], keys)
            out = out.selectExpr(*sel.items, "emit_seq AS __seq", "__ts")
        elif live and kind in ("length", "lengthBatch"):
            return self._count_window_stream(q, sel, df)
        elif live and kind is not None:
            # live time(d) / sort(N, attr) windows (sort_window_processor.rs
            # :25): stateful retention on the app's logical clock; the
            # sentinel flushes the FINAL retained set, the batch
            # restatement's final-state contract
            if kind == "time":
                df = P.time_window_stream(df, int(w.params[0]))
            else:
                attr, desc = _sort_key(w.params[1])
                df = P.sort_window_stream(df, int(w.params[0]), attr, not desc)
        elif kind is not None:
            df = self._retain(sel, df)
            if kind == "lengthBatch":
                group.append(F.col("__batch"))
        if out is None and sel.is_agg:
            if live and kind not in _WATERMARK_WINDOWS:
                # no watermark closes these groups: the sentinel drops, and
                # the complete-mode drain returns their final state
                df, mode = drop_sentinel(df), "complete"
            out = _aggregate(df, sel, group + [F.expr(k) for k in sel.group])
        elif out is None:
            seq, ts = _emission(q)
            out = df.selectExpr(*sel.items, f"{seq} AS __seq", f"{ts} AS __ts")
        if live:
            if q.output_rate is not None:
                from ..streaming.ratelimit import output_rate_stream

                # OUTPUT rate limiting runs INSIDE the live pipeline
                # (ratelimit/*.rs at select_processor.rs:30-38). An INNER
                # join dropped the sentinels, so the limiter gets its flush
                # event from a row-less feed unioned AFTER the join, behind
                # one empty file per data chunk
                if any(how == "inner" for how, _, _, _ in q.joins):
                    out = out.unionByName(
                        feeds.open(out.schema, lead_empty=feeds.n_chunks)
                    )
                out = output_rate_stream(out, *q.output_rate)
            return out, mode
        if sel.order:
            out = out.orderBy(*sel.order)
        if sel.offset is not None:
            out = out.offset(sel.offset)
        if sel.limit is not None:
            out = out.limit(sel.limit)
        if sel.is_agg:
            # aggregates get fresh emission seqs in deterministic group order
            out = out.drop(*[f"__o{i}" for i in range(len(sel.order_aggs))])
            out = out.withColumn(
                "__seq",
                F.row_number().over(Window.orderBy(*out.columns)) + F.lit(self._seq),
            ).withColumn("__ts", F.lit(_EPOCH).cast("timestamp"))
        elif sel.order:
            # ORDER BY defines the emission order of the output chunk
            # (order_by_event_comparator.rs applied at select_processor.rs:531)
            out = out.withColumn("__seq", F.row_number().over(Window.orderBy(*sel.order)))
        if q.output_rate is not None:
            out = _rate_limit(out, *q.output_rate)
        return out, mode

    def _check_live(self, q: QueryDef, sel: "_Select") -> None:
        """Raise a ``ValueError`` naming each clause ``run_streaming`` cannot
        honour: the live lowering never drops a clause ``run()`` reads."""
        kind = sel.window.kind if sel.window else None
        for clause, value in (
            ("ORDER BY", sel.order), ("LIMIT", sel.limit), ("OFFSET", sel.offset)
        ):
            if value is not None:
                raise ValueError(
                    f"streaming {clause} is unsupported: a live stream has no "
                    "final set of rows to sort or cut"
                )
        if kind not in (None, *_EVENT_TIME_WINDOWS, "time", "sort", "length", "lengthBatch"):
            raise ValueError(f"streaming WINDOW('{kind}') is unsupported")
        if kind == "length" and not sel.is_agg:
            raise ValueError(
                "streaming WINDOW('length') passthrough is unsupported: "
                "run() emits its Current+Expired changelog"
            )
        if kind in ("sort", "length", "lengthBatch") and sel.pkey:
            raise ValueError(
                f"streaming PARTITION WITH over WINDOW('{kind}') is "
                "unsupported: the live count and sort windows are unkeyed"
            )
        if kind in ("length", "lengthBatch") and sel.having:
            raise ValueError(f"streaming HAVING over WINDOW('{kind}') is unsupported")
        if kind in ("time", "sort") and q.output_rate is not None:
            raise ValueError(
                f"streaming OUTPUT rate limiting over WINDOW('{kind}') is "
                "unsupported"
            )
        for how, s, _, _ in q.joins:
            if self.streams[s].is_table:
                continue
            if any(u.target == s for u in self.queries):
                raise ValueError(
                    f"streaming JOIN partner {s} is fed by a query: a live "
                    "partner feed carries only the events sent to it"
                )
            if sel.is_agg:
                raise ValueError(
                    "streaming aggregates over a stream-stream JOIN are unsupported"
                )
            if how == "inner":
                continue
            within_ms = q.join_within.get(s)
            if within_ms is None:
                raise ValueError(
                    "streaming outer stream-stream joins need an "
                    "event-time bound: JOIN ... ON cond WITHIN d"
                )
            if len(q.joins) != 1:
                raise ValueError(
                    "streaming outer stream-stream joins support a single join"
                )
            if within_ms >= 6 * 86_400_000:
                # feeds' sentinels sit a week apart, so the bound itself
                # keeps them from ever matching each other
                raise ValueError(
                    "streaming outer-join WITHIN bounds must be under 6 days"
                )

    def _join(
        self, q: QueryDef, df: DataFrame, frame_of, watermark: str | None = None
    ) -> DataFrame:
        """A query's joins. Each partner's ``__seq``/``__ts`` become
        ``__seq_<S>``/``__ts_<S>``, and its ON condition gains the ``WITHIN
        d`` event-time bound and the UNIDIRECTIONAL arrival order: only the
        marked side's arrivals emit, against partner rows that arrived
        before them (join_input_stream.rs:23-28).

        Live, an INNER join needs no event time, so the source's sentinel
        drops before it (its neutral key values could join real partner
        rows, or fail to, depending on the data). An outer stream join
        keeps it and watermarks both sides: Spark expires the symmetric
        join state and emits the unmatched pads once both pass the bound
        (join_processor.rs:104-112).
        Its bound is the range form Spark's state-cleanup analyzer
        recognizes: plain interval arithmetic on the two event-time
        columns. No sentinel-exclusion conjunct goes here: a single-side
        predicate is pushed below that side's watermark node and hides the
        sentinel from it; the drain drops sentinel pads instead."""
        streams = {s for _, s, _, _ in q.joins if not self.streams[s].is_table}
        live_outer = watermark is not None and any(
            how != "inner" and s in streams for how, s, _, _ in q.joins
        )
        if live_outer:
            df = df.withWatermark("__ts", watermark)
        elif watermark is not None and any(how == "inner" for how, _, _, _ in q.joins):
            df = drop_sentinel(df)
        out = df.alias(q.source)
        for how, s, cond, trig in q.joins:
            p = frame_of(s, how).withColumnRenamed("__seq", f"__seq_{s}")
            p = p.withColumnRenamed("__ts", f"__ts_{s}")
            if live_outer and s in streams:
                p = p.withWatermark(f"__ts_{s}", watermark)
            on = F.expr(cond)
            if s in q.join_within:
                d = f"INTERVAL {q.join_within[s]} MILLISECONDS"
                on = on & F.expr(f"__ts_{s} >= __ts - {d} AND __ts_{s} <= __ts + {d}")
            if trig == "left":
                on = on & (F.col("__seq") > F.col(f"__seq_{s}"))
            elif trig == "right":
                on = on & (F.col(f"__seq_{s}") > F.col("__seq"))
            out = out.join(p.alias(s), on, how)
        return out

    def _retain(self, sel: "_Select", df: DataFrame) -> DataFrame:
        """The batch restatement of a count, sort or time window or a user
        window factory: the rows the window holds at the end (``run()``'s
        final-state contract). lengthBatch tags each row with its
        ``__batch`` instead."""
        w = sel.window
        keys = [sel.pkey] if sel.pkey else []
        if w.kind in ("time", "externalTime"):
            # time(d) (reference window/mod.rs: events expire d after
            # arrival): on the app's deterministic logical clock the FINAL
            # retained set is every event within d of the LAST arrival.
            # externalTime(ts_attr, d) is the same on a DATA timestamp
            attr, d_ms = ("__ts", w.params[0]) if w.kind == "time" else w.params[:2]
            t = F.unix_micros(F.col(attr).cast("timestamp_ltz"))
            df = df.withColumn("__last", F.max(t).over(Window.partitionBy()))
            return df.filter(t > F.col("__last") - d_ms * 1000).drop("__last")
        if w.kind == "sort":
            # sort(N, 'attr [asc|desc]') keeps the N best events under the
            # comparator (sort_window_processor.rs:25); __seq breaks ties
            attr, desc = _sort_key(w.params[1])
            best = F.col(attr).desc() if desc else F.col(attr).asc()
            return sort_window_topk(df, w.params[0], keys, [best], ["__seq"])
        if w.kind == "length":
            # length(N) keeps the N latest arrivals
            return sort_window_topk(df, w.params[0], keys, [F.col("__seq").desc()], [])
        if w.kind == "lengthBatch":
            # tumbling count window (window/mod.rs:645-963): consecutive
            # batches of N in arrival order, partial tail included
            nth = F.row_number().over(Window.partitionBy(*keys).orderBy("__seq")) - 1
            return df.withColumn("__batch", F.floor(nth / w.params[0]).cast("int"))
        # user window factory (functions/extensions.py ≙
        # eventflux_manager.rs:272-278 add_window_factory +
        # WindowProcessorFactory lookup): the factory transforms the
        # filtered stream into the window's retained contents
        from ..functions import extensions as ext

        factory = ext.get_window_factory(w.kind)
        if factory is None:
            raise ValueError(
                f"WINDOW('{w.kind}') unsupported in the SQL layer — "
                "use the DataFrame operators (operators/windows.py) "
                "or register an extension via add_window_factory"
            )
        return factory(df, list(w.params), sel.pkey)

    def _count_window_stream(
        self, q: QueryDef, sel: "_Select", df: DataFrame
    ) -> tuple[DataFrame, str]:
        """A live length(N) / lengthBatch(N) window: a stateful operator
        that evaluates the query's one aggregate itself."""
        from ..streaming import pipelines as P

        w = sel.window
        p = (
            parse_simple_agg(sel.agg_items[0][0])
            if len(sel.items) == 1 and sel.agg_items and not sel.keys else None
        )
        if p is None:
            raise ValueError(
                f"streaming WINDOW('{w.kind}') supports a single "
                "un-keyed SUM/AVG/MIN/MAX/COUNT aggregate"
            )
        out_name = sel.agg_items[0][1] or "agg"
        df = df.withColumn("__a", p.column())
        args = (int(w.params[0]), p.fn, "__a", out_name)
        if w.kind == "length":
            # per-arrival sliding count window; the drain keeps only the
            # final emission to honor run()'s final-state contract (the
            # last N events' aggregate)
            out, mode = P.length_window_stream(drop_sentinel(df), *args), "last"
        else:
            # emit + reset every N events; the sentinel flushes the partial
            # tail batch (no timer needed)
            out = P.length_batch_stream(df, *args).withColumnRenamed("batch_id", "__seq")
            mode = "append"
        # cast the emission to the declared target type
        decl = dict(self.streams[q.target].columns)
        if out_name in decl:
            out = out.withColumn(out_name, F.col(out_name).cast(decl[out_name]))
        return out, mode

    def _cron_bucket(self, w) -> Column:
        """The cron tick an event belongs to (window/mod.rs:1742, restated
        on event time): the first tick of the schedule at or after the
        event, looked up in a literal tick spine over the app horizon
        (sql/cron.py). Null past the last tick: those events stay
        buffered, unemitted."""
        from .cron import Cron

        expr = str(w.params[0])
        horizon = _EPOCH + datetime.timedelta(seconds=self._seq + 61)
        ticks = Cron(expr).ticks(_EPOCH, horizon)
        if not ticks:
            raise ValueError(f"cron {expr!r} fires nowhere in the app horizon")
        spine = F.array(*[
            F.lit(int(t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e6))
            .cast("bigint")
            for t in ticks
        ])
        at = F.unix_micros(F.col("__ts").cast("timestamp"))
        return F.array_min(F.filter(spine, lambda t: t >= at))

    # -- pattern queries ---------------------------------------------------

    def _lower_pattern(
        self, q: QueryDef, frame_of, watermark: str | None = None
    ) -> DataFrame:
        """The one pattern lowering of ``run()`` and ``run_streaming``.

        The step streams (and an absent pattern's stream), each read through
        ``frame_of(name)``, union into one unified-schema frame tagged with
        ``__src``; PARTITION WITH keys it per NFA instance; every step
        becomes a flag column and the pattern a :class:`PatternSpec`.
        ``PATTERN (e1=S[cond] -> NOT S2[cond2] FOR d)`` emits each trigger
        event with NO matching absent-stream event in ``(ts, ts + d]`` — the
        reference only DESIGNED this (``PATTERN_PROCESSING.md:34-38``,
        "requires TimerWheel").

        With a ``watermark`` the lowering is live: every flag also requires
        a real (non-sentinel) row, and the streaming matchers run (the
        absent one arms a state timeout at each trigger's deadline, the
        TimerWheel role). That is the only difference from batch."""
        from ..cep.batch import match_absent_batch
        from ..cep.streaming import match_absent_stream, match_pattern_stream

        sel = _Select(q, self.streams)
        _unread("a PATTERN query", (
            ("WHERE", sel.where), ("GROUP BY", sel.keys), ("HAVING", sel.having),
            ("ORDER BY", sel.order), ("LIMIT", sel.limit), ("OFFSET", sel.offset),
            ("OUTPUT", q.output_rate),
        ))
        p: PatternDef = q.pattern
        if p.absent is not None and len(p.steps) != 1:
            raise ValueError(
                "absent patterns support one trigger step: "
                "PATTERN (e1=S[cond] -> NOT S2[cond] FOR d)"
            )
        names = list(dict.fromkeys(
            [s.stream for s in p.steps] + ([p.absent[0]] if p.absent else [])
        ))
        all_cols: dict[str, str] = {}
        for s in names:
            for c, t in self.streams[s].columns:
                if all_cols.setdefault(c, t) != t:
                    raise ValueError(f"column {c} type conflict across pattern streams")
        parts = []
        for s in names:
            have = {c for c, _ in self.streams[s].columns}
            parts.append(frame_of(s).select(
                F.lit(s).alias("__src"),
                *[(F.col(c) if c in have else F.lit(None).cast(t)).alias(c)
                  for c, t in all_cols.items()],
                "__seq", "__ts",
            ))
        df = (
            functools.reduce(DataFrame.unionByName, parts)
            .withColumn("conv_id", _partition_key(q))
            .withColumn("turn_idx", F.col("__seq").cast("int"))
            .withColumn("ts", F.col("__ts"))
        )

        def flag(stream: str, cond: str | None) -> Column:
            f = F.col("__src") == stream
            if watermark is not None:
                f = f & not_sentinel()
            return f & F.expr(cond) if cond else f

        select_plan, referenced, agg_emits, index_emits = _pattern_select_plan(
            q.select_items, p.steps
        )
        if p.absent is not None:
            trig = p.steps[0]
            ab_stream, ab_cond, for_ms = p.absent
            if any(agg_emits.values()) or any(index_emits.values()):
                raise ValueError("absent patterns support plain e1.col select items")
            emit = tuple(sorted({"turn_idx", *referenced[trig.alias]}))
            df = df.withColumn("__is_trig", flag(trig.stream, trig.condition))
            df = df.withColumn("__is_abs", flag(ab_stream, ab_cond))
            args = (df, "__is_trig", "__is_abs", pd.Timedelta(milliseconds=for_ms))
            if watermark is None:
                out = match_absent_batch(*args, emit_cols=emit)
            else:
                out = match_absent_stream(*args, emit_cols=emit, watermark_delay=watermark)
            # the matcher emits trigger columns under their plain names; the
            # select plan expects alias-qualified ones
            for c in (*emit, "ts"):
                out = out.withColumnRenamed(c, f"{trig.alias}_{c}")
            last = trig.alias
        else:
            steps = []
            for sdef in p.steps:
                cond, cross = sdef.condition, None
                if cond and _EREF_RE.search(cond):
                    # cross-step refs (e2[x > e1.x]) compile to a closure
                    # evaluated inside the shared NFA replay core
                    cond, cross = None, _compile_cross_pred(sdef.condition)
                    for em in _EREF_RE.finditer(sdef.condition):
                        if em.group(1) != sdef.alias:
                            referenced[em.group(1)].add(em.group(2))
                    bare = re.finditer(r"\b(?<!\.)(\w+)\b", _EREF_RE.sub(" ", sdef.condition))
                    referenced[sdef.alias] |= {b.group(1) for b in bare} & all_cols.keys()
                df = df.withColumn(f"__is_{sdef.alias}", flag(sdef.stream, cond))
                steps.append((sdef, cross))
            # Steps are built AFTER the condition scan: a later step's
            # cross-ref (e2[x > e1.x]) extends e1's emit set
            spec = PatternSpec(
                steps=tuple(
                    Step(
                        sdef.alias, f"__is_{sdef.alias}", sdef.min_count, sdef.max_count,
                        cross_pred=cross,
                        emit=tuple(sorted(referenced[sdef.alias])),
                        agg_emit=tuple(sorted(agg_emits[sdef.alias])),
                        index_emit=tuple(sorted(
                            index_emits[sdef.alias], key=lambda t: (str(t[0]), t[1])
                        )),
                    )
                    for sdef, cross in steps
                ),
                within=pd.Timedelta(milliseconds=p.within_ms) if p.within_ms else None,
                every=p.every,
            )
            if watermark is None:
                out = match_pattern_batch(df, spec)
            else:
                out = match_pattern_stream(df, spec, watermark_delay=watermark)
            last = spec.steps[-1].name
        return out.select(
            *[F.col(src).alias(o) for src, o in select_plan],
            F.col(f"{last}_turn_idx").cast("bigint").alias("__seq"),
            F.col(f"{last}_ts").alias("__ts"),
        )


class _Select:
    """A query's clauses, parsed once: the one reading that ``run()`` and
    ``run_streaming`` both lower (:meth:`EventFluxApp._lower`)."""

    def __init__(self, q: QueryDef, streams: dict[str, StreamDef]):
        sd = streams.get(q.source)
        self.where = q.where
        #: the inline window, else the named (CREATE WINDOW) source's: every
        #: reader of a named window sees the same windowed contents
        #: (window_runtime.rs shared-buffer semantics)
        self.window = q.window or (sd.shared_window if sd else None)
        #: PARTITION WITH key of the source (partition/mod.rs:9 per-key
        #: query instances): it keys aggregates and count/sort windows
        self.pkey = q.partition_keys.get(q.source)
        self.keys = [g.strip() for g in (q.group_by or "").split(",") if g.strip()]
        self.agg_items = [(e, a) for e, a in q.select_items if _is_agg_expr(e)]
        self.is_agg = bool(q.group_by) or bool(self.agg_items)
        #: GROUP BY keys plus the PARTITION key: per-key aggregate isolation.
        #: The reference's own partition_sum test leaks state across keys
        #: (tests/app_runner_partitions.rs:64-71 asserts [1,3,6]); this is
        #: the DOCUMENTED per-key isolation
        self.group = self.keys + ([self.pkey] if self.pkey and self.is_agg else [])
        #: the SELECT items as SQL text, for ``selectExpr``
        self.items = [f"{e} AS {a}" if a else e for e, a in q.select_items]
        inputs = {
            c for s in (q.source, *[j[1] for j in q.joins]) if s in streams
            for c, _ in streams[s].columns
        }

        def aggregate(text: str) -> str:
            # an aggregate over the input rows, in which a SELECT alias that
            # is no input column stands for its expression
            for e, a in q.select_items:
                if a and a not in inputs:
                    text = re.sub(rf"(?<![\w.]){a}\b", f"({e})", text)
            return text

        #: HAVING, one more aggregate of the GROUP BY
        self.having = aggregate(q.having) if q.having else None
        #: ORDER BY as sort columns. An aggregate sorts on hidden aggregates
        #: ``__o<i>`` (``order_aggs``) computed with its GROUP BY
        self.order, self.order_aggs = None, []
        for i, item in enumerate(_split_top(q.order_by or "")):
            m = re.fullmatch(r"(.+?)\s+(ASC|DESC)", item.strip(), re.IGNORECASE | re.DOTALL)
            e, desc = (m.group(1), m.group(2).upper() == "DESC") if m else (item, False)
            if self.is_agg:
                self.order_aggs.append(F.expr(aggregate(e)).alias(f"__o{i}"))
            c = F.col(f"__o{i}") if self.is_agg else F.expr(e)
            self.order = (self.order or []) + [c.desc() if desc else c]
        self.limit, self.offset = q.limit, q.offset


def _window_col(w) -> Column:
    """The event-time window column of a tumbling, sliding, session or
    externalTimeBatch window. externalTimeBatch(ts_attr, d) (reference
    window/mod.rs) tumbles on a DATA timestamp column instead of arrival
    time."""
    if w.kind == "externalTimeBatch":
        return F.window(F.col(w.params[0]).cast("timestamp"), f"{w.params[1]} milliseconds")
    ms = [f"{p} milliseconds" for p in w.params]
    if w.kind == "session":
        return F.session_window("__ts", ms[0])
    return F.window("__ts", *ms)


def _aggregate(df: DataFrame, sel: _Select, group: list[Column]) -> DataFrame:
    """GROUP BY ``group`` with the SELECT items as the aggregate list and
    HAVING and the ORDER BY keys as more, hidden aggregates. The items come
    out in SELECT order, named as Spark SQL names them, followed by the
    ``__o<i>`` sort keys."""
    hidden = [f"__g{i}" for i in range(len(group))]
    having = [F.expr(sel.having).alias("__having")] if sel.having else []
    out = df.groupBy(*[c.alias(h) for c, h in zip(group, hidden)]).agg(
        *[F.expr(i) for i in sel.items], *having, *sel.order_aggs
    )
    if having:
        out = out.filter("__having")
    return out.drop(*hidden, "__having")


def _check_snapshot(q: QueryDef, sel: _Select) -> None:
    """The query shape OUTPUT SNAPSHOT takes in both modes; any other
    clause raises rather than being ignored."""
    w = sel.window
    if q.pattern is not None or not sel.is_agg or (w is not None and w.kind != "tumbling"):
        raise ValueError(
            "OUTPUT SNAPSHOT supports non-windowed or tumbling-windowed "
            "aggregating queries"
        )
    _unread("OUTPUT SNAPSHOT", (
        ("JOIN", q.joins), ("PARTITION WITH", sel.pkey), ("HAVING", sel.having),
        ("ORDER BY", sel.order), ("LIMIT", sel.limit), ("OFFSET", sel.offset),
    ))


def _unread(what: str, clauses) -> None:
    """Raise for the first of ``(clause, parsed value)`` that is set:
    ``what`` does not read it, in either mode."""
    for clause, value in clauses:
        if value not in (None, []):
            raise ValueError(f"{what} with {clause} is unsupported")


def _emission(q: QueryDef) -> tuple[str, str]:
    """The ``__seq``/``__ts`` a row-level result carries: the driving
    side's. A right-UNIDIRECTIONAL join emits on partner arrivals
    (join_input_stream.rs:23-28); a pad of an outer join takes the
    partner's."""
    seq, ts = "__seq", "__ts"
    for how, s, _, trig in q.joins:
        if trig == "right":
            seq, ts = f"__seq_{s}", f"__ts_{s}"
        elif how != "inner":
            seq, ts = f"coalesce({seq}, __seq_{s})", f"coalesce({ts}, __ts_{s})"
    return seq, ts


def _rate_limit(out: DataFrame, mode: str, value: int, unit: str) -> DataFrame:
    """The batch restatement of OUTPUT FIRST|LAST|ALL EVERY n EVENTS / d
    TIME over rows in ``__seq`` order (``operators/output.py``)."""
    from ..operators import output as OUT

    if unit == "TIME":
        return OUT.output_every_time(out, value, mode, "__ts", [], ["__seq"])
    every = {
        "FIRST": OUT.output_first_every,
        "LAST": OUT.output_last_every,
        "ALL": OUT.output_all_every,
    }[mode]
    return every(out, value, [], ["__seq"])


def _partition_key(q: QueryDef) -> Column:
    """PARTITION WITH (key OF Stream) → per-key NFA instances; without a
    partition the pattern is global (single key). The reference's patterns
    are global by default; PARTITION wraps them per key
    (partition/parser.rs:14, app_runner_partitions.rs). A live pattern's
    watermark stays GLOBAL: sentinels flush every key's pending state."""
    if not q.partition_keys:
        return F.lit("__global__")
    key_cols = set(q.partition_keys.values())
    if len(key_cols) != 1:
        raise ValueError(
            "pattern PARTITION keys must share one column name, got "
            f"{sorted(key_cols)}"
        )
    return F.col(next(iter(key_cols))).cast("string")


def _tumbling_bucket(w) -> Column:
    """Index of the tumbling window each event falls in (OUTPUT SNAPSHOT
    over a tumbling window keys its state by it)."""
    return F.floor(
        F.col("__ts").cast("timestamp_ltz").cast("double") * 1000.0
        / F.lit(float(int(w.params[0])))
    ).cast("bigint")


def _sort_key(spec) -> tuple[str, bool]:
    """``'attr [asc|desc]'`` of a sort window → (attr, descending)."""
    parts = str(spec).split()
    return parts[0], len(parts) > 1 and parts[1].lower() == "desc"


def _pattern_select_plan(select_items, steps):
    """Parse a pattern SELECT list shared by the batch and streaming
    compilers. Supports ``alias.col``/``Stream.col``, indexed chain access
    ``alias[i].col`` / ``alias[last].col``
    (indexed_variable_executor.rs:67) and collection aggregates
    ``count(e1)`` / ``sum|min|max|avg(e1.col)``
    (collection_aggregation_executor.rs:141-696).

    Returns (select_plan [(emitted column, output name)], referenced,
    agg_emits, index_emits) — the three dicts keyed by step alias and
    mutable (the batch compiler adds cross-predicate references later).
    """
    referenced: dict[str, set] = {s.alias: set() for s in steps}
    agg_emits: dict[str, set] = {s.alias: set() for s in steps}
    index_emits: dict[str, set] = {s.alias: set() for s in steps}
    stream_to_alias: dict[str, str] = {}
    for s in steps:
        stream_to_alias.setdefault(s.stream, s.alias)

    def map_ref(name: str, col: str) -> tuple[str, str]:
        if name in referenced:
            return name, col
        if name in stream_to_alias:
            return stream_to_alias[name], col
        raise ValueError(f"unknown pattern reference {name}.{col}")

    select_plan: list[tuple[str, str]] = []
    for expr, alias in select_items:
        expr = expr.strip()
        im = re.fullmatch(r"(\w+)\[(\d+|last)\]\.(\w+)", expr, re.IGNORECASE)
        if im:
            a, _ = map_ref(im.group(1), im.group(3))
            idx = im.group(2).lower()
            idx = idx if idx == "last" else int(idx)
            c = im.group(3)
            index_emits[a].add((idx, c))
            select_plan.append((f"{a}_at{idx}_{c}", alias or f"{a}_at{idx}_{c}"))
            continue
        am = re.fullmatch(
            r"(count|sum|min|max|avg)\s*\(\s*(\w+)(?:\.(\w+))?\s*\)",
            expr,
            re.IGNORECASE,
        )
        if am and (am.group(2) in referenced or am.group(2) in stream_to_alias):
            fn = am.group(1).lower()
            c = am.group(3)
            if c is None:
                if fn != "count":
                    raise ValueError(f"collection {fn} needs a column: {expr!r}")
                c = "turn_idx"
            a, c = map_ref(am.group(2), c)
            agg_emits[a].add((fn, c))
            select_plan.append((f"{a}_{fn}_{c}", alias or f"{fn}_{a}"))
            continue
        rm = re.fullmatch(r"(\w+)\.(\w+)", expr)
        if not rm:
            raise ValueError(
                "pattern SELECT supports alias.col, alias[i].col, and "
                f"collection aggregates, got {expr!r}"
            )
        a, c = map_ref(rm.group(1), rm.group(2))
        referenced[a].add(c)
        select_plan.append((f"{a}_{c}", alias or c))
    return select_plan, referenced, agg_emits, index_emits


def _compile_cross_pred(condition: str):
    """Translate an EventFlux step condition with cross-step refs
    (``e2[price > e1.price]``) into a python predicate over
    (candidate event dict, matched steps dict)."""
    expr = condition
    expr = _EREF_RE.sub(lambda m: f"__m['{m.group(1)}'][-1]['{m.group(2)}']", expr)
    expr = re.sub(r"(?<![<>!=])=(?!=)", "==", expr)
    expr = re.sub(r"\bAND\b", "and", expr, flags=re.IGNORECASE)
    expr = re.sub(r"\bOR\b", "or", expr, flags=re.IGNORECASE)
    expr = re.sub(r"\bNOT\b", "not", expr, flags=re.IGNORECASE)
    expr = re.sub(r"\b(?!and\b|or\b|not\b|__m\b)([a-zA-Z_]\w*)\b(?!\s*\(|')", r"__ev['\1']", expr)
    expr = expr.replace("__ev['__m']", "__m")
    code = compile(expr, "<pattern-condition>", "eval")

    def pred(ev: dict, matched: dict) -> bool:
        return bool(eval(code, {"__builtins__": {}}, {"__ev": ev, "__m": matched}))

    return pred
