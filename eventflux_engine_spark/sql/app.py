"""EventFluxApp — the AppRunner-equivalent runtime for the SQL dialect.

≙ reference lifecycle (SURVEY.md §3.1): ``EventFluxManager::
create_eventflux_app_runtime_from_string`` + AppRunner test harness
(``tests/common/mod.rs:31``): parse a multi-statement app, ``send()`` events
into input streams, collect a target stream's output rows.

Execution model here: each ``send`` stamps a global arrival sequence (the
analog of the reference's single-threaded arrival order); ``run(target)``
materializes the dataflow bottom-up — every INSERT INTO query compiles to
Spark SQL over temp views (standard clauses) or to the keyed-NFA pattern
matcher (``FROM PATTERN``), with EventFlux window specs mapped to
``window()``/``session_window()``/length-window formulations.

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
from .compiler import (
    AggregationDef,
    DmlDef,
    PatternDef,
    QueryDef,
    StreamDef,
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
        upsert = bool(
            re.match(r"UPDATE\s+OR\s+INSERT\b", stmt, re.IGNORECASE)
        )
        if head == "INSERT" and not upsert:
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
            from .compiler import _split_top

            cols = [c for c, _ in self.streams[table].columns]
            vals = [v.strip() for v in _split_top(vals_text)]
            if len(vals) != len(cols):
                raise ValueError(
                    f"{table} expects {len(cols)} values, got {len(vals)}"
                )
            row = {c: _sql_literal(v) for c, v in zip(cols, vals)}
            state = self._table_state(table)
            row.update(
                {
                    "__seq": self._seq,
                    "__ts": _EPOCH + datetime.timedelta(seconds=self._seq),
                }
            )
            self._seq += 1
            state.append(row)
            return 1
        if upsert:
            m = re.match(
                r"UPDATE\s+OR\s+INSERT\s+INTO\s+(\w+)\s+SET\s+(.*?)"
                r"(?:\s+WHERE\s+(.*))?$",
                stmt, re.IGNORECASE | re.DOTALL,
            )
            if m is None:
                raise ValueError(
                    "on-demand UPDATE OR INSERT must be 'UPDATE OR INSERT "
                    "INTO <table> SET col = expr[, ...] [WHERE <cond>]': "
                    f"{stmt[:80]!r}"
                )
            table, set_text, cond_text = m.groups()
            d = DmlDef("update", table, "__none__", (cond_text or "").strip())
            from .compiler import _split_top

            for item in _split_top(set_text):
                am = re.match(r"([\w.]+)\s*=\s*(.+)$", item.strip(), re.DOTALL)
                if am is None:
                    raise ValueError(
                        f"bad SET item in on-demand UPDATE OR INSERT: {item!r}"
                    )
                d.set_items.append(
                    (am.group(1).split(".")[-1], am.group(2).strip())
                )
            if table not in self.streams:
                raise ValueError(f"unknown table {table!r} in on-demand statement")
            cols = [c for c, _ in self.streams[table].columns]
            state = self._table_state(table)
            cond = (
                self._compile_dml_expr(d.condition, d, cols)
                if d.condition
                else (lambda row, event: True)
            )
            setters = [
                (col, self._compile_dml_expr(expr, d, cols))
                for col, expr in d.set_items
            ]
            n = 0
            for row in state:
                if cond(row, {}):
                    row.update({col: fn(row, {}) for col, fn in setters})
                    n += 1
            if n == 0:
                # miss → insert: the new row is built from the SET items
                # over a null-initialized row (upsert_table_processor.rs
                # miss branch semantics, applied store-side)
                row = {c: None for c in cols}
                row.update(
                    {
                        "__seq": self._seq,
                        "__ts": _EPOCH + datetime.timedelta(seconds=self._seq),
                    }
                )
                row.update({col: fn(row, {}) for col, fn in setters})
                self._seq += 1
                state.append(row)
                n = 1
            return n
        if head == "SELECT":
            tables = {d.table for d in self.dml} | {
                n for n, s in self.streams.items() if s.is_table
            }
            for t in tables:
                self._table_df(t).createOrReplaceTempView(t)
            out = self.spark.sql(stmt)
            cols = [c for c in out.columns if not c.startswith("__")]
            return [tuple(r) for r in out.select(*cols).collect()]
        if head == "UPDATE":
            m = re.match(
                r"UPDATE\s+(\w+)\s+SET\s+(.*?)(?:\s+WHERE\s+(.*))?$",
                stmt, re.IGNORECASE | re.DOTALL,
            )
            if m is None:
                raise ValueError(
                    "on-demand UPDATE must be 'UPDATE <table> SET col = expr"
                    f"[, ...] [WHERE <cond>]': {stmt[:80]!r}"
                )
            table, set_text, cond_text = m.groups()
            d = DmlDef("update", table, "__none__", (cond_text or "").strip())
            from .compiler import _split_top

            for item in _split_top(set_text):
                am = re.match(r"([\w.]+)\s*=\s*(.+)$", item.strip(), re.DOTALL)
                if am is None:
                    raise ValueError(f"bad SET item in on-demand UPDATE: {item!r}")
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
        return n

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
        3. one lowering per terminal shape: row-level filter/projection
           (incl. stream-table enrichment joins and stream-STREAM joins —
           Spark's symmetric join state buffers both feeds), OUTPUT rate
           limits and snapshots, windowed aggregation, time/sort windows,
           non-windowed GROUP BY (running agg), and patterns, which share
           the batch lowering (:meth:`_lower_pattern`);
        4. one drain from a memory sink (:meth:`_drain`).

        ≙ the reference's actual runtime mode (runtime.start() + sources,
        eventflux_app_runtime.rs:674) — the batch ``run()`` is its replay
        twin; parity between the two is pytest-asserted.
        """
        from ..streaming import pipelines as P

        qs = [q for q in self.queries if q.target == target]
        if len(qs) != 1:
            raise ValueError("run_streaming supports exactly one query per target")
        q = qs[0]
        source, prelude, agg_stage = self._stream_chain(q)
        sel = _Select(q)
        w = q.window
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
            stream = self._apply_chain(
                self._feed(feeds, source, OUTER_JOIN_KEY if outer_join else None),
                prelude,
                agg_stage,
            )

            def kept():
                # the sentinel SURVIVES the predicate in front of an
                # event-time operator, or the watermark never advances
                return stream.filter(keep_sentinel(q.where)) if q.where else stream

            last_only = False
            if agg_stage is not None:
                # terminal consumer of an aggregating intermediate: plain
                # filter/projection over the running aggregation's state;
                # complete-mode drain returns the FINAL state — exactly what
                # batch run() computes for agg -> INSERT INTO S -> row-level
                out = stream.filter(F.expr(q.where)) if q.where else stream
                out, mode = out.selectExpr(*sel.items), "complete"
            elif snapshot:
                out, mode = self._snapshot_stream(q, kept(), sel), "append"
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
            elif w is not None and w.kind in ("time", "sort"):
                # live time(d) / sort(N, attr) windows
                # (sort_window_processor.rs:25): stateful retention on the
                # app's logical clock; the sentinel flushes the FINAL
                # retained set (the batch restatement's final-state contract)
                if w.kind == "time":
                    retained = P.time_window_stream(kept(), int(w.params[0]))
                else:
                    attr, desc = _sort_key(w.params[1])
                    retained = P.sort_window_stream(
                        kept(), int(w.params[0]), attr, not desc
                    )
                if sel.is_agg:
                    out = P.group_agg_update_stream(retained, sel.keys, sel.aggs)
                    out, mode = out.select(*sel.outs), "complete"
                else:
                    out, mode = retained.selectExpr(*sel.items, "__seq"), "append"
            elif w is not None and sel.is_agg:
                out, mode, last_only = self._window_agg_stream(
                    q, kept(), sel, watermark
                )
            elif not sel.is_agg:
                out, mode = self._row_stream(q, stream, sel, feeds, watermark), "append"
            else:
                # non-windowed GROUP BY: running aggregation. The reference
                # emits one row per touched group per chunk (update mode);
                # the drained FINAL state is what batch run() returns, so the
                # memory sink runs in complete mode (select_processor.rs:483-529)
                out, mode = _running_agg(stream, q, sel), "complete"
            return self._drain(out, f"__sqlstream_{target.lower()}", mode, last_only)

    def _stream_chain(self, q: QueryDef) -> tuple[str, list[QueryDef], "QueryDef | None"]:
        """Walk back through the INSERT INTO chain feeding ``q``
        (junction composition, stream_junction.rs). Returns the head
        stream (the only one fed), the intermediate stages head first, and
        the aggregating stage if there is one. Every intermediate stage is
        row-level (filter/projection) or, at most once, a non-windowed
        GROUP BY followed only by row-level stages."""
        prelude: list[QueryDef] = []
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
            u_agg = _Select(u).is_agg
            if u.pattern or u.window or u.joins or (
                u_agg and u.output_rate is not None
            ):
                raise ValueError(
                    "streaming chain intermediates must be row-level "
                    "filter/projection or a non-windowed GROUP BY "
                    f"aggregation (stage into {head} is not)"
                )
            if u_agg:
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
            prelude.insert(0, u)
            head = u.source
        if agg_stage is not None and (
            q.pattern or q.window or q.joins or _Select(q).is_agg
            or q.output_rate is not None
        ):
            raise ValueError(
                "a streaming chain with an aggregating intermediate "
                "needs a row-level terminal query (filter/projection)"
            )
        return head, prelude, agg_stage

    def _feed(self, feeds: Feeds, name: str, strings: str | None = None) -> DataFrame:
        """Open a stream's own events as the next sentinel-terminated feed."""
        ddl, rows = self._base_rows(name)
        return feeds.open(T.StructType.fromDDL(ddl), rows, strings)

    @staticmethod
    def _apply_chain(
        stream: DataFrame, prelude: list[QueryDef], agg_stage: "QueryDef | None"
    ) -> DataFrame:
        """Apply the chain's intermediate stages on the same streaming plan:
        the junction between stages is an in-plan projection; an
        aggregating stage becomes an in-plan running aggregation whose
        state feeds the rest of the chain."""
        post_agg = False
        for u in prelude:
            usel = _Select(u)
            if u is agg_stage:
                stream, post_agg = _running_agg(stream, u, usel), True
            elif post_agg:
                s = stream.filter(F.expr(u.where)) if u.where else stream
                stream = s.selectExpr(*usel.items)
            else:
                # the sentinel must SURVIVE stage predicates or downstream
                # event-time operators never flush
                s = stream.filter(keep_sentinel(u.where)) if u.where else stream
                stream = s.selectExpr(*usel.items, "__seq", "__ts")
        return stream

    def _drain(
        self, out: DataFrame, name: str, mode: str, last_only: bool = False
    ) -> list[tuple]:
        """Run the plan over every feed into a memory sink and collect it in
        emission order without sentinel rows or ``__`` columns.
        ``last_only`` keeps the final emission only (a per-arrival length
        window's final state)."""
        qh = out.writeStream.format("memory").queryName(name).outputMode(mode).start()
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
        return rows[-1:] if last_only else rows

    def _snapshot_stream(self, q: QueryDef, src: DataFrame, sel: "_Select") -> DataFrame:
        """OUTPUT SNAPSHOT EVERY d over a live aggregating query
        (snapshot_output_rate.rs): per-tick full-state emission as a
        stateful op; identical event-time restatement to the batch
        operator, so batch/streaming rows match."""
        if q.pattern is not None or not sel.is_agg or (
            q.window is not None and q.window.kind != "tumbling"
        ):
            raise ValueError(
                "streaming OUTPUT SNAPSHOT supports non-windowed or "
                "tumbling-windowed aggregating queries"
            )
        from ..operators.output import _parse_simple_agg
        from ..streaming.ratelimit import snapshot_agg_stream

        # tumbling window → the bucket start joins the state key (same
        # partials-over-buckets decomposition as the batch operator)
        buckets = [] if q.window is None else [_tumbling_bucket(q).alias("__wb")]
        parsed = [_parse_simple_agg(e) for e, _ in sel.agg_items]
        if any(p is None for p in parsed):
            raise ValueError(
                "streaming SNAPSHOT needs decomposable aggregates "
                "(count/sum/avg/min/max)"
            )
        aliases = [a or e for e, a in sel.agg_items]
        proj = src.select(
            *buckets,
            *sel.keys,
            *[
                (
                    F.lit(1.0) if fn == "count" and arg == "*"
                    else F.expr(arg).cast("double")
                ).alias(f"_a{i}")
                for i, (fn, arg) in enumerate(parsed)
            ],
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
                f"`{a}` " + ("bigint" if p[0] == "count" else "double")
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

    def _window_agg_stream(
        self, q: QueryDef, src: DataFrame, sel: "_Select", watermark: str
    ) -> tuple[DataFrame, str, bool]:
        """A live windowed aggregate: (plan, output mode, keep only the
        last emission)."""
        from ..streaming import pipelines as P

        w, keys, aggs = q.window, sel.keys, sel.aggs
        ms = [f"{x} milliseconds" for x in w.params]
        if w.kind == "tumbling":
            out = P.tumbling_stream(
                src, ms[0], keys, aggs, ts_col="__ts", watermark=watermark
            )
        elif w.kind == "sliding":
            out = P.sliding_stream(
                src, ms[0], ms[1], keys, aggs, ts_col="__ts", watermark=watermark
            )
        elif w.kind == "session":
            out = P.session_stream(
                src, ms[0], keys, aggs, ts_col="__ts", watermark=watermark
            )
        elif w.kind == "cron":
            # live cron(expr) window: the deterministic event-time
            # restatement of the reference's wall-clock cron ticks
            # (window/mod.rs:1742) — each event buckets to the NEXT tick of
            # the schedule, computed Catalyst-side against the literal tick
            # spine (events past the last tick stay buffered/unemitted, as in
            # batch; the sentinel's bucket is null)
            ticks = _cron_ticks(str(w.params[0]), self._seq)
            arr = F.array(
                *[
                    F.lit(int(t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e6))
                    .cast("bigint")
                    for t in ticks
                ]
            )
            ev_us = F.unix_micros(F.col("__ts").cast("timestamp"))
            out = (
                src.withColumn("__cron_bucket", F.array_min(F.filter(arr, lambda t: t >= ev_us)))
                .filter(F.col("__cron_bucket").isNotNull())
                .groupBy("__cron_bucket", *keys)
                .agg(*aggs)
            )
        elif w.kind in ("length", "lengthBatch"):
            am = re.match(
                r"\s*(SUM|AVG|MIN|MAX|COUNT)\s*\(\s*(\w+)\s*\)\s*$",
                sel.agg_items[0][0],
                re.IGNORECASE,
            ) if len(sel.agg_items) == 1 and not keys else None
            if am is None:
                raise ValueError(
                    f"streaming WINDOW('{w.kind}') supports a single "
                    "un-keyed SUM/AVG/MIN/MAX/COUNT aggregate"
                )
            out_name = sel.agg_items[0][1] or "agg"
            args = (int(w.params[0]), am.group(1).lower(), am.group(2), out_name)
            if w.kind == "length":
                # per-arrival sliding count window as a stateful op; the
                # drain keeps only the final emission to honor run()'s
                # final-state contract (last N events' aggregate)
                out = P.length_window_stream(drop_sentinel(src), *args)
            else:
                # tumbling count window: emit + reset every N events; the
                # sentinel flushes the partial tail batch (no timer needed)
                out = P.length_batch_stream(src, *args)
                out = out.withColumnRenamed("batch_id", "__seq")
            # cast the double emission to the declared target type
            decl = dict(self.streams[q.target].columns)
            if out_name in decl:
                out = out.withColumn(out_name, F.col(out_name).cast(decl[out_name]))
            return out, "append", w.kind == "length"
        else:
            raise ValueError(f"streaming WINDOW('{w.kind}') unsupported")
        # strip window bounds; cron buckets re-aggregate as events arrive
        # (no watermark closes them) → complete-mode final state, like the
        # non-windowed running aggregation
        out = out.select(*keys, *[
            c for c in out.columns
            if c not in keys and not c.startswith(("window_", "session_", "__"))
        ])
        return out, "complete" if w.kind == "cron" else "append", False

    def _row_stream(
        self, q: QueryDef, stream: DataFrame, sel: "_Select", feeds: Feeds, watermark: str
    ) -> DataFrame:
        """Row-level terminal: filter/projection, stream-table and
        stream-stream joins, and an in-pipeline OUTPUT rate limiter."""
        from ..streaming.ratelimit import output_rate_stream

        partners = [j for j in q.joins if not self.streams[j[1]].is_table]
        if partners and all(j[0] == "inner" for j in partners):
            # the main sentinel must not join real partner rows (its
            # neutral key values could collide); no event-time operator
            # follows, so dropping it pre-join is safe. Outer joins keep it:
            # the global watermark is the MIN across inputs, so the main
            # feed must advance too or pads never flush
            stream = drop_sentinel(stream)
        out = stream.alias(q.source)
        outer_projected = False
        for how, sname, cond, _trig in q.joins:
            if self.streams[sname].is_table:
                # stream-table enrichment joins: the bound table state
                # broadcasts into every micro-batch (≙ TableJoinProcessor's
                # per-event compiled probe, table_join_processor.rs:17-137)
                static = self.stream_df(sname).drop("__seq", "__ts")
                out = out.join(F.broadcast(static.alias(sname)), F.expr(cond), how)
                continue
            # STREAM partner: its own feed, a real micro-batch stream-stream
            # join (join_processor.rs's two live buffers ≙ Spark's symmetric
            # join state). INNER emits eagerly per match — no watermark
            # needed to flush. LEFT/RIGHT/FULL need an event-time bound (ON
            # ... WITHIN d) so Spark can expire join state and emit the
            # unmatched pads the reference's live outer joins produce
            # (join_processor.rs:104-112).
            within_ms = q.join_within.get(sname)
            if how != "inner":
                if within_ms is None:
                    raise ValueError(
                        "streaming outer stream-stream joins need an "
                        "event-time bound: JOIN ... ON cond WITHIN d"
                    )
                if len(q.joins) != 1:
                    raise ValueError(
                        "streaming outer stream-stream joins support a single join"
                    )
                out = self._join_outer_stream(
                    out, q, sel, how, sname, cond, within_ms, feeds, watermark
                )
                outer_projected = True
                continue
            partner = drop_sentinel(self._feed(feeds, sname)).drop("__seq")
            if within_ms is None:
                out = out.join(partner.drop("__ts").alias(sname), F.expr(cond), how)
                continue
            # keep the partner event time for the bound, under a name the
            # SELECT items can't collide with
            bound = F.abs(
                F.unix_micros("__ts") - F.unix_micros("__pts")
            ) <= F.lit(within_ms * 1000)
            partner = partner.withColumnRenamed("__ts", "__pts").alias(sname)
            out = out.join(partner, F.expr(cond) & bound, how).drop("__pts")
        if outer_projected:
            # an outer stream join already applied WHERE + the item
            # projection; its sentinels flow THROUGH the join (their
            # far-future pads advance a limiter's buckets and flush pending
            # state; the limiter never counts them)
            if q.output_rate is not None:
                out = output_rate_stream(out, *q.output_rate)
            return out.drop("__ts")
        if q.where:
            out = out.filter(F.expr(q.where))
        if q.output_rate is None:
            return out.selectExpr(*sel.items, "__seq")
        # OUTPUT rate limiting runs INSIDE the live pipeline (ratelimit/*.rs
        # at select_processor.rs:30-38) — a stateful counter / event-time
        # bucket operator, not a post-hoc batch filter
        out = out.selectExpr(*sel.items, "__seq", "__ts")
        if partners:
            # the INNER join dropped the sentinels pre-join, so the limiter
            # gets its flush event from a row-less feed unioned AFTER the
            # join, behind one empty file per data chunk
            out = out.unionByName(feeds.open(out.schema, lead_empty=feeds.n_chunks))
        return output_rate_stream(out, *q.output_rate).drop("__ts")

    def _join_outer_stream(
        self,
        out: DataFrame,
        q: QueryDef,
        sel: "_Select",
        how: str,
        sname: str,
        cond: str,
        within_ms: int,
        feeds: Feeds,
        watermark: str,
    ) -> DataFrame:
        """Streaming LEFT/RIGHT/FULL stream-stream join with an event-time
        bound (``ON cond WITHIN d``): both sides carry watermarks, the bound
        becomes the range condition Spark's symmetric join state needs to
        expire buffered rows, and unmatched rows surface as live null-pads
        once the watermark passes — the reference's outer-join emission
        (``join_processor.rs:104-112``, ``tests/app_runner_joins.rs:28-43``).

        Returns the FULLY projected stream (select items + ``__seq`` +
        ``__ts``, both coalesced across sides so pads keep an event time for
        a downstream rate limiter): the pad filter must run while the join
        aliases are still resolvable, so WHERE and the item projection
        happen here, not in the caller."""
        if within_ms >= 6 * 86_400_000:
            # feeds' sentinels sit a week apart, so the bound itself keeps
            # them from ever matching each other
            raise ValueError(
                "streaming outer-join WITHIN bounds must be under 6 days"
            )
        # the partner feed carries its own sentinel (pads flush only when
        # BOTH sides' watermarks pass the bound) with NON-NULL join-key
        # strings (feeds.OUTER_JOIN_KEY)
        pstream = self._feed(feeds, sname, OUTER_JOIN_KEY)
        main = out.withWatermark("__ts", watermark)
        partner = (
            pstream.withColumnRenamed("__seq", "__pseq")
            .withColumnRenamed("__ts", "__pts")
            .withWatermark("__pts", watermark)
            .alias(sname)
        )
        # the canonical range form Spark's state-cleanup analyzer
        # recognizes (plain interval arithmetic on the two event-time
        # columns — wrapping them in unix_micros would defeat detection)
        bound = F.expr(
            f"__pts >= __ts - INTERVAL {within_ms} MILLISECONDS AND "
            f"__pts <= __ts + INTERVAL {within_ms} MILLISECONDS"
        )
        # NO sentinel-exclusion conjuncts here and NO in-plan pad filter:
        # any deterministic single-side predicate gets pushed below that
        # side's watermark node, hiding the sentinel from watermark
        # tracking. Sentinel pads are dropped at the drain instead (after
        # the __seq coalesce below).
        j = main.join(partner, F.expr(cond) & bound, how)
        if q.where:
            # the guard keeps sentinel pads alive for a downstream rate
            # limiter's flush; it references BOTH sides' seq columns, so it
            # cannot be pushed below either watermark node
            j = j.filter(keep_sentinel(q.where, "__seq", "__pseq"))
        return j.selectExpr(
            *sel.items,
            "coalesce(__seq, __pseq) AS __seq",
            "coalesce(__ts, __pts) AS __ts",
        )

    # -- query compilation ----------------------------------------------------

    def _run_query(self, q: QueryDef, stack: frozenset) -> DataFrame:
        if q.pattern is not None:
            return self._run_pattern_query(q, stack)
        if q.output_rate is not None and q.output_rate[0] == "SNAPSHOT":
            return self._run_snapshot_query(q, stack)
        return self._run_select_query(q, stack)

    def _run_snapshot_query(self, q: QueryDef, stack: frozenset) -> DataFrame:
        """OUTPUT SNAPSHOT EVERY d (snapshot_output_rate.rs): every d ticks
        emit the FULL current aggregate state — restated on the app's event
        clock as per-tick cumulative aggregates (operators/output.py)."""
        from ..operators import output as OUT

        if not (q.group_by or any(_AGG_RE.search(e) for e, _ in q.select_items)):
            raise ValueError("OUTPUT SNAPSHOT requires an aggregating query")
        if q.window is not None and q.window.kind != "tumbling":
            raise ValueError(
                "OUTPUT SNAPSHOT supports non-windowed or tumbling-windowed "
                "aggregating queries"
            )
        df = self.stream_df(q.source, stack | {q.target})
        if q.where:
            df = df.filter(F.expr(q.where))
        keys = _Select(q).keys
        if q.window is not None:
            # SNAPSHOT over a tumbling window = the window bucket joins the
            # aggregation key (partials-over-buckets decomposition, VERDICT
            # r4 #5): at tick t the full per-(bucket, keys) state over
            # events with ts <= t emits — closed buckets show final values,
            # the open bucket its partial state
            df = df.withColumn("__wb", _tumbling_bucket(q))
            keys = ["__wb"] + keys
        aggs = [(e, a or e) for e, a in q.select_items if _AGG_RE.search(e)]
        interval_ms = q.output_rate[1]
        end = _EPOCH + datetime.timedelta(seconds=max(self._seq, 1))
        out = OUT.output_snapshot_agg(
            df, interval_ms, "__ts", keys, aggs, _EPOCH, end
        )
        sel = [F.col(a or e) for e, a in q.select_items]
        order = [F.col("tick")] + [F.col(k) for k in keys]
        return out.select(
            *sel,
            F.row_number().over(Window.orderBy(*order)).alias("__seq"),
            F.col("tick").cast("timestamp").alias("__ts"),
        )

    def _register(self, name: str, stack: frozenset) -> None:
        self.stream_df(name, stack).createOrReplaceTempView(name)

    def _run_select_query(self, q: QueryDef, stack: frozenset) -> DataFrame:
        self._register(q.source, stack)
        for _, s, _, _ in q.joins:
            self._register(s, stack)

        select = _Select(q)
        is_agg = select.is_agg
        pkey = q.partition_keys.get(q.source)  # PARTITION WITH key, if any

        src = q.source
        where = f" WHERE {q.where}" if q.where else ""
        win = None
        # named/shared window: FROM <window-stream> inherits its definition
        # (window_runtime.rs shared-buffer semantics — every reader sees the
        # same windowed contents)
        window = q.window
        sdef = self.streams.get(q.source)
        if window is None and sdef is not None and sdef.shared_window is not None:
            window = sdef.shared_window
        if window is not None:
            w = window
            if w.kind == "tumbling":
                win = f"window(__ts, '{w.params[0]} milliseconds')"
            elif w.kind == "sliding":
                win = (
                    f"window(__ts, '{w.params[0]} milliseconds',"
                    f" '{w.params[1]} milliseconds')"
                )
            elif w.kind == "session":
                win = f"session_window(__ts, '{w.params[0]} milliseconds')"
            elif w.kind == "externalTimeBatch":
                # externalTimeBatch(ts_attr, d) (reference window/mod.rs
                # externalTimeBatch): tumbling batches keyed on a DATA
                # timestamp column instead of arrival time
                attr, d = w.params[0], w.params[1]
                win = f"window(cast({attr} AS timestamp), '{d} milliseconds')"
            elif w.kind in ("time", "externalTime"):
                # time(d) sliding window (reference window/mod.rs time
                # window: events expire d after arrival). On the app's
                # deterministic logical clock the FINAL retained set — what
                # run()'s final-state drain sees, same contract as
                # WINDOW('length') — is every event within d of the LAST
                # arrival; a scalar-subquery max anchors the bound.
                # externalTime(ts_attr, d) is the same restatement on a
                # DATA timestamp column instead of arrival time
                attr, d_ms = (
                    ("__ts", w.params[0]) if w.kind == "time" else w.params[:2]
                )
                src = (
                    f"(SELECT * FROM {q.source}{where}"
                    + (" AND " if where else " WHERE ")
                    + f"unix_micros(cast({attr} AS timestamp_ltz)) > "
                    f"(SELECT max(unix_micros(cast({attr} AS timestamp_ltz)))"
                    f" FROM {q.source}{where}) - {d_ms * 1000})"
                )
                where = ""
            elif w.kind == "cron":
                # cron window (window/mod.rs:1742): the buffered batch emits
                # at every cron tick — batch restatement: each event belongs
                # to the NEXT tick of the schedule (sql/cron.py); events
                # after the final tick stay buffered (unemitted)
                ticks = [(t,) for t in _cron_ticks(str(w.params[0]), self._seq)]
                self.spark.createDataFrame(
                    ticks, "tick timestamp"
                ).createOrReplaceTempView("__cron_ticks")
                src = (
                    f"(SELECT *, (SELECT min(tick) FROM __cron_ticks"
                    f" WHERE tick >= __ts) AS __cron_bucket FROM {q.source})"
                )
                bucket_ok = "__cron_bucket IS NOT NULL"
                where = (
                    f" WHERE ({q.where}) AND {bucket_ok}"
                    if q.where
                    else f" WHERE {bucket_ok}"
                )
                win = "__cron_bucket"
            elif w.kind == "lengthBatch":
                # tumbling count window (window/mod.rs:645-963): consecutive
                # batches of N per arrival order (partial tail included),
                # aggregated per batch — row_number bucketing, one window
                # pass + hash agg
                n = w.params[0]
                part = f"PARTITION BY {pkey} " if pkey else ""
                src = (
                    f"(SELECT *, cast(floor((row_number() OVER ({part}ORDER BY"
                    f" __seq) - 1) / {n}) AS INT) AS __batch"
                    f" FROM {q.source}{where})"
                )
                where = ""
                win = "__batch"
            elif w.kind == "sort":
                # sort(N, 'attr [asc|desc]') — keep the N best events under
                # the comparator, evict the worst
                # (sort_window_processor.rs:25); final retained set == batch
                # top-K via row_number, __seq tiebreak keeps it deterministic
                n = w.params[0]
                attr, desc = _sort_key(w.params[1])
                direction = "DESC" if desc else "ASC"
                part = f"PARTITION BY {pkey} " if pkey else ""
                src = (
                    f"(SELECT * FROM (SELECT *, row_number() OVER ({part}"
                    f"ORDER BY {attr} {direction}, __seq) AS __rk"
                    f" FROM {q.source}{where}) WHERE __rk <= {n})"
                )
                where = ""
            elif w.kind == "length" and not is_agg:
                # passthrough length window → Current+Expired changelog
                # (app_runner_windows.rs:25-45 contract)
                return self._length_changelog(q, w.params[0])
            elif w.kind == "length":
                n = w.params[0]
                part = f"PARTITION BY {pkey} " if pkey else ""
                src = (
                    f"(SELECT * FROM (SELECT *, row_number() OVER ({part}ORDER BY"
                    f" __seq DESC) AS __rn FROM {q.source}{where}) WHERE __rn <= {n})"
                )
                where = ""
            else:
                # user window factory (functions/extensions.py ≙
                # eventflux_manager.rs:272-278 add_window_factory +
                # WindowProcessorFactory lookup): the factory transforms the
                # source stream into the window's retained contents
                from ..functions import extensions as ext

                factory = ext.get_window_factory(w.kind)
                if factory is None:
                    raise ValueError(
                        f"WINDOW('{w.kind}') unsupported in the SQL layer — "
                        "use the DataFrame operators (operators/windows.py) "
                        "or register an extension via add_window_factory"
                    )
                src_df = self.spark.table(q.source)
                if q.where:
                    # filter precedes the window, as in the reference chain
                    src_df = src_df.filter(F.expr(q.where))
                    where = ""
                wdf = factory(src_df, list(w.params), pkey)
                view = f"__extwin_{q.target.lower()}"
                wdf.createOrReplaceTempView(view)
                src = view
            if win is not None and not is_agg:
                raise ValueError("time windows require aggregation in SQL layer")
        # GROUP BY [window,] [keys,] [PARTITION key]: PARTITION WITH around
        # an aggregate = per-key aggregation (reference partition/mod.rs:9
        # per-key query instances; note: the reference's own partition_sum
        # test leaks state across keys — tests/app_runner_partitions.rs:64-71
        # asserts [1,3,6] — we implement the DOCUMENTED per-key isolation)
        group_cols = [c for c in (win, q.group_by) if c]
        if pkey and is_agg:
            group_cols.append(pkey)
        group = f" GROUP BY {', '.join(group_cols)}" if group_cols else ""

        carry_seq = not is_agg
        sel = ", ".join(select.items)
        if carry_seq:
            # emission seq follows the DRIVING side: right-unidirectional
            # joins emit on right arrivals (join_input_stream.rs:23-28)
            driver = q.source
            for _, s, _, trig in q.joins:
                if trig == "right":
                    driver = s
            seq_src = f"{driver}.__seq" if q.joins else "__seq"
            sel += f", {seq_src} AS __seq, "
            seq_ts = f"{driver}.__ts" if q.joins else "__ts"
            sel += f"{seq_ts} AS __ts"

        join_parts = []
        for how, s, cond, trig in q.joins:
            if s in q.join_within:
                # event-time bound (ON ... WITHIN d): identical predicate in
                # batch and streaming so the two modes stay row-identical
                us = q.join_within[s] * 1000
                cond = (
                    f"({cond}) AND abs(unix_micros({q.source}.__ts) - "
                    f"unix_micros({s}.__ts)) <= {us}"
                )
            if trig == "left":
                # only LEFT arrivals emit: the left event must arrive after
                # the right one was buffered
                cond = f"({cond}) AND {q.source}.__seq > {s}.__seq"
            elif trig == "right":
                cond = f"({cond}) AND {s}.__seq > {q.source}.__seq"
            join_parts.append(
                f" {how.upper().replace('_', ' ')} JOIN {s} ON {cond}"
            )
        join_sql = "".join(join_parts)
        sql = f"SELECT {sel} FROM {src}{join_sql}{where}{group}"
        if q.having:
            sql += f" HAVING {q.having}"
        if q.order_by:
            sql += f" ORDER BY {q.order_by}"
        if q.limit is not None:
            sql += f" LIMIT {q.limit}"
        if q.offset is not None:
            sql += f" OFFSET {q.offset}"
        out = self.spark.sql(sql)

        if not carry_seq:
            # aggregates get fresh emission seqs in deterministic group order
            out = out.withColumn(
                "__seq",
                F.row_number().over(Window.orderBy(*out.columns)) + F.lit(self._seq),
            ).withColumn("__ts", F.lit(_EPOCH).cast("timestamp"))
        elif q.order_by:
            # ORDER BY defines the emission order of the output chunk
            # (order_by_event_comparator.rs applied at select_processor.rs:531)
            order_cols = []
            for item in q.order_by.split(","):
                item = item.strip()
                if item.upper().endswith(" DESC"):
                    order_cols.append(F.expr(item[:-5].strip()).desc())
                else:
                    order_cols.append(F.expr(re.sub(r"\s+ASC$", "", item, flags=re.IGNORECASE)))
            out = out.drop("__seq").withColumn(
                "__seq", F.row_number().over(Window.orderBy(*order_cols))
            )
        if q.output_rate is not None:
            mode, value, unit = q.output_rate
            if unit == "EVENTS":
                out = out.withColumn(
                    "__rn", F.row_number().over(Window.orderBy("__seq"))
                )
                if mode == "ALL":
                    # complete n-blocks only; trailing partial block stays
                    # buffered (events_output_rate.rs ALL behavior)
                    total = out.withColumn(
                        "__n", F.count(F.lit(1)).over(Window.partitionBy())
                    )
                    out = total.filter(
                        F.col("__rn") <= F.floor(F.col("__n") / value) * value
                    ).drop("__rn", "__n")
                else:
                    # FIRST via 0-based position: EVERY 1 emits every event
                    keep = (
                        ((F.col("__rn") - 1) % value == 0)
                        if mode == "FIRST"
                        else (F.col("__rn") % value == 0)
                    )
                    out = out.filter(keep).drop("__rn")
            else:  # TIME (time_output_rate.rs): d-wide buckets of event time
                if mode != "ALL":
                    bucket = F.floor(
                        F.col("__ts").cast("timestamp_ltz").cast("double")
                        * 1000 / value
                    )
                    order = (
                        F.col("__seq").asc() if mode == "FIRST" else F.col("__seq").desc()
                    )
                    out = out.withColumn(
                        "__rn", F.row_number().over(Window.partitionBy(bucket).orderBy(order))
                    ).filter(F.col("__rn") == 1).drop("__rn")
                # ALL EVERY d TIME: every buffered event emits at the next
                # tick — batch restatement is a passthrough
        return out

    def _length_changelog(self, q: QueryDef, n: int) -> DataFrame:
        """WINDOW('length', N) passthrough: emit Current rows plus Expired
        eviction records, expired-before-current within an arrival."""
        from ..operators.windows import length_window_changelog

        df = self.stream_df(q.source)
        if q.where:
            df = df.filter(F.expr(q.where))
        pkey = q.partition_keys.get(q.source)
        out = length_window_changelog(
            df, n, order_cols=["__seq"], keys=[pkey] if pkey else None
        )
        return out.selectExpr(*_Select(q).items, "emit_seq AS __seq", "__ts")

    # -- pattern queries ---------------------------------------------------

    def _run_pattern_query(self, q: QueryDef, stack: frozenset) -> DataFrame:
        return self._lower_pattern(q, lambda s: self.stream_df(s, stack))

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
    """A query's SELECT list and GROUP BY, parsed once."""

    def __init__(self, q: QueryDef):
        self.keys = [g.strip() for g in (q.group_by or "").split(",") if g.strip()]
        self.agg_items = [(e, a) for e, a in q.select_items if _is_agg_expr(e)]
        self.is_agg = bool(q.group_by) or bool(self.agg_items)
        #: the SELECT items as SQL text, for ``selectExpr``
        self.items = [f"{e} AS {a}" if a else e for e, a in q.select_items]
        self.aggs = [F.expr(e).alias(a) if a else F.expr(e) for e, a in self.agg_items]
        #: the output columns of an aggregate, in SELECT order
        self.outs = [F.col(a or e) for e, a in q.select_items]


def _running_agg(stream: DataFrame, q: QueryDef, sel: _Select) -> DataFrame:
    """A non-windowed running aggregation over a live stream. No
    event-time operator follows one, so the sentinel drops first."""
    src = drop_sentinel(stream)
    if q.where:
        src = src.filter(F.expr(q.where))
    return src.groupBy(*sel.keys).agg(*sel.aggs).select(*sel.outs)


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


def _tumbling_bucket(q: QueryDef) -> Column:
    """Index of the tumbling window each event falls in (OUTPUT SNAPSHOT
    over a tumbling window keys its state by it)."""
    wms = int(q.window.params[0])
    return F.floor(
        F.col("__ts").cast("timestamp_ltz").cast("double") * 1000.0 / F.lit(float(wms))
    ).cast("bigint")


def _cron_ticks(expr: str, seq: int) -> list[datetime.datetime]:
    """A cron window's ticks over the app horizon (sql/cron.py)."""
    from .cron import Cron

    horizon = _EPOCH + datetime.timedelta(seconds=seq + 61)
    ticks = Cron(expr).ticks(_EPOCH, horizon)
    if not ticks:
        raise ValueError(f"cron {expr!r} fires nowhere in the app horizon")
    return ticks


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
