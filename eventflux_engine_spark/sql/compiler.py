"""EventFlux SQL dialect → engine plans.

Grammar subset (reference ``feat/grammar/GRAMMAR.md``; statement dispatch
``src/sql_compiler/application.rs:119-213``):

- ``CREATE STREAM Name (col TYPE, ...) [WITH ('k'='v', ...)]``
- ``CREATE TABLE Name (col TYPE, ...)`` (PRIMARY KEY clause tolerated)
- ``INSERT INTO Target SELECT ... FROM Src [WINDOW('type', args)]
  [[LEFT|RIGHT|FULL [OUTER]] JOIN Other ON cond] [WHERE ...] [GROUP BY ...]
  [HAVING ...] [ORDER BY ...] [LIMIT n [OFFSET m]]
  [OUTPUT FIRST|LAST EVERY n EVENTS]``
- ``INSERT INTO Target SELECT ... FROM PATTERN ([EVERY] e1=S1[cond]{m,n}
  -> e2=S2[cond] ... [WITHIN d unit])`` (``converter.rs:1751``)

Time literals ``<n> MILLISECONDS|SECONDS|MINUTES|HOURS|DAYS|WEEKS`` fold to
engine durations (``converter.rs:898-905``). Standard expressions pass
through verbatim to Spark SQL — Catalyst is the analyzer/optimizer, exactly
the "no hand-rolled expression interpreter" stance of SURVEY §4.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Optional

from ..operators.aggregations import parse_simple_agg

TYPE_MAP = {
    "VARCHAR": "string",
    "STRING": "string",
    "TEXT": "string",
    "INT": "int",
    "INTEGER": "int",
    "BIGINT": "bigint",
    "LONG": "bigint",
    "FLOAT": "float",
    "DOUBLE": "double",
    "BOOLEAN": "boolean",
    "BOOL": "boolean",
    "TIMESTAMP": "timestamp",
}

_UNIT_MS = {
    "MILLISECOND": 1,
    "SECOND": 1000,
    "MINUTE": 60_000,
    "HOUR": 3_600_000,
    "DAY": 86_400_000,
    "WEEK": 604_800_000,
}


def parse_time_ms(text: str) -> int:
    m = re.fullmatch(
        r"\s*(\d+)\s+(MILLISECOND|SECOND|MINUTE|HOUR|DAY|WEEK)S?\s*",
        text,
        re.IGNORECASE,
    )
    if not m:
        raise ValueError(f"bad time literal: {text!r}")
    return int(m.group(1)) * _UNIT_MS[m.group(2).upper()]


@dataclass
class StreamDef:
    name: str
    columns: list[tuple[str, str]]  # (name, spark type)
    options: dict[str, str] = field(default_factory=dict)
    is_table: bool = False
    #: trigger streams (CREATE TRIGGER ... AT ...): 'start' | every-ms int
    #: (reference trigger_definition.rs:9-17; SQL application.rs:213)
    trigger: Optional[object] = None
    #: named/shared window (CREATE WINDOW ... WINDOW('kind', params) —
    #: window_definition.rs / window_runtime.rs): queries reading FROM this
    #: stream inherit the window, sharing one buffer definition
    shared_window: Optional[object] = None


def parse_trigger(stmt: str) -> StreamDef:
    """``CREATE TRIGGER Name AT EVERY <time>`` / ``AT 'start'`` /
    ``AT CRON '<6-field cron>'`` (arbitrary crons via sql/cron.py, matching
    the reference's cron-crate scheduler — trigger_runtime.rs:47,
    tests/app_runner_triggers.rs:62)."""
    m = re.match(
        r"CREATE\s+TRIGGER\s+(\w+)\s+AT\s+(.*)$", stmt, re.IGNORECASE | re.DOTALL
    )
    if not m:
        raise ValueError(f"cannot parse trigger: {stmt[:60]}")
    name, spec = m.group(1), m.group(2).strip()
    if re.fullmatch(r"'start'", spec, re.IGNORECASE):
        trig: object = "start"
    elif spec.upper().startswith("EVERY"):
        trig = parse_time_ms(spec[5:])
    elif spec.upper().startswith("CRON"):
        cm = re.match(r"CRON\s+'([^']+)'", spec, re.IGNORECASE)
        if not cm:
            raise ValueError(f"bad cron trigger spec: {spec}")
        from .cron import Cron

        trig = ("cron", Cron(cm.group(1)))  # parse eagerly: bad crons fail at DDL
    else:
        raise ValueError(f"unsupported trigger spec: {spec}")
    return StreamDef(name, [("triggered_time", "timestamp")], trigger=trig)


@dataclass
class AggregationDef:
    """``CREATE AGGREGATION Name [WITH (...)] AS SELECT keys, FN(col) AS out,
    ... FROM Stream [GROUP BY keys] AGGREGATE EVERY SECONDS, MINUTES, ...``
    (GRAMMAR.md:739-745; runtime incremental_executor.rs:14)."""

    name: str
    source: str
    group_cols: list
    aggs: dict  # out name -> (fn, col)
    durations: list


def parse_aggregation(stmt: str) -> AggregationDef:
    m = re.match(
        r"CREATE\s+AGGREGATION\s+(\w+)\s*(?:WITH\s*\([^)]*\)\s*)?AS\s+"
        r"SELECT\s+(.*?)\s+FROM\s+(\w+)\s*(?:GROUP\s+BY\s+(.*?))?\s*"
        r"AGGREGATE\s+EVERY\s+(.*)$",
        stmt,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(f"cannot parse CREATE AGGREGATION: {stmt[:80]}")
    name, sel_text, source, group_text, dur_text = m.groups()
    group_cols = (
        [g.strip() for g in group_text.split(",") if g.strip()] if group_text else []
    )
    aggs = {}
    for item in _split_top(sel_text):
        item = item.strip()
        if item in group_cols:
            continue
        am = re.match(r"(.+?)\s+AS\s+(\w+)\s*$", item, re.IGNORECASE | re.DOTALL)
        expr, alias = (am.group(1), am.group(2)) if am else (item, None)
        p = parse_simple_agg(expr)
        if p is None or not re.fullmatch(r"\*|\w+", p.arg):
            raise ValueError(
                f"aggregation SELECT items must be keys or FN(col) [AS name]: {item!r}"
            )
        out = alias or f"{p.fn}_{p.arg}".replace("*", "all")
        aggs[out] = (p.fn, p.arg)
    durations = [d.strip().upper() for d in dur_text.split(",") if d.strip()]
    return AggregationDef(name, source, group_cols, aggs, durations)


@dataclass
class DmlDef:
    """Stream-driven table mutation (``application.rs:218-486``):

    - ``UPDATE <table> SET col = expr, ... FROM <stream> [AS a] WHERE cond``
      (``update_table_processor.rs``)
    - ``DELETE FROM <table> USING <stream> [AS a] WHERE cond``
      (``delete_table_processor.rs``)
    - ``UPSERT INTO <table> SELECT ... FROM <stream> [AS a] ON cond``
      (``upsert_table_processor.rs:14-19`` — match → update, miss → insert)
    """

    kind: str  # update | delete | upsert
    table: str
    source: str
    condition: str
    source_alias: Optional[str] = None
    set_items: list = field(default_factory=list)  # update: [(col, expr)]
    select_items: list = field(default_factory=list)  # upsert: [(expr, alias)]


def _parse_source_ref(text: str) -> tuple[str, Optional[str]]:
    m = re.fullmatch(r"(\w+)(?:\s+AS\s+(\w+)|\s+(\w+))?", text.strip(), re.IGNORECASE)
    if not m:
        raise ValueError(f"bad stream reference: {text!r}")
    return m.group(1), m.group(2) or m.group(3)


def parse_update(stmt: str) -> DmlDef:
    m = re.match(
        r"UPDATE\s+(\w+)\s+SET\s+(.*?)\s+FROM\s+(\w+(?:\s+(?:AS\s+)?\w+)?)\s+"
        r"WHERE\s+(.*)$",
        stmt,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(
            f"cannot parse UPDATE (needs SET ... FROM stream WHERE cond): {stmt[:80]}"
        )
    table, set_text, src_text, cond = m.groups()
    source, alias = _parse_source_ref(src_text)
    set_items = []
    for item in _split_top(set_text):
        am = re.match(r"([\w.]+)\s*=\s*(.+)$", item.strip(), re.DOTALL)
        if not am:
            raise ValueError(f"bad SET assignment: {item!r}")
        col = am.group(1).split(".")[-1]  # strip table qualifier
        set_items.append((col, am.group(2).strip()))
    return DmlDef("update", table, source, cond.strip(), alias, set_items=set_items)


def parse_delete(stmt: str) -> DmlDef:
    m = re.match(
        r"DELETE\s+FROM\s+(\w+)\s+USING\s+(\w+(?:\s+(?:AS\s+)?\w+)?)\s+WHERE\s+(.*)$",
        stmt,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(
            f"cannot parse DELETE (needs USING stream WHERE cond): {stmt[:80]}"
        )
    table, src_text, cond = m.groups()
    source, alias = _parse_source_ref(src_text)
    return DmlDef("delete", table, source, cond.strip(), alias)


def parse_upsert(stmt: str) -> DmlDef:
    m = re.match(
        r"UPSERT\s+INTO\s+(\w+)\s+SELECT\s+(.*?)\s+FROM\s+"
        r"(\w+(?:\s+(?:AS\s+)?\w+)?)\s+ON\s+(.*)$",
        stmt,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(
            f"cannot parse UPSERT (needs SELECT ... FROM stream ON cond): {stmt[:80]}"
        )
    table, sel_text, src_text, cond = m.groups()
    source, alias = _parse_source_ref(src_text)
    select_items = []
    for item in _split_top(sel_text):
        am = re.match(r"(.+?)\s+AS\s+(\w+)\s*$", item, re.IGNORECASE | re.DOTALL)
        if am:
            select_items.append((am.group(1).strip(), am.group(2)))
        else:
            select_items.append((item.strip(), None))
    return DmlDef(
        "upsert", table, source, cond.strip(), alias, select_items=select_items
    )


@dataclass
class WindowSpec:
    kind: str  # tumbling | sliding | session | length | lengthBatch | ...
    params: list

    def __post_init__(self):
        # reference spelling timeBatch(d) ≡ tumbling on arrival time
        # (time_batch_window_state_holder.rs); one normalization point so
        # every batch/streaming branch sees the canonical kind
        if self.kind == "timeBatch":
            self.kind = "tumbling"


@dataclass
class PatternStepDef:
    alias: str
    stream: str
    condition: Optional[str] = None
    min_count: int = 1
    max_count: int = 1


@dataclass
class PatternDef:
    steps: list[PatternStepDef]
    every: bool = False
    within_ms: Optional[int] = None
    #: trailing absent step ``-> NOT Stream[cond] FOR d``: (stream, cond,
    #: for_ms). Design-only in the reference (PATTERN_PROCESSING.md:34-38
    #: "NOT A FOR duration"); we execute it (cep/nfa.match_absent_block).
    absent: Optional[tuple] = None


@dataclass
class QueryDef:
    target: str
    select_items: list[tuple[str, Optional[str]]]  # (expr, alias)
    source: Optional[str] = None
    window: Optional[WindowSpec] = None
    #: (how, stream, cond, trigger) — trigger 'all'|'left'|'right'
    #: (unidirectional EventTrigger, join_input_stream.rs:23-28)
    joins: list[tuple[str, str, str, str]] = field(default_factory=list)
    #: stream → event-time bound ms from ``JOIN S ON cond WITHIN d``: the
    #: partner must arrive within d of the driving event. Gives streaming
    #: outer joins the state-expiry bound the reference's live pads need
    #: (join_processor.rs:104-112); the same bound applies in batch so the
    #: two modes stay row-identical.
    join_within: dict = field(default_factory=dict)
    where: Optional[str] = None
    group_by: Optional[str] = None
    having: Optional[str] = None
    order_by: Optional[str] = None
    limit: Optional[int] = None
    offset: Optional[int] = None
    #: (mode, value, unit): mode FIRST|LAST|ALL|SNAPSHOT; unit 'EVENTS'
    #: (value = n) or 'TIME' (value = interval ms). SNAPSHOT is TIME-only
    #: (ratelimit/*.rs:9-39, converter.rs:313-366).
    output_rate: Optional[tuple[str, int, str]] = None
    pattern: Optional[PatternDef] = None
    #: PARTITION WITH (col OF Stream, ...) — per-key isolated query
    #: instances (reference partition/parser.rs:14); stream name → key col
    partition_keys: dict = field(default_factory=dict)


def split_statements(sql: str) -> list[str]:
    out, depth, buf, in_str = [], 0, [], None
    for ch in sql:
        if in_str:
            buf.append(ch)
            if ch == in_str:
                in_str = None
            continue
        if ch in ("'", '"'):
            in_str = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == ";" and depth == 0:
            s = "".join(buf).strip()
            if s:
                out.append(s)
            buf = []
            continue
        buf.append(ch)
    s = "".join(buf).strip()
    if s:
        out.append(s)
    return out


def _split_top(text: str, sep: str = ",") -> list[str]:
    parts, depth, buf, in_str = [], 0, [], None
    for ch in text:
        if in_str:
            buf.append(ch)
            if ch == in_str:
                in_str = None
            continue
        if ch in ("'", '"'):
            in_str = ch
            buf.append(ch)
        elif ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == sep and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    tail = "".join(buf).strip()
    if tail:
        parts.append(tail)
    return parts


def parse_create(stmt: str) -> StreamDef:
    # CREATE WINDOW Name (cols) WINDOW('kind', params)
    # (window_definition.rs; shared across queries per window_runtime.rs)
    wm = re.match(
        r"CREATE\s+WINDOW\s+(\w+)\s*\((.*)\)\s*WINDOW\s*\(\s*'(\w+)'\s*"
        r"(?:,([^)]*))?\)\s*$",
        stmt,
        re.IGNORECASE | re.DOTALL,
    )
    if wm:
        name, cols_text, wkind, wparams_text = wm.groups()
        sd = _parse_columns(name, cols_text)
        params = []
        for p in _split_top(wparams_text) if wparams_text else []:
            p = p.strip()
            params.append(int(p) if re.fullmatch(r"\d+", p) else parse_time_ms(p))
        sd.shared_window = WindowSpec(wkind, params)
        return sd
    m = re.match(
        r"CREATE\s+(STREAM|TABLE)\s+(\w+)\s*\((.*?)\)\s*(WITH\s*\((.*)\))?\s*$",
        stmt,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(f"cannot parse: {stmt[:80]}")
    kind, name, cols_text, _, with_text = m.groups()
    sd = _parse_columns(name, cols_text)
    if with_text:
        for kv in _split_top(with_text):
            km = re.match(r"\s*'([^']+)'\s*=\s*'([^']*)'\s*", kv)
            if km:
                sd.options[km.group(1)] = km.group(2)
    sd.is_table = kind.upper() == "TABLE"
    if sd.options.get("backend") == "cache" and "max_size" not in sd.options:
        # cache_table.rs:238 rejects a missing max_size explicitly; a silent
        # default of 0 would yield a permanently empty table
        raise ValueError(
            f"table {name}: backend 'cache' requires the max_size property"
        )
    return sd


def _parse_columns(name: str, cols_text: str) -> StreamDef:
    cols = []
    for item in _split_top(cols_text):
        if item.upper().startswith("PRIMARY KEY"):
            continue
        cm = re.match(r"(\w+)\s+(\w+)", item.strip())
        cname, ctype = cm.group(1), cm.group(2).upper()
        if ctype not in TYPE_MAP:
            raise ValueError(f"unsupported type {ctype} in column list of {name}")
        cols.append((cname, TYPE_MAP[ctype]))
    return StreamDef(name, cols)


_CLAUSE_RE = re.compile(
    r"\b(FROM|WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|OFFSET|OUTPUT)\b",
    re.IGNORECASE,
)


def _extract_clauses(query_text: str) -> dict[str, str]:
    """Split a SELECT body into clauses at top parenthesis depth."""
    # mask parenthesized regions so clause keywords inside them don't split
    masked = []
    depth = 0
    in_str = None
    for ch in query_text:
        if in_str:
            masked.append("\x00")
            if ch == in_str:
                in_str = None
            continue
        if ch in ("'", '"'):
            in_str = ch
            masked.append("\x00")
        elif ch == "(":
            depth += 1
            masked.append("(")
        elif ch == ")":
            depth -= 1
            masked.append(")")
        else:
            masked.append(ch if depth == 0 else "\x00")
    masked = "".join(masked)

    positions = [(m.start(), m.group(1).upper().replace(" ", "_").replace("__", "_"))
                 for m in _CLAUSE_RE.finditer(masked)]
    positions = [(p, re.sub(r"\s+", "_", k)) for p, k in positions]
    clauses: dict[str, str] = {}
    bounds = positions + [(len(query_text), None)]
    sel_end = positions[0][0] if positions else len(query_text)
    clauses["SELECT"] = query_text[len("SELECT"):sel_end].strip() if query_text.upper().startswith("SELECT") else ""
    for (start, kw), (end, _) in zip(positions, bounds[1:]):
        body = query_text[start:end]
        body = re.sub(r"^\s*" + kw.replace("_", r"\s+"), "", body, flags=re.IGNORECASE).strip()
        clauses[kw] = body
    return clauses


def parse_insert(stmt: str) -> QueryDef:
    m = re.match(r"INSERT\s+INTO\s+(\w+)\s+(SELECT\b.*)$", stmt, re.IGNORECASE | re.DOTALL)
    if not m:
        raise ValueError(f"cannot parse insert: {stmt[:80]}")
    target, rest = m.group(1), m.group(2).strip()
    clauses = _extract_clauses(rest)

    select_items = []
    for item in _split_top(clauses["SELECT"]):
        am = re.match(r"(.+?)\s+AS\s+(\w+)\s*$", item, re.IGNORECASE | re.DOTALL)
        if am:
            select_items.append((am.group(1).strip(), am.group(2)))
        else:
            select_items.append((item.strip(), None))

    q = QueryDef(target=target, select_items=select_items)
    frm = clauses.get("FROM", "")

    pm = re.match(r"PATTERN\s*\((.*)\)\s*$", frm, re.IGNORECASE | re.DOTALL)
    if pm:
        q.pattern = _parse_pattern(pm.group(1))
    else:
        q.source, q.window, q.joins, q.join_within = _parse_from(frm)

    q.where = clauses.get("WHERE")
    q.group_by = clauses.get("GROUP_BY")
    q.having = clauses.get("HAVING")
    q.order_by = clauses.get("ORDER_BY")
    if "LIMIT" in clauses:
        lm = re.match(r"(\d+)(?:\s+OFFSET\s+(\d+))?", clauses["LIMIT"], re.IGNORECASE)
        q.limit = int(lm.group(1))
        if lm.group(2):
            q.offset = int(lm.group(2))
    if "OFFSET" in clauses:
        q.offset = int(re.match(r"(\d+)", clauses["OFFSET"]).group(1))
    if "OUTPUT" in clauses:
        q.output_rate = _parse_output_rate(clauses["OUTPUT"])
    return q


def _parse_output_rate(text: str) -> tuple[str, int, str]:
    """``[ALL|FIRST|LAST] EVERY n EVENTS`` | ``[ALL|FIRST|LAST] EVERY d
    <time unit>`` | ``SNAPSHOT EVERY d <time unit>``
    (converter.rs:313-412; SNAPSHOT+EVENTS is rejected like the reference
    parser, tests/output_rate_limit_comprehensive.rs:707)."""
    text = text.strip()
    m = re.fullmatch(
        r"(ALL|FIRST|LAST|SNAPSHOT)?\s*EVERY\s+(\d+)\s+(\w+)", text, re.IGNORECASE
    )
    if not m:
        raise ValueError(f"unsupported OUTPUT clause: {text!r}")
    mode = (m.group(1) or "ALL").upper()
    value, unit = int(m.group(2)), m.group(3).upper()
    if unit in ("EVENT", "EVENTS"):
        if mode == "SNAPSHOT":
            raise ValueError("OUTPUT SNAPSHOT requires a time unit, not EVENTS")
        return (mode, value, "EVENTS")
    interval_ms = parse_time_ms(f"{value} {unit}")
    return (mode, interval_ms, "TIME")


def _parse_from(frm: str):
    """FROM <stream> [UNIDIRECTIONAL] [WINDOW(...)]
    [joins: [LEFT|RIGHT|FULL] JOIN S [UNIDIRECTIONAL] ON cond ...]

    UNIDIRECTIONAL marks the side whose arrivals trigger emission
    (≙ EventTrigger::{Left,Right}, join_input_stream.rs:23-28); without it
    both sides trigger (All)."""
    joins = []
    # left-side UNIDIRECTIONAL: "FROM S UNIDIRECTIONAL JOIN ..."
    left_uni = bool(
        re.search(r"^\s*\w+\s+UNIDIRECTIONAL\b", frm, re.IGNORECASE)
    )
    frm = re.sub(
        r"^(\s*\w+)\s+UNIDIRECTIONAL\b", r"\1", frm, flags=re.IGNORECASE
    )
    join_re = re.compile(
        r"\b(?:(LEFT|RIGHT|FULL)\s+)?(?:OUTER\s+)?JOIN\s+(\w+)"
        r"(\s+UNIDIRECTIONAL)?\s+ON\s+",
        re.IGNORECASE,
    )
    matches = list(join_re.finditer(frm))
    head = frm[: matches[0].start()] if matches else frm

    wm = re.search(r"WINDOW\s*\(\s*'(\w+)'\s*(?:,([^)]*))?\)", head, re.IGNORECASE)
    window = None
    if wm:
        kind = wm.group(1)
        raw_params = _split_top(wm.group(2)) if wm.group(2) else []
        params = []
        for p in raw_params:
            p = p.strip()
            if re.fullmatch(r"'[^']*'", p):
                params.append(p.strip("'"))  # e.g. cron expressions
            elif re.fullmatch(r"\d+", p):
                params.append(int(p))
            else:
                params.append(parse_time_ms(p))
        window = WindowSpec(kind, params)
        head = head[: wm.start()] + head[wm.end():]
    source = head.strip().split()[0]

    within: dict[str, int] = {}
    for i, jm in enumerate(matches):
        how = (jm.group(1) or "inner").lower()
        if how == "full":
            how = "full_outer"
        stream = jm.group(2)
        right_uni = bool(jm.group(3))
        if left_uni and right_uni:
            raise ValueError("UNIDIRECTIONAL can mark only one join side")
        trigger = "left" if left_uni else ("right" if right_uni else "all")
        cond_end = matches[i + 1].start() if i + 1 < len(matches) else len(frm)
        cond = frm[jm.end(): cond_end].strip()
        # optional trailing event-time bound: ON cond WITHIN 5 sec
        bm = re.search(r"\s+WITHIN\s+(\S+(?:\s+\w+)?)\s*$", cond, re.IGNORECASE)
        if bm:
            within[stream] = parse_time_ms(bm.group(1))
            cond = cond[: bm.start()].strip()
        joins.append((how, stream, cond, trigger))
    return source, window, joins, within


def _strip_outer_parens(text: str) -> str:
    text = text.strip()
    while text.startswith("(") and text.endswith(")"):
        depth = 0
        for i, ch in enumerate(text):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0 and i != len(text) - 1:
                    return text  # outer parens don't wrap the whole body
        text = text[1:-1].strip()
    return text


def _parse_pattern(body: str) -> PatternDef:
    body = body.strip()
    every = False
    if re.match(r"EVERY\b", body, re.IGNORECASE):
        every = True
        body = re.sub(r"^EVERY\s*", "", body, flags=re.IGNORECASE)

    within_ms = None
    wm = re.search(r"\bWITHIN\s+(.+)$", body, re.IGNORECASE)
    if wm:
        within_ms = parse_time_ms(wm.group(1))
        body = body[: wm.start()].strip()
    body = _strip_outer_parens(body)

    parts = [p.strip() for p in re.split(r"->", body)]
    absent = None
    am = re.match(
        r"NOT\s+(\w+)\s*(\[(.*)\])?\s+FOR\s+(.+)$", parts[-1],
        re.IGNORECASE | re.DOTALL,
    )
    if am:
        # trailing absence: NOT Stream[cond] FOR d (reference design
        # spelling, PATTERN_PROCESSING.md:36)
        absent = (am.group(1), am.group(3), parse_time_ms(am.group(4)))
        parts = parts[:-1]
        if not parts:
            raise ValueError("absent pattern needs a trigger step before NOT")

    steps = []
    for part in parts:
        sm = re.match(
            r"(\w+)\s*=\s*(\w+)\s*(\[(.*)\])?\s*(\{\s*(\d+)\s*(?:,\s*(\d+))?\s*\})?\s*$",
            part,
            re.DOTALL,
        )
        if not sm:
            raise ValueError(f"cannot parse pattern step: {part!r}")
        alias, stream, _, cond, _, mn, mx = sm.groups()
        min_c = int(mn) if mn else 1
        max_c = int(mx) if mx else (int(mn) if mn else 1)
        steps.append(PatternStepDef(alias, stream, cond, min_c, max_c))
    return PatternDef(steps, every=every, within_ms=within_ms, absent=absent)
