"""Aggregation operators.

Reference aggregator registry (add/remove/reset incremental accumulators):
``/root/reference/src/core/query/selector/attribute/aggregator/mod.rs``
(registry names at ``:1885-2060``). Spark's hash aggregate does partial
(map-side) + final aggregation automatically — the declarative mapping below
keeps everything inside whole-stage codegen.

Also provides the salted two-phase aggregation used to break hot-key skew
(SURVEY.md §7.1 ``skew.py`` role): at 10^12-turn scale a handful of hot
conversations would otherwise pin single reducers.

And the one rule for the decomposable aggregates (count/sum/avg/min/max
as partials, how partials merge, each final, the SQL NULL rule in Catalyst
and pandas) with the one parser of an ``fn(arg)`` call: every two-phase
batch plan and every live operator that aggregates reads it.
"""

from __future__ import annotations

import re
from typing import NamedTuple

import numpy as np
import pandas as pd
from pandas.api.typing import Rolling
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "AGGREGATORS",
    "make_agg",
    "group_agg",
    "salted_group_agg",
    "DECOMPOSABLE",
    "MERGE",
    "CATALYST",
    "SimpleAgg",
    "parse_simple_agg",
    "pandas_partial",
    "group_partials",
]


def _count_all(col: Column) -> Column:
    return F.count(F.lit(1))


#: EventFlux aggregator name → Column builder (``aggregator/mod.rs``):
#: sum:172 avg:557 count:813 distinctCount:1117 min/max:1396
#: minForever/maxForever:1981,1999 stdDev:1536 first:1660 last:1768.
#: minForever/maxForever never retract — over a bounded batch they equal
#: min/max over all history, which is what the batch column computes; the
#: streaming engine realizes them as running aggregates in update mode.
AGGREGATORS: dict[str, callable] = {
    "sum": F.sum,
    "avg": F.avg,
    "count": _count_all,
    "countCol": F.count,
    "distinctCount": F.count_distinct,
    "approxDistinctCount": F.approx_count_distinct,
    "min": F.min,
    "max": F.max,
    "minForever": F.min,
    "maxForever": F.max,
    "stdDev": F.stddev_pop,
    "first": F.first,
    "last": F.last,
}


# -- decomposable aggregates: one rule for batch and live --------------------

#: count/sum/avg/min/max as partials (SURVEY.md §2.4): fn -> (the partial
#: kinds it needs, its final over the merged partials). The final takes
#: Catalyst Columns and pandas Series alike. Every two-phase plan (SNAPSHOT,
#: the AGGREGATE EVERY cascade) and every live operator that aggregates in
#: pandas (SNAPSHOT, the count windows) reads this table.
DECOMPOSABLE = {
    "count": (("count",), lambda n: n),
    "sum": (("sum",), lambda s: s),
    "avg": (("sum", "count"), lambda s, n: s / n),
    "min": (("min",), lambda m: m),
    "max": (("max",), lambda m: m),
}

#: how partials of one kind merge: counts add up
MERGE = {"count": "sum", "sum": "sum", "min": "min", "max": "max"}

#: the partial kinds in Catalyst, under SQL's NULL rule: NULLs are skipped,
#: and no values give a NULL sum/min/max and a 0 count
CATALYST = {"count": F.count, "sum": F.sum, "min": F.min, "max": F.max}


def pandas_partial(kind: str, g) -> pd.Series:
    """The partial ``kind`` in pandas, under the same NULL rule, over a
    grouped column or a ``rolling(n, min_periods=1)`` window (whose
    ``min_periods`` already makes an all-NULL sum NULL)."""
    if kind == "sum" and not isinstance(g, Rolling):
        return g.sum(min_count=1)
    if kind in ("min", "max") and isinstance(g, Rolling):
        return _rolling_extreme(kind, g)
    return getattr(g, kind)()


def _rolling_extreme(kind: str, win: Rolling) -> pd.Series:
    """Rolling MIN/MAX of any ordered values: roll the values' sorted
    factor codes, NULL as NaN, and map the codes back, so strings, bools
    and timestamps roll too, the values keep their type, and a window of
    only NULLs gives NULL."""
    codes, uniques = pd.factorize(win.obj, sort=True)
    coded = pd.Series(np.where(codes < 0, np.nan, codes), index=win.obj.index)
    rolled = getattr(coded.rolling(win.window, min_periods=win.min_periods), kind)()
    out = pd.Series(uniques).reindex(rolled.fillna(-1).to_numpy(dtype=np.int64))
    return out.set_axis(rolled.index)


def group_partials(
    df: pd.DataFrame, keys: list[str], cols: dict[str, tuple[str, str]]
) -> pd.DataFrame:
    """One row per group of ``keys`` (a NULL key is a group; no keys make
    one group) holding ``keys`` and, for each ``name: (kind, src)`` of
    ``cols``, the partial ``kind`` of column ``src`` as column ``name``."""
    g = df.groupby(keys or np.zeros(len(df), "int8"), sort=False, dropna=False)
    out = pd.DataFrame({n: pandas_partial(k, g[src]) for n, (k, src) in cols.items()})
    return out.reset_index(drop=not keys)


class SimpleAgg(NamedTuple):
    """One decomposable aggregate call ``fn(arg)``: ``fn`` is a key of
    :data:`DECOMPOSABLE`, ``arg`` a SQL expression or ``*``."""

    fn: str
    arg: str

    def partials(self, i: int) -> list[tuple[str, str]]:
        """The partial columns of the ``i``-th aggregate: (name, kind)."""
        return [(f"__p{i}_{k}", k) for k in DECOMPOSABLE[self.fn][0]]

    def final(self, i: int, merged):
        """The ``i``-th aggregate from its partials, each given by
        ``merged(name, kind)`` as a Column or a Series."""
        return DECOMPOSABLE[self.fn][1](*(merged(n, k) for n, k in self.partials(i)))

    def column(self) -> Column:
        """The argument in Catalyst (COUNT(*) counts a literal)."""
        return F.lit(1) if self.arg == "*" else F.expr(self.arg)

    def result_type(self, df: DataFrame) -> T.DataType:
        """The type the two-phase plan gives this aggregate over ``df``
        (analysis only, no job)."""
        col = self.column()
        return df.agg(self.final(0, lambda _n, k: CATALYST[k](col))).schema[0].dataType


_SIMPLE_AGG_RE = re.compile(r"^\s*(count|sum|avg|min|max)\s*\(", re.IGNORECASE)


def parse_simple_agg(expr: str) -> SimpleAgg | None:
    """Parse a single decomposable aggregate call ``fn(arg)`` (fn in
    count/sum/avg/min/max, no DISTINCT, nothing past the closing paren).
    None when the expression is not one."""
    m = _SIMPLE_AGG_RE.match(expr)
    if not m:
        return None
    body = expr[m.end():].rstrip()
    if not body.endswith(")"):
        return None
    inner = body[:-1]
    depth = 1
    for ch in inner:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:  # the call closes early: e.g. "sum(x)/count(*)"
                return None
    if re.match(r"^\s*distinct\b", inner, re.IGNORECASE):
        return None
    return SimpleAgg(m.group(1).lower(), inner.strip())


def make_agg(fn_name: str, col: str, alias: str) -> Column:
    return AGGREGATORS[fn_name](F.col(col)).alias(alias)


def group_agg(
    df: DataFrame,
    keys: list[str],
    aggs: list[Column],
    having: Column | None = None,
) -> DataFrame:
    """GROUP BY + optional HAVING.

    ≙ reference SelectProcessor group-by path
    (``select_processor.rs:339-340,449-487``) + HAVING (``:473-505``).
    WHERE-before-agg vs HAVING-after-agg placement is Catalyst's job
    (PushDownPredicate) — callers just filter before/after.
    """
    out = df.groupBy(*keys).agg(*aggs)
    if having is not None:
        out = out.filter(having)
    return out


def salted_group_agg(
    df: DataFrame,
    keys: list[str],
    sum_cols: dict[str, str],
    count_alias: str | None = None,
    salt_buckets: int = 16,
    salt_source: str | None = None,
) -> DataFrame:
    """Two-phase (salted) aggregation for skewed keys.

    Phase 1 aggregates on ``keys + salt`` (spreads a hot key over
    ``salt_buckets`` reducers), phase 2 re-aggregates partials on ``keys``.
    Algebraic aggregates only (sum/count here; avg = sum/count at call site).
    Salt is derived from a deterministic column when given (stable plans for
    tests), else a hash of a uniform-ish column.

    Reference contrast: the reference's PARTITION construct isolates per-key
    state but has no skew remedy (SURVEY.md §4 "Partitioning / shuffle").
    """
    salt_col = (
        F.pmod(F.hash(F.col(salt_source)), F.lit(salt_buckets))
        if salt_source
        else F.floor(F.rand(seed=42) * salt_buckets)
    ).alias("_salt")

    partial_aggs = [F.sum(F.col(c)).alias(f"_p_{a}") for a, c in sum_cols.items()]
    if count_alias:
        partial_aggs.append(F.count(F.lit(1)).alias("_p_cnt"))

    partial = df.select(*df.columns, salt_col).groupBy(*keys, "_salt").agg(*partial_aggs)

    final_aggs = [F.sum(F.col(f"_p_{a}")).alias(a) for a in sum_cols]
    if count_alias:
        final_aggs.append(F.sum("_p_cnt").alias(count_alias))
    return partial.groupBy(*keys).agg(*final_aggs)
