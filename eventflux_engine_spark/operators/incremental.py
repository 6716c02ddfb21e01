"""Incremental multi-resolution aggregation (``AGGREGATE EVERY sec..year``).

≙ reference ``src/core/aggregation/incremental_executor.rs:14-48`` (chained
per-duration executors, each coarser level fed by the finer one) and the
query surface ``eventflux_app_runtime.rs:982`` ``query_aggregation(within,
per)``. The reference runtime ignores ``within`` (aggregation_runtime.rs:61
"the within clause is ignored") — this implementation EXCEEDS it: WITHIN is
a real bucket-range filter and PER picks the granularity level.

Spark-first design: each level is a DataFrame holding ALGEBRAIC PARTIALS
(sum, count, min, max — avg is derived as sum/count at query time), so every
coarser level re-aggregates the previous level, never the raw data:

    raw --groupBy(keys, date_trunc(finest))--> L0 --groupBy--> L1 --> ...

At 10^12 rows only L0 touches the input (one shuffle, map-side partials);
every other level aggregates the already-tiny bucket table. ``date_trunc``
handles calendar units (months/years) exactly like DuckDB's, keeping the
oracle comparable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .aggregations import CATALYST, DECOMPOSABLE, MERGE, SimpleAgg

#: supported cascade units, finest → coarsest (time_period.rs:8-16)
DURATIONS = ["SECONDS", "MINUTES", "HOURS", "DAYS", "MONTHS", "YEARS"]

_TRUNC_UNIT = {
    "SECONDS": "second",
    "MINUTES": "minute",
    "HOURS": "hour",
    "DAYS": "day",
    "MONTHS": "month",
    "YEARS": "year",
}


class IncrementalAggregation:
    """Cascade of per-duration rollup DataFrames with a WITHIN/PER query API.

    ``aggs`` maps output name -> (fn, column) with fn in
    sum|count|min|max|avg. ``durations`` must be a subset of DURATIONS in
    ascending order; the finest level aggregates the raw input, coarser
    levels re-aggregate partials.
    """

    def __init__(
        self,
        df: DataFrame,
        ts_col: str,
        group_cols: list[str],
        aggs: dict[str, tuple[str, str]],
        durations: list[str],
    ):
        durations = [d.upper() for d in durations]
        for d in durations:
            if d not in DURATIONS:
                raise ValueError(f"unsupported duration {d}; use {DURATIONS}")
        if durations != sorted(durations, key=DURATIONS.index):
            raise ValueError("durations must be ordered finest to coarsest")
        self.ts_col = ts_col
        self.group_cols = list(group_cols)
        self.aggs = dict(aggs)
        self.durations = durations

        # each aggregate's partial columns come from the one table (avg →
        # sum + count)
        self._specs: dict[str, SimpleAgg] = {}
        for out, (fn, col) in self.aggs.items():
            if fn.lower() not in DECOMPOSABLE:
                raise ValueError(f"unsupported aggregation fn {fn}")
            self._specs[out] = SimpleAgg(fn.lower(), col)
        partials = [
            (n, k, a)
            for i, a in enumerate(self._specs.values())
            for n, k in a.partials(i)
        ]

        # finest level: one shuffle over raw data, map-side partial agg
        finest = durations[0]
        exprs = [CATALYST[k](a.column()).alias(n) for n, k, a in partials]
        bucket = F.date_trunc(_TRUNC_UNIT[finest], F.col(ts_col)).alias("bucket_start")
        levels = {
            finest: df.groupBy(*self.group_cols, bucket).agg(*exprs)
        }
        # coarser levels: re-aggregate the previous level's partials
        prev = finest
        for d in durations[1:]:
            merge_exprs = [CATALYST[MERGE[k]](n).alias(n) for n, k, _a in partials]
            b = F.date_trunc(_TRUNC_UNIT[d], F.col("bucket_start")).alias(
                "bucket_start"
            )
            levels[d] = levels[prev].groupBy(*self.group_cols, b).agg(*merge_exprs)
            prev = d
        self.levels = levels

    def query(
        self,
        per: str,
        within: "tuple | None" = None,
    ) -> DataFrame:
        """``FROM agg WITHIN t1, t2 PER '<duration>'``: rows of the ``per``
        level whose bucket_start falls in [t1, t2)."""
        per = per.upper().rstrip("'\"")
        if per not in self.levels:
            raise ValueError(
                f"PER {per!r} not materialized; levels: {self.durations}"
            )
        out = self.levels[per]
        if within is not None:
            t1, t2 = within
            out = out.filter(
                (F.col("bucket_start") >= F.lit(t1))
                & (F.col("bucket_start") < F.lit(t2))
            )
        final = [
            a.final(i, lambda n, _k: F.col(n)).alias(name)
            for i, (name, a) in enumerate(self._specs.items())
        ]
        return out.select(*self.group_cols, "bucket_start", *final)
