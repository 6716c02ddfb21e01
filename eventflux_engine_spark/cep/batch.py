"""Batch executor for pattern specs.

One shuffle on ``key_col``. Linear EVERY patterns and absent patterns run
Arrow-native ``searchsorted`` kernels over whole-key blocks of each sorted
partition (``mapInArrow``); other specs replay each key's events in
``(ts, turn_idx)`` order through the shared transition core (grouped
pandas). At 100 TB the shuffle is the cost —
it's the same hash partitioning the windowed aggregations use, so co-grouped
stages reuse the exchange; hot-key caps are handled upstream (skew doc in
BENCH/BASELINE.md).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .blocks import map_key_blocks
from .nfa import match_absent_block, match_linear_block, run_nfa
from .spec import PatternSpec


def match_absent_batch(
    df: DataFrame,
    trigger_flag: str,
    absent_flag: str,
    duration,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    order_cols: tuple[str, ...] = ("ts", "turn_idx"),
    emit_cols: tuple[str, ...] = ("turn_idx",),
    input_sorted: bool = False,
) -> DataFrame:
    """Absent pattern over a bounded DataFrame: each ``trigger_flag`` event
    with no ``absent_flag`` event of its key within ``duration`` after it.

    ≙ reference ``NOT A FOR d`` (design-only there —
    ``PATTERN_PROCESSING.md:34-38``; we implement it). Same physical shape
    as the linear matcher: one exchange (or none under the bucketed-input
    contract) + vectorized per-partition probes.
    """
    duration_ns = int(pd.Timedelta(duration).value)
    by_name = {f.name: f.dataType for f in df.schema.fields}
    fields = [T.StructField("conv_id", by_name[key_col])]
    fields += [T.StructField(c, by_name[c]) for c in emit_cols]
    fields.append(T.StructField("ts", by_name[ts_col]))
    schema = T.StructType(fields)

    needed = sorted({key_col, ts_col, trigger_flag, absent_flag, *order_cols, *emit_cols})
    pruned = df.select(*needed)
    if not input_sorted:
        pruned = pruned.repartition(key_col).sortWithinPartitions(key_col, *order_cols)

    return map_key_blocks(
        pruned, key_col,
        lambda block: match_absent_block(
            block, key_col, ts_col, trigger_flag, absent_flag, duration_ns, emit_cols
        ),
        schema,
    )


def output_schema(spec: PatternSpec, input_schema: T.StructType) -> T.StructType:
    by_name = {f.name: f.dataType for f in input_schema.fields}
    fields = [T.StructField("conv_id", by_name.get(spec.key_col, T.StringType()))]
    for s in spec.steps:
        fields.append(T.StructField(f"{s.name}_turn_idx", by_name.get("turn_idx", T.IntegerType())))
        fields.append(T.StructField(f"{s.name}_ts", by_name.get(spec.ts_col, T.TimestampType())))
        if s.max_count > 1:
            fields.append(T.StructField(f"{s.name}_count", T.IntegerType()))
        for c in s.emit:
            fields.append(T.StructField(f"{s.name}_{c}", by_name[c]))
        for fn, c in s.agg_emit:
            if fn == "count":
                t = T.IntegerType()
            elif fn == "avg":
                t = T.DoubleType()
            elif fn == "sum":
                t = (
                    T.LongType()
                    if isinstance(by_name[c], (T.IntegerType, T.LongType, T.ShortType))
                    else T.DoubleType()
                )
            else:
                t = by_name[c]
            fields.append(T.StructField(f"{s.name}_{fn}_{c}", t))
        for idx, c in s.index_emit:
            fields.append(T.StructField(f"{s.name}_at{idx}_{c}", by_name[c]))
    return T.StructType(fields)


def _pruned(df: DataFrame, spec: PatternSpec) -> DataFrame:
    needed = {spec.key_col, "turn_idx", spec.ts_col}
    needed.update(s.flag_col for s in spec.steps)
    needed.update(s.flag_col2 for s in spec.steps if s.flag_col2)
    for s in spec.steps:
        needed.update(s.emit)
        needed.update(c for _, c in s.agg_emit)
        needed.update(c for _, c in s.index_emit)
    needed.update(spec.order_cols)
    return df.select(*sorted(needed))  # column pruning before the shuffle


def match_pattern_batch(
    df: DataFrame, spec: PatternSpec, input_sorted: bool = False
) -> DataFrame:
    """Run the pattern over a bounded DataFrame.

    Input must already carry the boolean ``flag_col`` per step (evaluate
    predicates as Catalyst expressions first — only the inherently
    sequential NFA runs in pandas).

    Physical strategy:
    - **linear specs** (no quantifiers/cross-preds, EVERY): one
      ``repartition(key)`` + in-partition sort, then one numpy pass
      (``match_linear_block``) per whole-key block of the partition via
      ``mapInArrow`` — no per-group or pandas overhead, throughput is
      bounded by the exchange. ``blocks.iter_key_blocks`` rejoins a
      conversation that Arrow split across record batches.
    - **general specs**: per-key ``applyInPandas`` through the sequential
      transition core.

    ``input_sorted=True`` declares the bucketed-storage contract: the input
    is already partitioned by ``key_col`` with key integrity (every key's
    rows inside one partition — e.g. an Iceberg ``bucket(conv_id)`` table)
    and sorted by ``(key, order_cols)`` within partitions. The exchange and
    sort are skipped entirely — the zero-shuffle plan a 100 TB deployment
    runs. Linear specs only.
    """
    schema = output_schema(spec, df.schema)
    col_order = [f.name for f in schema.fields]
    pruned = _pruned(df, spec)
    key_col = spec.key_col

    if spec.is_linear:
        # rows matching NO step flag can never be candidates and never
        # affect the chained-searchsorted positions, the key boundaries of
        # flagged rows, or the within() arithmetic (all operate on flagged
        # positions only) — drop them BEFORE the exchange / Arrow transfer.
        # A filter preserves per-partition order and key contiguity, so the
        # input_sorted contract is untouched.
        keep = None
        for s in spec.steps:
            m = F.col(s.flag_col)
            if s.logic == "or" and s.flag_col2:
                m = m | F.col(s.flag_col2)
            keep = m if keep is None else (keep | m)
        pruned = pruned.filter(keep)

        if input_sorted:
            arranged = pruned  # bucketed + sorted storage: zero-shuffle plan
        else:
            arranged = pruned.repartition(key_col).sortWithinPartitions(
                key_col, *spec.order_cols
            )
        return map_key_blocks(
            arranged, key_col, lambda block: match_linear_block(block, spec), schema
        )

    if input_sorted:
        raise ValueError("input_sorted requires a linear pattern spec")

    def apply(pdf: pd.DataFrame) -> pd.DataFrame:
        rows, _, _ = run_nfa(pdf, spec)
        out = pd.DataFrame(rows)
        if out.empty:
            return pd.DataFrame({c: pd.Series(dtype="object") for c in col_order})
        return out[col_order]

    return pruned.groupBy(key_col).applyInPandas(apply, schema=schema)
