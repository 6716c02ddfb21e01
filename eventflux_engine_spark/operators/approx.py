"""Approximate operators for unbounded cardinalities.

≙ reference ``lossyCounting(ε)`` window (``window/mod.rs:1654-1740``) —
re-expressed distributed AND vectorized: per partition, each Arrow batch is
reduced with ``value_counts()`` (one pandas pass, no per-row Python), the
per-batch counts merge into the bounded summary, and pruning runs at batch
boundaries. Deferring the prune from per-row to per-batch only RETAINS MORE
items, so the classic Manku-Motwani guarantees still hold:

- ``min_count``  = observed count  ≤ true count
- ``max_count``  = count + delta   ≥ true count (delta = bucket index at
  insertion − 1 bounds what could have been pruned earlier)
- output is a SUPERSET of items with true frequency ≥ support·N and never
  contains an item below (support − ε)·N — pytest-verified vs exact counts.

The total row count N is carried in the per-partition summaries (``part_n``)
— there is NO extra pass over the input; the single ``mapInPandas`` scan is
the only job that touches the data. Partials are persisted (≈1/ε rows per
partition) so the N-rollup and the item-merge branches share one scan.

Scale: one narrow pass + a tiny summary shuffle — the whole point at 100 TB
where exact token counting would shuffle billions of distinct keys.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..datamodel import local_df


def lossy_counting_heavy_hitters(
    df: DataFrame, col: str, support: float, epsilon: float | None = None
) -> DataFrame:
    """Items whose frequency is ≥ ``support`` fraction of all rows (approx).

    Output: (item, min_count, max_count) — true count is within the range.
    """
    if epsilon is None:
        epsilon = support / 10.0
    bucket_width = max(int(1 / epsilon), 1)

    def per_partition(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        counts = pd.Series(dtype="int64")
        deltas = pd.Series(dtype="int64")
        n = 0
        for pdf in pdfs:
            vc = pdf[col].value_counts()  # vectorized batch reduction
            if len(vc) == 0:
                continue
            new = vc.index.difference(counts.index)
            if len(new):
                # items first seen in this batch: delta = bucket_at_entry - 1
                deltas = pd.concat(
                    [deltas, pd.Series(n // bucket_width, index=new, dtype="int64")]
                )
            counts = counts.add(vc, fill_value=0).astype("int64")
            n += int(vc.sum())
            # prune at the batch boundary: drop items that could not reach
            # the current bucket even with their full error allowance
            keep = (counts + deltas.reindex(counts.index)) > (n // bucket_width)
            counts = counts[keep]
            deltas = deltas.reindex(counts.index)
        summary = pd.DataFrame(
            {
                "item": counts.index.astype(str),
                "cnt": counts.to_numpy(),
                "delta": deltas.to_numpy(),
                "pid": pid,
                "part_n": n,
            }
        )
        # marker row guarantees this partition's part_n reaches the N rollup
        # even when every item was pruned (item=NULL is filtered from merge)
        marker = pd.DataFrame(
            {"item": [None], "cnt": [0], "delta": [0], "pid": [pid], "part_n": [n]}
        )
        yield pd.concat([summary, marker], ignore_index=True)

    partials = df.select(F.col(col).alias(col)).mapInPandas(
        per_partition, schema="item string, cnt long, delta long, pid int, part_n long"
    )
    # summaries are tiny (~1/ε per partition): persist so the two consumers
    # below (item merge + N rollup) trigger exactly one input scan
    partials = partials.persist()
    totals = (
        partials.groupBy("pid")
        .agg(F.first("part_n").alias("pn"))
        .agg(F.sum("pn").alias("n_total"))
    )
    merged = (
        partials.filter(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.sum("cnt").alias("min_count"), F.sum("delta").alias("err"))
    )
    out = (
        merged.crossJoin(F.broadcast(totals))
        .withColumn("max_count", F.col("min_count") + F.col("err"))
        .filter(F.col("max_count") >= support * F.col("n_total"))
    )
    return out.select("item", "min_count", "max_count")


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch — mergeable, integer-exact estimator
# ---------------------------------------------------------------------------
#
# ≙ reference distinctCount/approx distinct aggregators
# (aggregator/distinct_count.rs) — re-expressed as the MERGEABLE sketch a
# 100 TB pipeline actually needs: per-group HLL registers are a plain
# groupBy().max() over (group, register_index), so Catalyst's map-side
# partial aggregation collapses every input partition to at most
# |groups| x m tiny rows before the shuffle, and sketches for ANY two row
# sets merge by element-wise register max — daily sketches roll up into
# monthly ones without rescanning the raw data (the property the gate
# proves against a direct-from-raw oracle).
#
# Everything is integer arithmetic on md5-derived bits, so the DuckDB
# oracle reproduces the estimate BIT-EXACTLY (no libm, no float sums):
#
# - hash: first 12 hex chars of md5('hll:' || value) -> 48-bit integer
#   (the engine-parity discipline of dedup.py:91);
# - register index j = h % m (m = 256, b = 8); remainder v = h div m is a
#   40-bit field; rho(v) = position of the highest set bit from the top
#   + 1 = 41 - bitlength(v), computed by a 40-arm integer CASE ladder
#   (no log2 — correctly-rounded transcendentals are not guaranteed to
#   agree across engines at the ulp, the text_bm25_topk lesson);
# - raw HLL estimate alpha_m * m^2 / sum_j 2^(-M_j), evaluated exactly:
#   S_int = sum_j 2^(R+1-M_j) is an exact integer (empty registers
#   contribute 2^(R+1)), t1 = floor(m^2 * 2^(R+1) / S_int), and
#   est = floor(t1 * alpha_num / alpha_den) via the split-division
#   identity (t1 div d)*n + ((t1 mod d)*n div d) — overflow-free in
#   int64 and identical in Spark and DuckDB.
#
# The classic small/large-range bias corrections need ln() so they are
# deliberately NOT part of the gated estimator; callers that want them
# apply them client-side to (est_q, occupied). Standard error is
# 1.04/sqrt(m) = 6.5% at m=256 (accuracy pytest asserts it on a 50k-id
# corpus). 48 hash bits saturate around 2^40 distincts per group; moving
# to 64-bit hashes only requires DECIMAL(38,0) fold arithmetic.

HLL_M = 256  # registers (b = 8 index bits)
HLL_R = 40  # rank-field width: 48-bit hash minus 8 index bits
# alpha_256 = 0.7213 / (1 + 1.079/256) = 0.7182726... as a fixed rational
HLL_ALPHA_NUM = 718273
HLL_ALPHA_DEN = 1_000_000


def hll_rho_case_sql(v: str = "v") -> str:
    """The shared 40-arm CASE ladder: rho = 41 - bitlength(v) (1-based
    rank of the first set bit of the 40-bit field; 41 when v = 0).
    Integer comparisons only — identical text runs in Spark and DuckDB."""
    arms = " ".join(
        f"WHEN {v} >= {1 << (HLL_R - k)} THEN {k}" for k in range(1, HLL_R + 1)
    )
    return f"CASE {arms} ELSE {HLL_R + 1} END"


def hll_registers(df: DataFrame, col: str, group_cols: Sequence[str] = ()) -> DataFrame:
    """Per-group HLL registers: (group_cols..., j, reg).

    One full-data shuffle with map-side partial max — each input partition
    emits at most |groups| x m rows. Output is mergeable: registers of a
    union = element-wise max of registers (max is idempotent/commutative),
    so re-aggregating this frame with max(reg) over coarser groups IS the
    sketch merge.
    """
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("hll:"), F.col(col).cast("string"))), 1, 12),
        16,
        10,
    ).cast("bigint")
    g = df.select(*group_cols, h.alias("h")).select(
        *group_cols,
        (F.col("h") % HLL_M).cast("int").alias("j"),
        F.expr(hll_rho_case_sql(f"(h div {HLL_M})")).cast("int").alias("rho"),
    )
    return g.groupBy(*group_cols, "j").agg(F.max("rho").alias("reg"))


def hll_estimate(regs: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """Fold registers into the exact-integer raw HLL estimate per group.

    Output: (group_cols..., est_q bigint, occupied bigint). Runs on the
    tiny register table (<= m rows per group) — cost is nil next to the
    register pass.
    """
    top = 1 << (HLL_R + 1)  # empty-register term 2^(R+1)
    num = HLL_M * HLL_M * top  # m^2 * 2^(R+1) = 2^57: fits int64
    folded = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("occupied"),
        F.sum(F.expr(f"shiftleft(cast(1 AS BIGINT), {HLL_R + 1} - reg)")).alias(
            "s_occ"
        ),
    )
    with_t1 = folded.withColumn(
        "t1",
        F.expr(f"cast({num} AS BIGINT) div (s_occ + ({HLL_M} - occupied) * cast({top} AS BIGINT))"),
    )
    return with_t1.select(
        *group_cols,
        F.expr(
            f"(t1 div {HLL_ALPHA_DEN}) * {HLL_ALPHA_NUM}"
            f" + ((t1 % {HLL_ALPHA_DEN}) * {HLL_ALPHA_NUM}) div {HLL_ALPHA_DEN}"
        ).alias("est_q"),
        F.col("occupied").cast("bigint").alias("occupied"),
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005): mergeable per-item
# FREQUENCY estimates, the counting counterpart of the HLL's distinct
# counts. d independent hash rows x w buckets; update adds 1 to bucket
# h_i(x) in every row; point query est(x) = min_i cnt[i][h_i(x)].
# Guarantees: est >= true count always (only collisions inflate), and
# est <= true + eps*N with probability 1 - delta for w = e/eps, d =
# ln(1/delta) — at d=4, w=512: eps ~ 0.53% of stream length, delta < 2%.
#
# Same engine-parity discipline as the HLL above: buckets come from md5
# ('cms<i>:' || value), counts are plain integers, so the DuckDB twin
# reproduces every estimate bit-exactly. Registers are mergeable by
# element-wise SUM (counts are additive), so daily sketches roll up to
# monthly frequency tables without rescanning — the gate proves
# merge-of-sketches == sketch-of-union via the value hash.
#
# Scale shape: the register build is ONE full-data shuffle with map-side
# partial counts — each input partition collapses to at most
# |groups| x d x w rows before the exchange, and the sketch itself is
# |groups| x d x w regardless of stream length.

CMS_D = 4  # hash rows
CMS_W = 512  # buckets per row (power of two keeps the modulo cheap)


def _cms_bucket(col: str, i: int):
    """Bucket of `col` in hash row i: 48 md5-derived bits mod w (same
    hex-prefix discipline as hll_registers / dedup.py)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"cms{i}:"), F.col(col).cast("string"))), 1, 12
        ),
        16,
        10,
    ).cast("bigint")
    return (h % CMS_W).cast("int")


def cms_registers(
    df: DataFrame, col: str, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Per-group CMS registers: (group_cols..., i, j, cnt).

    posexplode fans each row into its d (row, bucket) cells; the groupBy
    count collapses map-side to <= |groups| x d x w rows per partition
    before the single exchange. Re-aggregating this frame with sum(cnt)
    over coarser groups IS the sketch merge (counts are additive).
    """
    cells = F.array(*[_cms_bucket(col, i) for i in range(CMS_D)])
    g = df.select(*group_cols, F.posexplode(cells).alias("i", "j"))
    return g.groupBy(*group_cols, "i", "j").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def cms_lookup(
    regs: DataFrame,
    items: DataFrame,
    col: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Point-query estimates for `items` (one row per item, carrying
    group_cols): est = min over the d rows of the item's bucket count.

    The item side fans out to d probe rows and broadcasts against the
    register table (|groups| x d x w rows — tiny next to the data the
    sketch summarizes). An item present in the sketched data hits all d
    cells by construction, so the inner join keeps exactly d rows each.
    """
    cells = F.array(*[_cms_bucket(col, i) for i in range(CMS_D)])
    probes = items.select(
        *group_cols, F.col(col), F.posexplode(cells).alias("i", "j")
    )
    joined = regs.join(F.broadcast(probes), [*group_cols, "i", "j"])
    return joined.groupBy(*group_cols, col).agg(F.min("cnt").alias("est_cnt"))


# ---------------------------------------------------------------------------
# Mergeable quantile histogram (DDSketch-shaped, integer-exact): the
# quantile counterpart of the HLL/CMS gates, and the value-gateable
# alternative to the t-digest (whose centroids are float-path artifacts —
# the one rows-only registry entry). Buckets are power-of-2 octaves
# [2^b, 2^(b+1)) split into 8 linear sub-buckets, so every bucket bound
# is an integer and the relative error of "estimate = sub-bucket lower
# bound" is <= 12.5%. Bucketing, merge (sum of counts) and the quantile
# walk (first bucket where the cumulative count crosses ceil(q*N)) are
# ALL integer arithmetic — the DuckDB twin reproduces every estimate
# bit-exactly, and sketches merge across days/shards by summing register
# counts (|groups| x <=328 rows, regardless of data size).

HIST_SUB = 8  # linear sub-buckets per octave
HIST_MAX_BIT = 40  # ladder covers values < 2^40 (cents: ~10^10 dollars)


def hist_octave_case_sql(v: str) -> str:
    """CASE ladder: the octave floor 2^b with 2^b <= v < 2^(b+1); 0 for
    v <= 0. Integer comparisons only — identical text runs in Spark and
    DuckDB (the hll_rho_case_sql discipline)."""
    arms = " ".join(
        f"WHEN {v} >= {1 << k} THEN {1 << k}"
        for k in range(HIST_MAX_BIT - 1, -1, -1)
    )
    return f"CASE {arms} ELSE 0 END"


def hist_bucket_sql(v: str, engine_div: str = "div") -> str:
    """Sub-bucket LOWER BOUND of `v` (the sketch's grouping key and its
    estimate): lo + ((v - lo) * SUB div lo) * lo div SUB. `engine_div` is
    'div' for Spark SQL, '//' for DuckDB."""
    d = engine_div
    lo = hist_octave_case_sql(v)
    return (
        f"(CASE WHEN ({lo}) = 0 THEN 0 ELSE ({lo}) + "
        f"((((({v}) - ({lo})) * {HIST_SUB}) {d} ({lo})) * ({lo})) "
        f"{d} {HIST_SUB} END)"
    )


def hist_registers(
    df: DataFrame, value_sql: str, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Per-group histogram registers (group_cols..., lb, cnt) over the
    integer expression `value_sql` (negative values clamp to bucket 0).
    One full-data shuffle with map-side partial counts; at most
    HIST_MAX_BIT * HIST_SUB + 1 rows per group. Mergeable by sum(cnt)."""
    v = f"greatest(cast(({value_sql}) AS bigint), 0)"
    g = df.select(
        *group_cols, F.expr(hist_bucket_sql(v)).cast("bigint").alias("lb")
    )
    return g.groupBy(*group_cols, "lb").agg(F.count(F.lit(1)).alias("cnt"))


def hist_quantiles(
    regs: DataFrame,
    quantiles: Sequence[tuple[str, int, int]],
    group_cols: Sequence[str],
) -> DataFrame:
    """Quantile estimates from the register table: for each (label, num,
    den), the smallest bucket lower bound whose cumulative count reaches
    ceil(num/den * N). Runs entirely on the tiny register table."""
    from pyspark.sql import Window

    spark = regs.sparkSession
    qs = F.broadcast(
        local_df(spark, list(quantiles), "q string, num int, den int")
    )
    wcum = Window.partitionBy(*group_cols).orderBy("lb")
    wall = Window.partitionBy(*group_cols)
    h = regs.select(
        *group_cols,
        "lb",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    hit = h.crossJoin(qs).filter(
        F.col("cum") >= F.expr("(cast(num AS bigint) * n + den - 1) div den")
    )
    return hit.groupBy(*group_cols, "q", "n").agg(
        F.min("lb").alias("est")
    )
