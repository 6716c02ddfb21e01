"""Data model: the transcript stream schema + deterministic derivations.

The engine's primary input (per BASELINE.json ``input_hint``) is a table of
multi-turn conversation/agent transcripts::

    (conv_id string, turn_idx int, role string, text string, tool string,
     ts timestamp)

≙ reference ``CREATE STREAM`` with an externalTime attribute
(``/root/reference/src/query_api/definition/stream_definition.rs``;
event shape ``src/core/event/event.rs:18-25``). ``ts`` is event time,
``conv_id`` is the partition key.

For correctness gating, ``transcripts`` is DERIVED deterministically from the
driver-provided ``events.parquet`` (seed=42) with arithmetic that evaluates
identically in Spark and DuckDB, so every engine query has an ANSI-SQL oracle
over the same physical bytes. The same derivation is expressed twice, and
the two share their role/tool CASE text:

- :func:`transcripts_df` — one Spark SQL projection (``selectExpr``)
- :data:`TRANSCRIPTS_CTE` — a DuckDB CTE fragment for ``oracle_sql()``

Scale note: the derivation is a single hash-partitioned window over
``user_id`` (row_number per conversation). On a real deployment transcripts
are the stored table (Iceberg, partitioned by ``days(ts)`` +
``bucket(conv_id)``) and this derivation disappears; it exists so tests and
oracle share one deterministic input with zero external data.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), False),
        # NTZ: the driver's parquet carries timezone-naive timestamps and
        # Spark 4 reads them as TIMESTAMP_NTZ; session TZ is pinned UTC
        T.StructField("ts", T.TimestampNTZType(), False),
    ]
)

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# event_type → (role, tool). 5 event types cycle the 4 transcript roles;
# 'tool' turns carry a tool name (drives tool-call frequency aggs and the
# enrichment join), everything else carries ''.
_ROLE_MAP = {
    "click": ("user", ""),
    "view": ("assistant", ""),
    "signup": ("system", ""),
    "purchase": ("tool", "exec"),
    "error": ("tool", "search"),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without Spark's schema-inference job.

    For one local Parquet file the schema comes from its footer, read on
    the driver (no Spark job); Spark makes a given file schema nullable
    throughout, as its own inference does. A timestamp not adjusted to
    UTC follows the session's
    ``spark.sql.parquet.inferTimestampNTZ.enabled``. A directory, an
    unreadable footer, a file Spark wrote (its footer holds the schema
    Spark's inference reads) and any type outside :func:`_verified` keep
    Spark's inference, so they give Spark's schema and Spark's errors.
    """
    footer = _footer_schema(path)
    if footer is None or _conf_on(spark, "spark.sql.parquet.binaryAsString"):
        return spark.read.parquet(path)
    ntz = _conf_on(spark, "spark.sql.parquet.inferTimestampNTZ.enabled")
    return spark.read.schema(from_arrow_schema(footer, ntz)).parquet(path)


def _conf_on(spark: SparkSession, key: str) -> bool:
    return spark.conf.get(key).lower() == "true"


#: the footer key under which Spark stores the schema it wrote a file
#: with; Spark's inference reads that stored schema, not the Parquet types
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

#: Parquet leaf annotations Spark reads as ``from_arrow_type`` does; ENUM
#: and JSON read as binary in Arrow but as strings in Spark
_FOOTER_ANNOTATIONS = {"NONE", "STRING", "INT", "DATE", "DECIMAL", "TIMESTAMP"}

_VERIFIED_LEAVES = (
    pa.types.is_signed_integer,
    pa.types.is_float32,
    pa.types.is_float64,
    pa.types.is_string,
    pa.types.is_binary,
    pa.types.is_boolean,
    pa.types.is_date32,
    pa.types.is_decimal128,
)


def _verified(at: pa.DataType) -> bool:
    """Spark infers from Parquet the type ``from_arrow_type`` gives for
    ``at``: signed ints, float/double, string/binary, bool, date,
    ms/µs timestamps, decimal, and lists and structs of these. Outside the
    set: unsigned ints and ns timestamps (Arrow reads INT96 as ns)."""
    if pa.types.is_struct(at):
        return all(_verified(f.type) for f in at)
    if pa.types.is_list(at):
        return _verified(at.value_type)
    if pa.types.is_timestamp(at):
        return at.unit in ("ms", "us")
    return any(is_(at) for is_ in _VERIFIED_LEAVES)


def _footer_schema(path: str) -> "pa.Schema | None":
    """The footer schema of the Parquet file ``path``, or None when Spark
    must infer it: not one local file, an unreadable footer, a file Spark
    wrote (its stored schema wins) or a type outside the verified set."""
    if not os.path.isfile(path):
        return None
    try:
        md = pq.read_metadata(path)
    except (OSError, pa.ArrowException):
        return None
    if _SPARK_SCHEMA_KEY in (md.metadata or {}):
        return None
    annotations = {md.schema.column(i).logical_type.type for i in range(md.num_columns)}
    arrow = md.schema.to_arrow_schema()
    if annotations <= _FOOTER_ANNOTATIONS and all(_verified(f.type) for f in arrow):
        return arrow
    return None


def spread_input(df: DataFrame) -> DataFrame:
    """Round-robin repartition a narrow-partition scan before heavy per-row
    map work (regex scoring, shingle explode+md5, codec kernels).

    A single small parquet file (one row group) reads as ONE scan task, so
    every pre-shuffle map stage built on it runs single-threaded no matter
    how many cores exist — the guide-§2.5 "input skew: repartition
    immediately after the read" case. The repartition ships only the tiny
    source rows; the expensive derived work then fans across the cluster.
    Scale-adaptive: a no-op whenever the scan already carries at least
    ``defaultParallelism`` partitions (real multi-file tables at scale), so
    nothing here is tuned to local mode. The width is always the full core
    count (the A/B against half width is in ``multimodal._from_documents``).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


_ROLE_CASE_SQL = (
    "CASE event_type "
    + " ".join(f"WHEN '{k}' THEN '{v[0]}'" for k, v in _ROLE_MAP.items())
    + " ELSE 'user' END"
)
_TOOL_CASE_SQL = (
    "CASE event_type "
    + " ".join(f"WHEN '{k}' THEN '{v[1]}'" for k, v in _ROLE_MAP.items())
    + " ELSE '' END"
)


def transcripts_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the transcripts table from ``events.parquet``.

    One SQL projection, in lockstep with :data:`TRANSCRIPTS_CTE`: the role
    and tool columns are the same ``_ROLE_CASE_SQL`` / ``_TOOL_CASE_SQL``
    text in both engines, and the length modulus goes through ``floor()``.
    """
    return load_table(spark, sf_dir, "events").selectExpr(
        "concat('conv', lpad(cast(user_id AS STRING), 6, '0')) AS conv_id",
        "cast(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT)"
        " AS turn_idx",
        f"{_ROLE_CASE_SQL} AS role",
        "concat(event_type, ' turn ', cast(event_id AS STRING), ' ', props, ' ',"
        " repeat('lorem ', cast(floor(value) AS INT) % 5 + 1)) AS text",
        f"{_TOOL_CASE_SQL} AS tool",
        "ts",
    )


#: DuckDB CTE body equivalent to :func:`transcripts_df` (``WITH transcripts
#: AS (...)``). DuckDB gotcha: double→int CAST rounds while Spark truncates,
#: so the length modulus goes through floor() in both engines.
TRANSCRIPTS_CTE = f"""
transcripts AS (
  SELECT
    concat('conv', lpad(cast(user_id AS VARCHAR), 6, '0')) AS conv_id,
    cast(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
    {_ROLE_CASE_SQL} AS role,
    concat(event_type, ' turn ', cast(event_id AS VARCHAR), ' ', props, ' ',
           repeat('lorem ', cast((cast(floor(value) AS INTEGER) % 5) + 1 AS INTEGER))) AS text,
    {_TOOL_CASE_SQL} AS tool,
    ts
  FROM events
)
"""

# ---------------------------------------------------------------------------
# tools_dim — enrichment dimension (FIXTURES.md F2). Mirrors the reference's
# in-memory table used in stream-table joins (reference
# tests/app_runner_tables.rs, examples/table.eventflux): 4 live tool keys plus
# 2 keys with no stream matches so LEFT OUTER null-padding is observable
# (reference src/core/query/input/stream/join/table_join_processor.rs:121-124).
# ---------------------------------------------------------------------------

TOOLS_DIM_ROWS = [
    ("search", "retrieval", 1.5),
    ("exec", "compute", 4.0),
    ("read", "io", 1.0),
    ("write", "io", 2.0),
    ("browse", "retrieval", 3.0),
    ("plan", "reasoning", 0.5),
]

TOOLS_DIM_SCHEMA = T.StructType(
    [
        T.StructField("tool", T.StringType(), False),
        T.StructField("category", T.StringType(), False),
        T.StructField("cost_weight", T.DoubleType(), False),
    ]
)


def local_df(spark: SparkSession, rows: list, schema: "T.StructType | str") -> DataFrame:
    """A literal table that plans as ``LocalTableScan``.

    ``createDataFrame`` over a Python list plans as ``Scan ExistingRDD``,
    whose every read runs Python-worker tasks; a pandas frame goes through
    Arrow into a local relation on the driver instead (columns map to the
    schema by position). PySpark sends an empty pandas frame down the list
    path, so an empty table is ``limit(0)``, which the optimizer folds into
    an empty local relation.
    """
    if not rows:
        return spark.createDataFrame([], schema).limit(0)
    return spark.createDataFrame(pd.DataFrame(rows), schema)


def tools_dim_df(spark: SparkSession) -> DataFrame:
    return local_df(spark, TOOLS_DIM_ROWS, TOOLS_DIM_SCHEMA)


TOOLS_DIM_CTE = "tools_dim(tool, category, cost_weight) AS (VALUES " + ", ".join(
    f"('{t}', '{c}', {w})" for t, c, w in TOOLS_DIM_ROWS
) + ")"


def with_transcript_views(sql: str) -> str:
    """Wrap an oracle query body with the shared CTEs.

    If the body itself starts with ``WITH``, its CTE list is merged into the
    shared one.
    """
    body = sql.strip()
    if body.upper().startswith("WITH "):
        body = "," + body[4:]
    else:
        body = "\n" + body
    return f"WITH {TRANSCRIPTS_CTE.strip()}, {TOOLS_DIM_CTE}{body}"


def synth_transcripts(
    spark: SparkSession,
    n_turns: int,
    n_convs: int,
    hot_conv_pct: int = 0,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic synthetic transcript stream for throughput benchmarks
    (FIXTURES.md F1 'bench' scale — ≥10^6 turns; no external data).

    Pure expression pipeline over ``spark.range`` — no shuffle, no window, so
    generation parallelizes linearly and never bottlenecks the benchmark.
    Round-robin conv assignment keeps per-conv ts monotone by construction;
    ``hot_conv_pct`` routes that percentage of rows to conv000000 to create a
    skewed (hot-key) variant for skew tests.
    """
    rng = spark.range(0, n_turns, numPartitions=partitions)
    conv_idx = F.col("id") % n_convs
    if hot_conv_pct:
        conv_idx = F.when(
            F.pmod(F.hash(F.col("id") * 7 + 13), 100) < hot_conv_pct, F.lit(0)
        ).otherwise(conv_idx)
    turn_idx = (F.col("id") / n_convs).cast("int")
    r = F.pmod(F.hash(conv_idx.cast("string"), turn_idx), 10)
    role = (
        F.when(r < 4, "user")
        .when(r < 7, "assistant")
        .when(r < 9, "tool")
        .otherwise("system")
    )
    tool = F.when(r == 7, "search").when(r == 8, "exec").otherwise("")
    gap_s = 60 + F.pmod(F.hash(conv_idx.cast("string")), 120)
    jitter_s = F.pmod(F.hash(conv_idx.cast("string"), turn_idx, F.lit(1)), 30)
    ts = F.timestamp_seconds(
        F.lit(1704067200)  # 2024-01-01 UTC
        + conv_idx * 3600
        + turn_idx.cast("bigint") * gap_s
        + jitter_s
    ).cast("timestamp_ntz")
    text = F.concat(
        role,
        F.lit(" says token"),
        F.pmod(F.hash(conv_idx, turn_idx, F.lit(2)), 1000).cast("string"),
        F.lit(" "),
        F.repeat(F.lit("lorem ipsum "), F.pmod(F.hash(turn_idx), 8) + 1),
    )
    return rng.select(
        F.concat(F.lit("conv"), F.lpad(conv_idx.cast("string"), 6, "0")).alias("conv_id"),
        turn_idx.alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )


def synth_transcripts_bucketed(
    spark: SparkSession,
    n_turns: int,
    turns_per_conv: int = 200,
    partitions: int = 32,
) -> DataFrame:
    """Synthetic transcripts emulating the north-star STORAGE layout: an
    Iceberg table bucketed by ``conv_id`` and sorted by ``(conv_id, ts)``
    within files — each conversation lives wholly inside one partition,
    rows arrive conv-contiguous and turn-ordered.

    ``spark.range`` splits ids into contiguous even ranges; with
    ``rows_per_partition % turns_per_conv == 0`` every partition boundary
    falls exactly on a conversation boundary, so the bucketed-input contract
    (key integrity per partition) holds by construction. Downstream keyed
    operators can then skip the exchange entirely (``input_sorted=True``).
    """
    per_part = n_turns // partitions
    per_part -= per_part % turns_per_conv
    n_turns = per_part * partitions
    if n_turns <= 0:
        raise ValueError("n_turns too small for partitions*turns_per_conv")
    rng = spark.range(0, n_turns, numPartitions=partitions)
    conv_idx = (F.col("id") / turns_per_conv).cast("bigint")
    turn_idx = (F.col("id") % turns_per_conv).cast("int")
    r = F.pmod(F.hash(conv_idx.cast("string"), turn_idx), 10)
    role = (
        F.when(r < 4, "user")
        .when(r < 7, "assistant")
        .when(r < 9, "tool")
        .otherwise("system")
    )
    tool = F.when(r == 7, "search").when(r == 8, "exec").otherwise("")
    gap_s = 60 + F.pmod(F.hash(conv_idx.cast("string")), 120)
    jitter_s = F.pmod(F.hash(conv_idx.cast("string"), turn_idx, F.lit(1)), 30)
    ts = F.timestamp_seconds(
        F.lit(1704067200) + turn_idx.cast("bigint") * gap_s + jitter_s
    ).cast("timestamp_ntz")
    text = F.concat(
        role,
        F.lit(" says token"),
        F.pmod(F.hash(conv_idx, turn_idx, F.lit(2)), 1000).cast("string"),
        F.lit(" "),
        F.repeat(F.lit("lorem ipsum "), F.pmod(F.hash(turn_idx), 8) + 1),
    )
    return rng.select(
        F.concat(F.lit("conv"), F.lpad(conv_idx.cast("string"), 8, "0")).alias("conv_id"),
        turn_idx.alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )


def epoch_seconds(c):
    """Epoch seconds (double) of a timestamp column, NTZ-safe.

    Parquet written without timezone reads as TIMESTAMP_NTZ in Spark 4, which
    cannot cast directly to numeric; routing through TIMESTAMP_LTZ under the
    pinned UTC session timezone matches DuckDB's naive ``epoch()``.
    """
    return F.col(c).cast("timestamp_ltz").cast("double") if isinstance(c, str) else c.cast("timestamp_ltz").cast("double")
