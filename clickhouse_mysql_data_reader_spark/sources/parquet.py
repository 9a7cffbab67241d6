"""Parquet table loading — the engine's local stand-in for the landed
ClickHouse tables (the reference lands MySQL data into MergeTree tables;
we land/read parquet, Spark's columnar native format).

Column pruning and predicate pushdown are handled by Catalyst as long as
callers express projections/filters on the returned DataFrames — verified
in tests via ``PushedFilters`` / ``ReadSchema`` in the formatted plan.
"""

from __future__ import annotations

import os
from functools import lru_cache

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = (
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

# Small dimension tables that should always broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "customer", "part"})


@lru_cache(maxsize=256)
def _nanos_timestamp_cols(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark rejects these
    outright (PARQUET_TYPE_ILLEGAL), so we read them as raw int64 nanos
    (legacy conf) and rebuild microsecond timestamps ourselves.

    ``path`` may be a single parquet file OR a directory of part files
    (a re-landed/partitioned table): for a directory the first part
    file's footer speaks for the set — one writer landed them all."""
    if os.path.isdir(path):
        parts = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        if not parts:
            return ()
        path = parts[0]
    # Probe the PARQUET schema, not the arrow view: pyarrow surfaces
    # both INT64/TIMESTAMP(NANOS) and legacy INT96 timestamps as
    # timestamp[ns], but Spark reads INT96 natively — only the INT64
    # nanos annotation trips PARQUET_TYPE_ILLEGAL and needs the rebuild.
    pf_schema = pq.ParquetFile(path).schema
    nanos = []
    for i in range(len(pf_schema)):
        col = pf_schema.column(i)
        if col.physical_type == "INT64" and "nanoseconds" in str(col.logical_type):
            nanos.append(col.name)
    return tuple(nanos)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Timestamp semantics must not depend on the caller's session zone
    # (the driver builds its own SparkSession): pin UTC so date/hour
    # extraction matches the DuckDB oracle's naive-UTC reading.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ns_cols = _nanos_timestamp_cols(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        # integer `div` (not `/`): epoch-nanos exceed double's 2^53 mantissa
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # Parquet TIMESTAMP(isAdjustedToUTC=false) surfaces as TIMESTAMP_NTZ
    # under Spark 4 (test data has shipped both flavors across rounds).
    # Normalize to TIMESTAMP: with the session zone pinned UTC above,
    # the cast is value-preserving (naive wall clock == UTC instant) and
    # keeps chrono functions (unix_micros, window, ...) and the DuckDB
    # oracle's naive-UTC reading on identical values.
    from pyspark.sql.types import TimestampNTZType

    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TPCH_TABLES
) -> dict[str, DataFrame]:
    """Load the test corpus; skips files that don't exist at this SF.

    Delegates to ``load_table`` so every read shares the
    TIMESTAMP(NANOS) rebuild and UTC session pinning — a direct
    ``spark.read.parquet`` here would throw PARQUET_TYPE_ILLEGAL on
    events.parquet under Spark 4.
    """
    out: dict[str, DataFrame] = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = load_table(spark, sf_dir, name)
    return out
