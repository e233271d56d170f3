"""Sources: parquet scans over the driver fixture tables.

Reference equivalents: S1 multi-file glob scan (``cleaning.py:7``) and S2
directory scan (``yellow_taxi_etl.py:67``). Spark's parquet source already
gives us footer-schema reads, predicate pushdown, column pruning and
vectorized decoding; nothing custom is needed — the value added here is a
single place that names the tables and (at scale) applies storage-layout
policy (partition discovery, maxPartitionBytes) uniformly.
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Fixture star schema + extension tables (TESTDATA.md / FIXTURES.md §B).
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Column names stored as parquet TIMESTAMP(NANOS) (footer-only read).

    The Spark vectorized reader rejects nanosecond timestamps outright
    (PARQUET_TYPE_ILLEGAL); with ``spark.sql.legacy.parquet.nanosAsLong``
    they surface as raw int64 nanos. We restore them to microsecond
    timestamps — the same truncation DuckDB applies — so downstream
    datetime functions and the oracle agree. A directory or a glob is
    read through its first matching part file (``pq.read_schema``
    cannot open a glob pattern itself).
    """
    if os.path.isdir(path):
        path = os.path.join(path, "*.parquet")
    parts = [path] if os.path.isfile(path) else sorted(glob.glob(path))
    if not parts:
        return []
    try:
        schema = pq.read_schema(parts[0])
    except Exception:
        return []
    return [f.name for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"]


def _restore_nanos(df: DataFrame, *paths: str) -> DataFrame:
    """Restore the columns the files at ``paths`` store as parquet
    TIMESTAMP(NANOS) to ``timestamp_ntz`` (see
    :func:`_nanos_timestamp_cols`). Only columns the reader actually
    surfaced as raw int64 nanos convert: INT96 timestamps also show as
    timestamp[ns] in the pyarrow footer, but Spark reads them as proper
    timestamps."""
    ns_cols: set[str] = set()
    for p in paths:
        ns_cols.update(_nanos_timestamp_cols(p))
    for c in ns_cols:
        if not isinstance(df.schema[c].dataType, T.LongType):
            continue
        # int64 nanos -> micros (floor) -> session-TZ-free timestamp.
        df = df.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
                .cast("timestamp_ntz"))
    return df


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """Parquet scan (single path, directory, or glob — Spark unions parts).

    Scale note: at 100 TB keep ``spark.sql.files.maxPartitionBytes`` at its
    128 MB default so the scan fans out to ~800k tasks, and rely on
    hive-style directory partitioning (``dt=.../``) for partition pruning.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _restore_nanos(spark.read.parquet(*paths), *paths)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}
