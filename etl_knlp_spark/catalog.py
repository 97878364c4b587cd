"""Table registry over the driver's parquet test tables.

The driver generates TPC-H-ish tables plus ``events``/``documents``/
``embeddings`` under ``/root/testdata/sf*/`` (TESTDATA.md). At 100 TB
these would be partitioned parquet/iceberg tables behind a metastore;
here the registry is a thin path→DataFrame mapping. Scans stay fully
declarative (``spark.read.parquet``) so Catalyst keeps predicate
pushdown, column pruning, and partition pruning.

Every scan, batch or streaming, reads through a per-process schema
cache (:func:`table_schema`): a plain ``spark.read.parquet`` runs a
Spark job to infer the schema from the file footer on every call, so
the schema is inferred once and passed as ``.schema(...)`` after that.
The key is the file's identity (path, ``st_mtime_ns``, ``st_size``;
``cache.file_identity``) plus the session confs that change what
inference returns (``_SCHEMA_CONFS``): a file rewritten in place, or a
session that reads its types differently, misses and infers again. The
cache lives in the Python process, not in a SparkSession, so it
survives SparkContext restarts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cache import file_identity
from .session import tune_session

TABLES = (
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

# Session confs that change what parquet schema inference returns; their
# values are part of every schema-cache key.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

_SCHEMAS: dict[tuple, T.StructType] = {}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def table_schema(spark: SparkSession, path: str) -> T.StructType:
    """The parquet schema of ``path`` from the schema cache; a miss
    infers it with a plain ``spark.read.parquet`` and stores it."""
    key = file_identity(path) + tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS)
    if key not in _SCHEMAS:
        _SCHEMAS[key] = spark.read.parquet(path).schema
    return _SCHEMAS[key]


def _normalize_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to TIMESTAMP by the type Spark read.

    ``events.ts`` has shipped as parquet TIMESTAMP(NANOS) in some driver
    testdata generations and TIMESTAMP(MICROS) in others:

    - LongType (legacy nanosAsLong read of TIMESTAMP(NANOS)): integer-
      divide ns→µs (double division would lose precision above 2^53 ns;
      truncation matches DuckDB's ns→µs cast, keeping oracles exact).
    - TimestampNTZType (TIMESTAMP(MICROS), isAdjustedToUTC=false): cast
      to session-local TIMESTAMP; the session timezone is pinned to UTC
      by tune_session so the wall-clock values are preserved and match
      DuckDB's TIMESTAMP semantics.
    - TimestampType: already what we want.
    """
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if isinstance(ts_type, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Declarative parquet scan with the cached schema →
    pushdown-friendly; ``events.ts`` is normalized by :func:`_normalize_ts`."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    tune_session(spark)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, name)
    df = spark.read.schema(table_schema(spark, path)).parquet(path)
    return _normalize_ts(df) if name == "events" else df


def load_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming file source over the events table with the same
    adaptive ``ts`` normalization as :func:`load_table`.

    The streaming reader needs an explicit schema; it comes from the
    schema cache, so the source matches whatever physical type the
    driver generated (TIMESTAMP(NANOS)-as-long vs TIMESTAMP(MICROS)).
    events.parquet is a single file inside the sf directory, so stream
    the directory with a glob filter.
    """
    tune_session(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = (
        spark.readStream.schema(table_schema(spark, table_path(sf_dir, "events")))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return _normalize_ts(src)


def load_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming file source over the documents table (schema from the
    schema cache, same single-file-glob shape as
    :func:`load_events_stream`). Tests that need multiple micro-batches
    re-stage the table into several files and set maxFilesPerTrigger."""
    tune_session(spark)
    return (
        spark.readStream.schema(table_schema(spark, table_path(sf_dir, "documents")))
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() access."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
