"""Parquet table loader + normalization layer (SURVEY.md §7 M0).

The one semantic normalization this engine needs at load time
(FIXTURES.md): ``events.ts`` must come out as ``timestamp_ntz``
whatever physical unit the fixture generation used. The driver has
shipped the column both as timestamp[ns] (rounds 1-3 — Spark reads it
as bigint nanos under ``nanosAsLong=true``; convert via
**integer-division** microseconds ``ts div 1000``, value-exact against
DuckDB) and as timestamp[us] (round 4+ — Spark reads it natively as
TIMESTAMP_NTZ; no conversion). The loader branches on the LOADED type,
not on an assumption about the file, so either vintage of fixture
works unmodified.

Scale note: loading is purely lazy — each table is a parquet scan plan,
so Catalyst column-pruning/predicate-pushdown reach the scan. No data is
cached or materialized here. The one thing kept is each file's raw
parquet schema (``raw_schema``): without it every read lists the file
and runs one Spark job to infer the schema from the footer, the largest
fixed cost of a short query. The memo is keyed per
**(applicationId, path)** like ``cache.py``, so a restarted session
infers afresh and the dead session's entries are dropped. It assumes a
fixture file does not change while a session runs; at scale a catalog
or table format plays this role, holding the schema instead of
re-reading footers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

from python_etl_sample_spark.session import ensure_session_configs

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


#: (applicationId, parquet path) -> the schema Spark inferred for it
_RAW_SCHEMAS: dict[tuple[str, str], StructType] = {}


def raw_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The fixture file's parquet schema as Spark reads it (before the
    ``events.ts`` normalization), inferred once per session."""
    app = spark.sparkContext.applicationId
    key = (app, f"{sf_dir}/{name}.parquet")
    schema = _RAW_SCHEMAS.get(key)
    if schema is None:
        for stale in [k for k in _RAW_SCHEMAS if k[0] != app]:
            del _RAW_SCHEMAS[stale]
        ensure_session_configs(spark)
        schema = _RAW_SCHEMAS[key] = spark.read.parquet(key[1]).schema
    return schema


def events_ts(schema: StructType, dtype: str) -> Column:
    """``events.ts`` as ``dtype`` for an events file whose raw schema is
    ``schema``: a bigint is the timestamp[ns] vintage read as nanos
    (``nanosAsLong``), converted as ``ts div 1000`` microseconds; any
    other type is the native timestamp, cast as is."""
    if isinstance(schema["ts"].dataType, LongType):
        return F.timestamp_micros(F.expr("ts div 1000")).cast(dtype)
    return F.col("ts").cast(dtype)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a lazy DataFrame, normalized."""
    ensure_session_configs(spark)
    schema = raw_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = df.withColumn("ts", events_ts(schema, "timestamp_ntz"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all ten fixture tables; keys per FIXTURES.md."""
    return {name: table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all tables and register them as temp views for the SQL path."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
