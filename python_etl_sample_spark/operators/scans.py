"""Scans, sources, sinks — SURVEY.md §2.1 ops #1-6 (prov. C: the
reference's ETL extract/load surface re-expressed as Spark connectors).

Scale notes: scans are lazy parquet reads, so Catalyst column pruning
reaches the footer (op #2 reads exactly one column's pages). Sinks
write via Spark's committer — on a cluster this is a parallel,
task-per-partition write; ``sink_partitioned`` demonstrates hive-style
partition layout, the 100 TB pattern for partition-pruned downstream
reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_etl_sample_spark.registry import query
from python_etl_sample_spark.scratch import stage_once
from python_etl_sample_spark.sources import table


@query("scan_parquet", oracle="SELECT * FROM region")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#1 full table scan."""
    return table(spark, sf_dir, "region")


@query("scan_projected", oracle="SELECT p_partkey, p_retailprice FROM part")
def scan_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#2 column-pruned scan — ReadSchema in the physical plan shows only
    the two projected columns reaching the parquet reader."""
    return table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")


@query(
    "source_csv",
    oracle="SELECT r_regionkey, r_name FROM region",
    tags=("staged",),
)
def source_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#3 CSV ingest with explicit schema (classic ETL extract).

    Round-trips ``region`` through CSV so the connector itself is what
    is under test; content equality with the source table is the oracle.
    """
    path = stage_once(
        "source_csv",
        sf_dir,
        lambda p: table(spark, sf_dir, "region")
        .write.mode("overwrite")
        .option("header", True)
        .csv(p),
    )
    return spark.read.schema("r_regionkey INT, r_name STRING").option("header", True).csv(path)


@query(
    "source_json",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    tags=("staged",),
)
def source_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#4 JSON-lines ingest with explicit schema."""
    path = stage_once(
        "source_json",
        sf_dir,
        lambda p: table(spark, sf_dir, "nation").write.mode("overwrite").json(p),
    )
    return spark.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT").json(path)


@query(
    "sink_parquet",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
    FROM lineitem WHERE l_returnflag = 'R'
    """,
    tags=("staged",),
)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#5 parquet sink + read-back round trip (ETL load)."""
    src = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
    )
    path = stage_once(
        "sink_parquet", sf_dir, lambda p: src.write.mode("overwrite").parquet(p)
    )
    return spark.read.parquet(path)


@query(
    "sink_partitioned",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
    FROM lineitem WHERE l_returnflag IN ('A', 'N')
    """,
    tags=("staged",),
)
def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#6 hive-partitioned write + partition-pruned read-back.

    The read-back filter on the partition column prunes directories
    (PartitionFilters in the plan), not rows — the 100 TB layout pattern.
    """
    src = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_returnflag"
    )
    path = stage_once(
        "sink_partitioned",
        sf_dir,
        lambda p: src.write.mode("overwrite").partitionBy("l_returnflag").parquet(p),
    )
    out = spark.read.parquet(path).filter(F.col("l_returnflag").isin("A", "N"))
    # partition column comes back typed from the directory key; restore string
    return out.withColumn("l_returnflag", F.col("l_returnflag").cast("string"))


@query(
    "source_orc",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    tags=("staged",),
)
def source_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#3b ORC ingest round-trip — the third columnar connector format
    (ETL extract from ORC lakes)."""
    path = stage_once(
        "source_orc",
        sf_dir,
        lambda p: table(spark, sf_dir, "nation").write.mode("overwrite").orc(p),
    )
    return spark.read.orc(path).select("n_nationkey", "n_name", "n_regionkey")


@query(
    "etl_incremental",
    oracle="""
    SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr, COUNT(*) AS n
    FROM events
    WHERE CAST(ts AS DATE) = DATE '2024-01-30'
    GROUP BY 1, 2
    """,
    tags=("staged",),
)
def etl_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (daily-batch) ETL pattern: land events hive-
    partitioned by event_date, then process ONE day by partition
    pruning — the scan touches only that day's directory
    (PartitionFilters), which is what makes a daily job O(day), not
    O(history), at 100 TB. The classic ETL-sample loop re-expressed as
    a pruned scan."""
    ev = table(spark, sf_dir, "events")
    path = stage_once(
        "etl_incremental",
        sf_dir,
        lambda p: ev.withColumn("event_date", F.col("ts").cast("date"))
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(p),
    )
    day = spark.read.parquet(path).filter(F.col("event_date") == F.lit("2024-01-30"))
    return day.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"))


@query(
    "source_text",
    oracle="SELECT n_name AS value FROM nation",
    tags=("staged",),
)
def source_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#3c line-oriented text ingest round-trip — the fifth connector
    format (raw-corpus lakes land as one-record-per-line text files
    before any schema exists; the reader yields a single ``value``
    column to parse downstream)."""
    path = stage_once(
        "source_text",
        sf_dir,
        lambda p: table(spark, sf_dir, "nation")
        .select(F.col("n_name").alias("value"))
        .write.mode("overwrite")
        .text(p),
    )
    return spark.read.text(path)


@query(
    "scan_metadata_columns",
    oracle="""
    SELECT 'orders.parquet' AS file_name,
           COUNT(*) AS n_rows,
           CAST(0 AS BIGINT) AS first_row_index,
           COUNT(*) - 1 AS last_row_index,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders
    """,
)
def scan_metadata_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row provenance via the hidden ``_metadata`` struct: file name
    and in-file row index surfaced per row, rolled up per file — the
    lineage primitive every large-scale ETL audit needs (which file did
    this row come from, did we read the whole file, dedup-by-source).
    ``_metadata`` is populated by the scan itself at zero extra I/O —
    no UDF, no input_file_name() (which whole-stage codegen restricts).
    The oracle exploits that the fixture table is ONE file: the name
    must be the literal basename and row_index must cover exactly
    0..n-1 — so the provenance VALUES are hash-pinned cross-engine
    (a missed or double-read split breaks first/last/count together).

    Scale: metadata columns are constant-per-split virtual columns —
    the rollup is one partial-aggregated shuffle keyed by file, i.e.
    by input split. At 100 TB this is the audit query that verifies a
    backfill touched every file exactly once."""
    return (
        table(spark, sf_dir, "orders")
        .select(
            F.col("_metadata.file_name").alias("file_name"),
            F.col("_metadata.row_index").alias("row_index"),
            "o_orderkey",
        )
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("row_index").alias("first_row_index"),
            F.max("row_index").alias("last_row_index"),
            F.sum("o_orderkey").alias("key_sum"),
        )
    )
