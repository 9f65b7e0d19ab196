"""Loader/normalization checks (SURVEY.md §7 M0, FIXTURES.md schemas)."""

from __future__ import annotations

from python_etl_sample_spark.sources import load_tables

SF_DIR = "/root/testdata/sf0.001"

EXPECTED_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}


def test_row_counts(spark):
    tables = load_tables(spark, SF_DIR)
    for name, expected in EXPECTED_ROWS.items():
        assert tables[name].count() == expected, name


def test_events_ts_normalized(spark):
    ev = load_tables(spark, SF_DIR)["events"]
    assert dict(ev.dtypes)["ts"] == "timestamp_ntz"
    row = ev.orderBy("event_id").first()
    assert str(row["ts"]) == "2024-01-01 00:09:58.778549"


def test_date_columns_are_ntz(spark):
    tables = load_tables(spark, SF_DIR)
    assert dict(tables["orders"].dtypes)["o_orderdate"] == "timestamp_ntz"
    assert dict(tables["lineitem"].dtypes)["l_shipdate"] == "timestamp_ntz"


def test_embeddings_dim(spark):
    from pyspark.sql import functions as F

    emb = load_tables(spark, SF_DIR)["embeddings"]
    dims = emb.select(F.size("embedding").alias("d")).distinct().collect()
    assert [r["d"] for r in dims] == [64]


def test_warm_load_launches_no_spark_job(spark):
    """After a table's first load in a session, ``table()`` and the
    streaming demo's events source reuse its inferred parquet schema
    instead of running a footer-inference job."""
    from python_etl_sample_spark.sources import table
    from python_etl_sample_spark.streaming.demo import _events_stream

    first = {name: table(spark, SF_DIR, name).dtypes for name in ("events", "orders")}
    sc = spark.sparkContext
    group = "test-warm-table-load"
    sc.setJobGroup(group, "warm table() loads")
    try:
        again = {name: table(spark, SF_DIR, name).dtypes for name in first}
        stream = _events_stream(spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert again == first
    assert stream.isStreaming
    assert dict(stream.dtypes)["ts"] == "timestamp"


def test_warm_staged_rebuild_launches_no_spark_job(spark):
    """Once their scratch parquet is staged, the two timed staged
    queries rebuild without a Spark job: each reads what it wrote with
    the schema derived from the written frame, not by footer inference."""
    from python_etl_sample_spark.operators.etl_quality import (
        etl_incremental_rollup_merge,
    )
    from python_etl_sample_spark.operators.pipelines import pipeline_daily_etl

    builds = (pipeline_daily_etl, etl_incremental_rollup_merge)
    first = [build(spark, SF_DIR).dtypes for build in builds]
    sc = spark.sparkContext
    group = "test-warm-staged-rebuild"
    sc.setJobGroup(group, "warm staged rebuilds")
    try:
        again = [build(spark, SF_DIR).dtypes for build in builds]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert again == first


def test_written_schema_equals_the_inferred_schema(spark, tmp_path):
    """``written_schema`` gives exactly the schema ``spark.read.parquet``
    infers for the written frame — nullability (nested too) and the
    partition column's move to the end included — for the shapes the
    staged reads write: a partitioned projection, a decimal/date
    rollup, a struct-valued state fold and the events with a
    timestamp."""
    from pyspark.sql import functions as F

    from python_etl_sample_spark.scratch import written_schema
    from python_etl_sample_spark.sources import table

    ev = table(spark, SF_DIR, "events")
    ev_ts = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    cases = {
        "partitioned": (
            table(spark, SF_DIR, "orders").select(
                "o_orderkey",
                "o_orderstatus",
                (F.col("o_totalprice") * 2).alias("revenue"),
            ),
            ("o_orderstatus",),
        ),
        "rollup": (
            ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
                F.count(F.lit(1)).alias("n_partial"),
                F.sum(F.col("value").cast("decimal(28,6)")).alias("s_partial"),
            ),
            (),
        ),
        "fold": (
            ev_ts.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n_events"),
                F.max(F.struct("ts", F.lit(1).alias("one"))).alias("m"),
            ),
            (),
        ),
        "events": (ev_ts, ()),
    }
    for name, (df, parts) in cases.items():
        path = str(tmp_path / name)
        df.write.partitionBy(*parts).parquet(path)
        assert written_schema(df, *parts) == spark.read.parquet(path).schema, name


def test_ns_vintage_events_load_as_micros(spark, tmp_path):
    """The timestamp[ns] fixture vintage (read as bigint nanos under
    ``nanosAsLong``) comes out as ``timestamp_ntz`` at ``ts div 1000``
    microseconds, on the schema-inferring first load and on the memo hit;
    the streaming side (the events stream source and the foreachBatch
    merge demo) casts the same microseconds to ``timestamp``."""
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from python_etl_sample_spark.sources import tables
    from python_etl_sample_spark.streaming.demo import (
        _events_stream,
        _run_to_memory,
        stream_demo_foreachbatch_merge,
    )

    nanos = [1_704_067_207_123_456_789, 1_704_067_800_000_000_999, 1_706_659_032_000_001_000]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([0, 1, 2], pa.int64()),
                "ts": pa.array(nanos, pa.timestamp("ns")),
                "user_id": pa.array([7, 8, 7], pa.int64()),
                "event_type": ["click", "view", "purchase"],
                "value": [1.5, 2.0, 0.25],
                "props": ['{"k": 1}', '{"k": 2}', '{"k": 3}'],
            }
        ),
        tmp_path / "events.parquet",
    )
    expected = [datetime(1970, 1, 1) + timedelta(microseconds=n // 1000) for n in nanos]
    key = (spark.sparkContext.applicationId, f"{tmp_path}/events.parquet")
    assert key not in tables._RAW_SCHEMAS
    for _ in ("miss", "hit"):
        ev = tables.table(spark, str(tmp_path), "events")
        assert key in tables._RAW_SCHEMAS
        assert dict(ev.dtypes)["ts"] == "timestamp_ntz"
        assert [r["ts"] for r in ev.orderBy("event_id").collect()] == expected

    micros = [n // 1000 for n in nanos]
    stream = _events_stream(spark, str(tmp_path))
    assert dict(stream.dtypes)["ts"] == "timestamp"
    drained = _run_to_memory(
        stream.select("event_id", F.unix_micros("ts").alias("us")), "append", parts=8
    )
    assert [r["us"] for r in drained.orderBy("event_id").collect()] == micros
    merged = stream_demo_foreachbatch_merge(spark, str(tmp_path))
    assert dict(merged.dtypes)["last_ts"] == "timestamp"
    last = merged.select("user_id", F.unix_micros("last_ts").alias("us"))
    assert sorted(map(tuple, last.collect())) == [(7, micros[2]), (8, micros[1])]
