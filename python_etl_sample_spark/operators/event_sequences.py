"""Ordered-event analytics round 4: Markov transitions, cumulative
distinct users, forward as-of join with tolerance, and OHLC resampling.

All four run on the events stream table and share one discipline: any
"order of arrival" semantics is pinned to the total order
``(ts, event_id)`` — the same tie-break law the streaming family uses
(streaming/batch_semantics.py) — so results are identical across
engines, partitionings, and reruns.

Scale: every operator here is one shuffle on a bounded key
(user_id / event_type / hour). Per-user windows assume a user's history
fits an executor — the standard sessionization contract; a 100 TB run
partitions by user and sorts within partitions, which is exactly the
plan Spark produces for these window specs.

Sessionization and the sweep line (``events_sessionize``,
``events_max_concurrent``) are the two canonical "order by time within
key" rewrites — both become a single shuffle + sorted window, never a
self-join, which is what keeps them one pass at 100 TB.

- ``events_markov_kstep``: 4-step transition probabilities P⁴ of the
  first-order user-behavior Markov chain (events_transition_matrix is
  P¹) via unrolled sparse matrix powers over the domain-bounded
  (state, state) pair table.

Determinism: transition probabilities start from exact integer counts
(one IEEE division each); each matrix-multiply term is rounded at 12 dp
and decimal-summed over the ≤|states| intermediate states.

- ``events_uplift_cuped``: CUPED variance-reduced A/B readout — the
  modern experimentation estimator (pre-period covariate adjustment)
  on top of events_ab_lift's deterministic hash split.

Determinism: CUPED statistics are closed-form expressions of exact
integer (cents) moment sums — wide-decimal accumulators, one double
conversion, identical parenthesization in both engines.

- ``events_funnel_latency``: the timing profile of the signup → view →
  purchase funnel (events_funnel counts WHO converts; this measures
  HOW LONG each transition takes) — exact mean/p50/p90 per stage from
  one stacked total-order kernel pass.

Determinism: funnel gaps are exact epoch-second integers and the
percentiles are exact order statistics at ⌈q·n⌉ under a unique total
order.

- ``events_burstiness``: per-event-type interarrival statistics with
  the Goh-Barabási burstiness index B = (σ−μ)/(σ+μ) and CV — tells
  Poisson-like traffic (B≈0) from bursty machine/retry traffic (B→1),
  the first-pass behavioral signature on an event stream.

- ``events_power_mde``: minimum detectable effect for an A/B test per
  event segment at standard (α=0.05 two-sided, 80% power) settings —
  the experiment-sizing readout that belongs next to events_ab_lift /
  events_uplift_cuped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_sample_spark.functions.determinism import DEC, dsum, dsum_sql
from python_etl_sample_spark.functions.total_order import attach_global_order
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table


@query(
    "events_transition_matrix",
    oracle="""
    WITH nxt AS (
      SELECT event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ), pairs AS (
      SELECT event_type, next_type, COUNT(*) AS n
      FROM nxt WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    )
    SELECT event_type, next_type, n,
           ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY event_type), 6) AS p
    FROM pairs
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for each
    ordered pair of adjacent events per user, the transition count and
    conditional probability P(next | current).

    The adjacency comes from LEAD over the (ts, event_id) total order;
    the probability normalizes within the source state over the tiny
    5×5 pair table, not the raw events. Scale: one shuffle by user for
    the lag, one map-side-combined count — the classic two-stage
    sessionization shape."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wt = Window.partitionBy("event_type")
    return pairs.select(
        "event_type",
        "next_type",
        "n",
        F.round(F.col("n") * 1.0 / F.sum("n").over(wt), 6).alias("p"),
    )


@query(
    "events_cum_distinct_users",
    oracle="""
    WITH first_day AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id
    ), per_day AS (
      SELECT day, COUNT(*) AS new_users FROM first_day GROUP BY day
    )
    SELECT CAST(day AS TIMESTAMP) AS day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_users
    FROM per_day
    """,
)
def events_cum_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day — the growth curve — via the
    first-touch rewrite: a user contributes to the cumulative count
    exactly on their first-ever day, so running COUNT(DISTINCT) over an
    expanding frame (quadratic state, unbounded memory) collapses to
    min-per-user + running SUM over the tiny per-day frame.

    Scale: the expensive step is one groupBy(user_id) min — map-side
    combined, one shuffle; the window runs over ≤30 rows. This rewrite
    is THE way to compute cumulative-distinct at 100 TB."""
    ev = table(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("day"))
    per_day = first_day.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    return attach_global_order(
        per_day, [F.asc("day")], cumsums=[("new_users", "cum_users")]
    ).select(
        # date -> midnight timestamp on both sides (see win_streak note)
        F.col("day").cast("timestamp_ntz").alias("day"),
        "new_users",
        "cum_users",
    )


@query(
    "join_asof_forward",
    oracle="""
    SELECT err.event_id, err.user_id,
           MIN(p.ts) AS next_purchase_ts,
           CAST(date_diff('second', err.ts, MIN(p.ts)) AS BIGINT) AS gap_s
    FROM events err
    JOIN events p
      ON p.user_id = err.user_id
     AND p.event_type = 'purchase'
     AND (p.ts > err.ts OR (p.ts = err.ts AND p.event_id > err.event_id))
     AND p.ts <= err.ts + INTERVAL 1 HOUR
    WHERE err.event_type = 'error'
    GROUP BY err.event_id, err.user_id, err.ts
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with tolerance: each error event matched to
    the SAME user's next purchase within 1 hour — the
    direction='forward' twin of join_asof (joins.py), used for
    "did the incident convert anyway" analyses.

    The Spark plan is NOT the oracle's O(n·m) self-join: one window
    over (user_id, ts, event_id) computes the next-purchase timestamp
    for every row in a single pass (min of a conditional over the
    strictly-following frame), then the tolerance filter keeps matches.
    Same answer, linear work — the scale-right as-of formulation."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = ev.withColumn(
        "next_purchase_ts",
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).over(w),
    )
    return (
        nxt.filter(
            (F.col("event_type") == "error")
            & F.col("next_purchase_ts").isNotNull()
            & (F.col("next_purchase_ts") <= F.col("ts") + F.expr("INTERVAL 1 HOUR"))
        )
        .select(
            "event_id",
            "user_id",
            "next_purchase_ts",
            (
                F.unix_timestamp("next_purchase_ts") - F.unix_timestamp("ts")
            ).alias("gap_s"),
        )
    )


@query(
    "ts_ohlc_bars",
    oracle=f"""
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS hour, ts, event_id, value
      FROM events
    ), r AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY event_type, hour
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY event_type, hour
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM b
    )
    SELECT event_type, hour,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS volume
    FROM r GROUP BY event_type, hour
    """,
)
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC resampling per event type: open/high/low/close of
    ``value`` plus count and exact volume — the time-series downsample
    every monitoring and market pipeline runs.

    Open/close are arg-extrema over the (ts, event_id) total order via
    ``min_by``/``max_by`` on a struct key — ONE map-side-combined
    aggregate carrying constant state per bar, no sort, no window. The
    oracle needs two ROW_NUMBER windows for the same semantics because
    DuckDB's arg_min can't take a composite ordering; the Spark shape
    is the one that survives 100 TB."""
    ev = table(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "ts",
        "event_id",
        "value",
    )
    return b.groupBy("event_type", "hour").agg(
        F.expr("min_by(value, struct(ts, event_id))").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.expr("max_by(value, struct(ts, event_id))").alias("close"),
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("volume"),
    )


@query(
    "events_error_rate_anomaly",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour,
             COUNT(*) AS n_events,
             COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors
      FROM events GROUP BY date_trunc('hour', ts)
    ), ma AS (
      SELECT hour, n_events, n_errors,
             CAST(SUM(n_errors) OVER (ORDER BY hour
                  ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS BIGINT)
               AS err_prev3,
             CAST(SUM(n_events) OVER (ORDER BY hour
                  ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS BIGINT)
               AS ev_prev3
      FROM hourly
    )
    SELECT hour, n_events, n_errors,
           ROUND(n_errors * 1.0 / n_events, 6) AS err_rate
    FROM ma
    WHERE ev_prev3 IS NOT NULL AND err_prev3 IS NOT NULL
      AND n_errors * ev_prev3 * 2 > err_prev3 * n_events * 3
    """,
)
def events_error_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed anomaly screen: hours whose error rate exceeds 1.5× the
    trailing-3-hour baseline — the alerting query behind every
    error-budget dashboard.

    The comparison `rate > 1.5 · baseline` is cross-multiplied into
    pure integer arithmetic (n_errors·ev_prev3·2 > err_prev3·n_events·3)
    so the anomaly SET is decided without a single float; the reported
    rate is one rounded division for display. Scale: events collapse to
    ~720 hourly rows before any window runs — the window cost is
    negligible and the heavy stage is one map-side-combined count."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
    )
    # bounded-window: sliding frame over the per-HOUR aggregate — the
    # frame is calendar-bounded (≤24·days rows regardless of data
    # volume) and a cross-partition sliding frame is not prefix-sum
    # decomposable, so the single-task window is the correct plan here
    w = Window.orderBy("hour").rowsBetween(-3, -1)
    ma = hourly.select(
        "hour",
        "n_events",
        "n_errors",
        F.sum("n_errors").over(w).alias("err_prev3"),
        F.sum("n_events").over(w).alias("ev_prev3"),
    )
    return (
        ma.filter(
            F.col("ev_prev3").isNotNull()
            & F.col("err_prev3").isNotNull()
            & (
                F.col("n_errors") * F.col("ev_prev3") * 2
                > F.col("err_prev3") * F.col("n_events") * 3
            )
        )
        .select(
            "hour",
            "n_events",
            "n_errors",
            F.round(F.col("n_errors") * 1.0 / F.col("n_events"), 6).alias(
                "err_rate"
            ),
        )
    )


@query(
    "win_time_range_frame",
    oracle="""
    SELECT event_id, event_type,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE), 6)
             AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def win_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval RANGE frame: per event, the trailing-1-hour event
    count and value sum within its type — the rolling-window metric
    behind rate limits and moving KPIs, where the frame is defined by
    TIME, not row count (win_range_frame's numeric twin, #37).

    The order key is whole microseconds (unix_micros/epoch_us) on both
    engines — DuckDB's bare epoch() returns fractional seconds while
    Spark's unix_timestamp truncates, so second-precision keys would
    place sub-second peers differently. RANGE frames include ALL peers
    of the current key, so tie handling is engine-identical by
    definition, and the frame sum goes through decimal, making peer
    ORDER irrelevant too. Scale: one shuffle on event_type; Spark
    maintains the sliding frame incrementally per partition."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3600000000, 0)
    )
    return ev.select(
        "event_id",
        "event_type",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(
            F.sum(F.col("value").cast("decimal(28,6)")).over(w).cast("double"), 6
        ).alias("sum_1h"),
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH err AS (
      SELECT event_id, user_id, ts, event_id AS eid FROM events
      WHERE event_type = 'error'
    ), cand AS (
      SELECT e.event_id, e.user_id,
             p.ts AS p_ts, p.event_id AS p_eid,
             ABS(date_diff('microseconds', e.ts, p.ts)) AS adist
      FROM err e
      JOIN events p
        ON p.user_id = e.user_id AND p.event_type = 'purchase'
       AND p.ts BETWEEN e.ts - INTERVAL 30 MINUTE
                    AND e.ts + INTERVAL 30 MINUTE
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
                                   ORDER BY adist, p_ts, p_eid) AS rn
      FROM cand
    )
    SELECT event_id, user_id, p_ts AS nearest_purchase_ts,
           CAST(adist AS BIGINT) AS abs_gap_us
    FROM ranked WHERE rn = 1
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join: each error matched to the SAME
    user's temporally CLOSEST purchase within ±30 minutes — completing
    the as-of trio (backward join_asof, forward join_asof_forward).
    Ties at equal distance break toward the earlier purchase, then
    event_id — spelled out in both engines, never left to the planner.

    Plan: a banded self-join on (user_id, ±30min) — an equi-join on
    user with a range predicate, NOT a cartesian — then one window
    picks the per-error minimum-distance candidate. At 100 TB the band
    join keys on (user_id, ts-bucket) so each side joins only adjacent
    time buckets; the same shape join_interval_overlap pins."""
    ev = table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_eid"),
    )
    cand = err.join(
        pur,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("p_ts") <= F.col("ts") + F.expr("INTERVAL 30 MINUTES")),
    ).withColumn(
        "adist",
        F.abs(F.unix_micros(F.col("p_ts").cast("timestamp"))
              - F.unix_micros(F.col("ts").cast("timestamp"))),
    )
    w = Window.partitionBy("event_id").orderBy("adist", "p_ts", "p_eid")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("p_ts").alias("nearest_purchase_ts"),
            F.col("adist").alias("abs_gap_us"),
        )
    )


@query(
    "events_windowed_funnel",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts,
             MAX(CASE WHEN event_type = 'view' THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS last_view_ts
      FROM events
    )
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'view') AS n_views,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
           COUNT(*) FILTER (
             WHERE event_type = 'purchase'
               AND last_view_ts IS NOT NULL
               AND last_view_ts >= ts - INTERVAL 1 HOUR
           ) AS n_converted
    FROM seq GROUP BY user_id
    """,
)
def events_windowed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded funnel conversion: a purchase "converts" only if
    the same user VIEWED within the preceding hour — the
    attribution-window semantics real funnels use (events_funnel is the
    unbounded-order variant). One ordered window per user tracks the
    most recent prior view (CASE-null max over an
    exclude-current-row frame, ties broken by event_id), so conversion
    is a row-local predicate afterwards — no purchases×views self-join.

    Scale: single shuffle on user_id; the window state is one
    timestamp per user. The self-join formulation this replaces is
    quadratic per user in bursty traffic; the running-max is O(n) and
    incremental — the same shape Structured Streaming runs with a
    30-line state handler (stream_stateful_counts)."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_view = F.max(
        F.when(F.col("event_type") == "view", F.col("ts"))
    ).over(w)
    seq = ev.select("user_id", "event_type", "ts", last_view.alias("last_view_ts"))
    is_view = (F.col("event_type") == "view").cast("long")
    is_purchase = (F.col("event_type") == "purchase").cast("long")
    converted = (
        (F.col("event_type") == "purchase")
        & F.col("last_view_ts").isNotNull()
        & (F.col("last_view_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR"))
    ).cast("long")
    return seq.groupBy("user_id").agg(
        F.sum(is_view).alias("n_views"),
        F.sum(is_purchase).alias("n_purchases"),
        F.sum(converted).alias("n_converted"),
    )


@query(
    "events_bounce_rate",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR date_diff('second', LAG(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS session_idx
      FROM marked
    ), sessions AS (
      SELECT user_id, session_idx, MIN(ts) AS session_start,
             COUNT(*) AS n_events
      FROM numbered GROUP BY user_id, session_idx
    )
    SELECT CAST(CAST(session_start AS DATE) AS TIMESTAMP) AS day,
           COUNT(*) AS n_sessions,
           COUNT(CASE WHEN n_events = 1 THEN 1 END) AS n_bounces,
           round(COUNT(CASE WHEN n_events = 1 THEN 1 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS bounce_rate
    FROM sessions GROUP BY CAST(session_start AS DATE)
    """,
)
def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of sessions (30-min-gap sessionization,
    identical to events_sessionize — whose session frame this REUSES)
    containing exactly one event, keyed by session-start day — the
    engagement-health headline every product dashboard carries.

    Determinism: session numbering inherits the (ts, event_id)
    tie-break law; the rate is one mirrored integer division rounded
    6 dp. Scale: the one user_id shuffle from sessionization, then a
    partial-agg rollup on ~30 day keys."""

    sessions = events_sessionize(spark, sf_dir)
    bounce = F.when(F.col("n_events") == 1, 1)
    return (
        sessions.groupBy(
            F.to_date("session_start").cast("timestamp_ntz").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.count(bounce).alias("n_bounces"),
            F.round(
                F.count(bounce) / F.count(F.lit(1)).cast("double"), 6
            ).alias("bounce_rate"),
        )
    )


#: Session gap threshold: a pause longer than this starts a new session.
_SESSION_GAP_S = 30 * 60


@query(
    "events_sessionize",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR date_diff('second', LAG(ts) OVER w, ts)
                          > {_SESSION_GAP_S}
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS session_idx
      FROM marked
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT)
             AS duration_s
    FROM numbered
    GROUP BY user_id, session_idx
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based batch sessionization: a user's events split into
    sessions wherever the pause exceeds 30 minutes; one output row per
    session with its bounds, event count, and duration.

    The classic rewrite: LAG to mark session starts, running SUM of the
    marks to number sessions, groupBy(user, session_idx) to summarize.
    Adjacency is pinned to the (ts, event_id) total order — the
    engine-wide tie-break law — so session numbering is identical
    across engines and partitionings.

    Scale: ONE shuffle by user_id serves the lag, the running sum, and
    (via partial aggregation) the session rollup — Spark reuses the
    same sort order for both windows. A user's history must fit an
    executor's sort spill — the standard sessionization contract; no
    self-join, no state blow-up. This is the batch twin of
    stream_session (session windows with the same 30-min gap)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    marked = ev.withColumn(
        "is_new",
        F.when(gap_s.isNull() | (gap_s > _SESSION_GAP_S), 1).otherwise(0),
    )
    numbered = marked.withColumn(
        "session_idx",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return numbered.groupBy("user_id", "session_idx").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).alias("duration_s"),
    )


#: Synthetic interval length for the concurrency sweep: each event
#: holds a resource for 15 minutes from its timestamp.
_HOLD_S = 15 * 60


@query(
    "events_max_concurrent",
    oracle=f"""
    WITH deltas AS (
      SELECT ts AS t, 1 AS delta FROM events
      UNION ALL
      SELECT ts + INTERVAL {_HOLD_S} SECOND AS t, -1 AS delta FROM events
    ), swept AS (
      SELECT t, CAST(SUM(delta) OVER (ORDER BY t, delta
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS live
      FROM deltas
    )
    SELECT CAST(CAST(t AS DATE) AS TIMESTAMP) AS day,
           MAX(live) AS max_concurrent
    FROM swept
    GROUP BY CAST(t AS DATE)
    """,
)
def events_max_concurrent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day via the sweep line: every event opens a
    15-minute hold; +1/-1 deltas at open/close, a running sum ordered by
    (time, delta), and the per-day MAX of the live count.

    Ordering deltas ascending at equal timestamps (-1 before +1) makes
    the holds half-open [t, t+15m) — a close and an open at the same
    instant never double-count. Ties beyond (t, delta) are harmless by
    construction: within a tie group all deltas are equal, so the set of
    running values the group contributes — and therefore its MAX — is
    order-independent.

    Scale: the naive count-overlaps self-join is O(n·k); the sweep is a
    UNION ALL (map-only) plus the two-pass range-partitioned prefix sum
    of functions/total_order.py — the delta frame is 2·|events|, so a
    partitionless window would be the single-task trap. Tie groups that
    straddle a range boundary still yield the same per-group SET of
    running values (consecutive prefix slots), so the per-day MAX is
    unchanged — the same argument that makes in-group ordering
    irrelevant."""
    ev = table(spark, sf_dir, "events")
    opens = ev.select(F.col("ts").alias("t"), F.lit(1).alias("delta"))
    closes = ev.select(
        (F.col("ts") + F.expr(f"INTERVAL {_HOLD_S} SECOND")).alias("t"),
        F.lit(-1).alias("delta"),
    )
    swept = attach_global_order(
        opens.unionAll(closes),
        [F.asc("t"), F.asc("delta")],
        cumsums=[("delta", "live")],
    ).select("t", "live")
    return swept.groupBy(
        F.to_date("t").cast("timestamp_ntz").alias("day")
    ).agg(F.max("live").alias("max_concurrent"))


@query(
    "events_pattern_funnel_runs",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), islands_raw AS (
      SELECT user_id, event_type,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS island
      FROM marked
    ), islands AS (
      SELECT user_id, island, event_type, COUNT(*) AS run_len
      FROM islands_raw GROUP BY user_id, island, event_type
    ), pat AS (
      SELECT user_id, event_type,
             LAG(event_type, 1) OVER wi AS prev1,
             LAG(event_type, 2) OVER wi AS prev2,
             LAG(run_len, 1) OVER wi AS click_run
      FROM islands
      WINDOW wi AS (PARTITION BY user_id ORDER BY island)
    )
    SELECT user_id, COUNT(*) AS n_matches,
           CAST(SUM(click_run) AS BIGINT) AS clicks_consumed
    FROM pat
    WHERE event_type = 'purchase' AND prev1 = 'click' AND prev2 = 'view'
    GROUP BY user_id
    """,
)
def events_pattern_funnel_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-pattern matching (the MATCH_RECOGNIZE capability class):
    find every occurrence of the pattern view → click+ → purchase in
    each user's event sequence — a purchase immediately preceded by an
    unbroken run of one-or-more clicks, itself immediately preceded by
    a view. Variable-length patterns defeat fixed-offset LAG on raw
    rows; the rewrite is run-length ("island") compression first —
    consecutive same-type events collapse to one island row — after
    which the variable-length `click+` is a SINGLE island and the
    pattern is a fixed 2-step lag over islands.

    Per match the output also sums the click-run length (the `B+`
    greedy capture a MATCH_RECOGNIZE MEASURES clause would report).
    Adjacency is pinned to the engine-wide (ts, event_id) total order.

    Scale: one shuffle on user_id serves the row-level island
    numbering, the island rollup (hash(user_id) satisfies the
    clustered distribution), and the island-level lags — the same
    single-shuffle shape as events_sessionize; nothing scans pattern
    candidates quadratically."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.withColumn(
        "is_new",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        ).otherwise(0),
    )
    islands_raw = marked.withColumn(
        "island",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    islands = islands_raw.groupBy("user_id", "island", "event_type").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    wi = Window.partitionBy("user_id").orderBy("island")
    pat = islands.select(
        "user_id",
        "event_type",
        F.lag("event_type", 1).over(wi).alias("prev1"),
        F.lag("event_type", 2).over(wi).alias("prev2"),
        F.lag("run_len", 1).over(wi).alias("click_run"),
    )
    return (
        pat.filter(
            (F.col("event_type") == "purchase")
            & (F.col("prev1") == "click")
            & (F.col("prev2") == "view")
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.sum("click_run").alias("clicks_consumed"),
        )
    )


@query(
    "events_user_lifecycle",
    oracle="""
    WITH active AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS m
      FROM events
    ),
    flagged AS (
      SELECT user_id, m,
             LAG(m) OVER (PARTITION BY user_id ORDER BY m) AS prev_m,
             MIN(m) OVER (PARTITION BY user_id) AS first_m
      FROM active
    ),
    states AS (
      SELECT m,
             CASE WHEN m = first_m THEN 'new'
                  WHEN prev_m = m - 1 THEN 'retained'
                  ELSE 'resurrected' END AS state
      FROM flagged
    ),
    churn AS (
      SELECT m + 1 AS m, 'churned' AS state
      FROM flagged f
      WHERE NOT EXISTS (
        SELECT 1 FROM active a
        WHERE a.user_id = f.user_id AND a.m = f.m + 1
      )
      AND m + 1 <= (SELECT MAX(m) FROM active)
    )
    SELECT m AS day_idx, state, COUNT(*) AS n_users
    FROM (SELECT * FROM states UNION ALL SELECT * FROM churn)
    GROUP BY m, state
    """,
)
def events_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily user lifecycle accounting (epoch-day periods — the events
    fixture spans one month, so days are the natural grain; swap 86400
    for any period length): every active (user, day) is exactly one of
    new (first day ever), retained (also active the previous day), or
    resurrected (active before, but not yesterday); churned counts
    users active on d−1 who vanish on d (within the observed range).
    The growth-accounting identity every subscription dashboard runs —
    and the composite of window-lag, first-value, anti-join-existence,
    and period arithmetic.

    All integer day indexes and exact counts. Scale: the distinct
    (user, day) frame is the only shuffle (partial-agg map-side); the
    lag/min windows partition BY USER (never global), and the churn
    check is a self anti-join on the same partitioning."""
    ev = table(spark, sf_dir, "events")
    active = (
        ev.select(
            "user_id",
            F.expr("unix_timestamp(cast(ts as timestamp)) div 86400").alias("m"),
        )
        .distinct()
    )
    wu = Window.partitionBy("user_id").orderBy("m")
    wall = Window.partitionBy("user_id")
    flagged = active.select(
        "user_id",
        "m",
        F.lag("m").over(wu).alias("prev_m"),
        F.min("m").over(wall).alias("first_m"),
    )
    states = flagged.select(
        "m",
        F.when(F.col("m") == F.col("first_m"), "new")
        .when(F.col("prev_m") == F.col("m") - 1, "retained")
        .otherwise("resurrected")
        .alias("state"),
    )
    max_m = active.agg(F.max("m").alias("max_m"))
    cand = flagged.select("user_id", (F.col("m") + 1).alias("m"))
    churn = (
        cand.join(active, ["user_id", "m"], "left_anti")
        .crossJoin(F.broadcast(max_m))
        .filter(F.col("m") <= F.col("max_m"))
        .select("m", F.lit("churned").alias("state"))
    )
    return (
        states.union(churn)
        .groupBy(F.col("m").alias("day_idx"), "state")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


#: top paths reported (deterministic tie-break on the path string)
_PATHS_K = 20


@query(
    "events_top_paths",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type, 1) OVER w AS e2,
             LEAD(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (
      SELECT event_type || '>' || e2 || '>' || e3 AS path,
             COUNT(*) AS n
      FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      GROUP BY 1
    )
    SELECT path, n FROM paths
    ORDER BY n DESC, path
    LIMIT {_PATHS_K}
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 20 three-step event paths across all user journeys —
    the Sankey/flow query product analytics runs beyond the pairwise
    transition matrix (events_transition_matrix): trigrams expose the
    detour patterns pairs can't (view>error>view vs view>view>error).

    Trigrams come from two LEADs over the per-user (ts, event_id)
    window — strictly partitioned by user, the same total order the
    sessionize family pins — then one count shuffle on the path string
    and a top-k with the (n DESC, path ASC) deterministic tie-break.
    Scale: path cardinality is |event_types|³ (bounded, here ≤125), so
    the count pre-aggregates map-side and the top-k is a TakeOrdered
    over a tiny frame."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    paths = seq.groupBy(
        F.concat_ws(">", "event_type", "e2", "e3").alias("path")
    ).agg(F.count(F.lit(1)).alias("n"))
    return paths.orderBy(F.desc("n"), F.asc("path")).limit(_PATHS_K)


# ---------------------------------------------------------------------------
# events_markov_kstep
# ---------------------------------------------------------------------------

_MK_STEPS = 4

_MK_P1 = """
    nxt AS (
      SELECT event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    cnt AS (
      SELECT event_type, next_type, COUNT(*) AS n
      FROM nxt WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    ),
    p1 AS (
      SELECT event_type AS a, next_type AS b,
             n * 1.0 / SUM(n) OVER (PARTITION BY event_type) AS p
      FROM cnt
    )"""


def _mk_oracle() -> str:
    parts = [_MK_P1]
    for s in range(2, _MK_STEPS + 1):
        parts.append(f"""
    p{s} AS (
      SELECT x.a, y.b, {dsum_sql('round(x.p * y.p, 12)')} AS p
      FROM p{s - 1} x JOIN p1 y ON y.a = x.b
      GROUP BY x.a, y.b
    )""")
    return f"""WITH {",".join(parts)}
    SELECT a AS event_type, b AS next_type,
           round(p, 6) AS p{_MK_STEPS}
    FROM p{_MK_STEPS}"""


@query("events_markov_kstep", oracle=_mk_oracle())
def events_markov_kstep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-step behavior forecast: (P⁴)[a,b] — the probability a user in
    state ``a`` is in state ``b`` four interactions later — computed by
    unrolled sparse multiplies of the first-order transition matrix
    (``events_transition_matrix`` is P¹; this is the planning horizon
    a campaign system actually asks about).

    Determinism: P¹ entries are exact-int counts with one IEEE
    division; every multiply term is rounded at 12 dp and decimal-
    summed over the intermediate state (order-independent), so each
    power is bit-identical in both engines; output rounded 6 dp.

    Scale: the raw-event work is ONE user-partitioned lag shuffle +
    one map-side-combined count (identical to P¹); every multiply
    joins (state, state) tables whose size is |event_types|² — domain-
    bounded, broadcast-joined, constant cost no matter the corpus."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cnt = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wt = Window.partitionBy("event_type")
    # persist the |types|²-bounded P¹ (≤25 rows): the unrolled powers
    # reference it once per step, and without a barrier each reference
    # re-evaluates the data-sized lag window + count (r14 plan audit:
    # 15 exchanges)
    p1 = cnt.select(
        F.col("event_type").alias("a"),
        F.col("next_type").alias("b"),
        (F.col("n") * 1.0 / F.sum("n").over(wt)).alias("p"),
    ).persist()
    pk = p1
    for _ in range(_MK_STEPS - 1):
        x = pk.select(F.col("a"), F.col("b").alias("m"), F.col("p").alias("px"))
        y = p1.select(
            F.col("a").alias("m"), F.col("b"), F.col("p").alias("py")
        )
        pk = (
            x.join(F.broadcast(y), "m")
            .groupBy("a", "b")
            .agg(
                F.sum(F.round(F.col("px") * F.col("py"), 12).cast(DEC))
                .cast("double")
                .alias("p")
            )
        )
    return pk.select(
        F.col("a").alias("event_type"),
        F.col("b").alias("next_type"),
        F.round("p", 6).alias(f"p{_MK_STEPS}"),
    )


_VCENTS = "CAST(round(value * 100) AS BIGINT)"


#: wide-decimal accumulator for products of cents sums (int64-safe
#: far beyond 100 TB row counts)
_DEC38 = "decimal(38,0)"


# ---------------------------------------------------------------------------
# events_uplift_cuped
# ---------------------------------------------------------------------------

_CUPED_SPLIT = "2024-01-16"


@query(
    "events_uplift_cuped",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN ((user_id % 3221225473) * 2654435761) % 100 < 50
                  THEN 'A' ELSE 'B' END AS arm,
             SUM(CASE WHEN ts < TIMESTAMP '{_CUPED_SPLIT}'
                      THEN {_VCENTS} ELSE 0 END) AS x,
             SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_SPLIT}'
                      THEN {_VCENTS} ELSE 0 END) AS y
      FROM events GROUP BY user_id
    ),
    pool AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE) AS syy
      FROM per_user
    ),
    arms AS (
      SELECT arm, COUNT(*) AS n_users,
             CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS ax,
             CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS ay
      FROM per_user GROUP BY arm
    )
    SELECT a.arm, CAST(a.n_users AS BIGINT) AS n_users,
           round(a.ay / a.n_users / 100.0, 6) AS mean_y,
           round((a.ay / a.n_users
                  - ((p.n * p.sxy - p.sx * p.sy)
                     / (p.n * p.sxx - p.sx * p.sx))
                    * (a.ax / a.n_users - p.sx / p.n)) / 100.0, 6)
             AS mean_y_adj,
           round((p.n * p.sxy - p.sx * p.sy)
                 / (p.n * p.sxx - p.sx * p.sx), 6) AS theta,
           round(((p.n * p.sxy - p.sx * p.sy)
                  * (p.n * p.sxy - p.sx * p.sy))
                 / ((p.n * p.sxx - p.sx * p.sx)
                    * (p.n * p.syy - p.sy * p.sy)), 6) AS var_reduction
    FROM arms a CROSS JOIN pool p
    """,
)
def events_uplift_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout: users split by the
    events_ab_lift hash; X = pre-period spend (before {_CUPED_SPLIT}),
    Y = post-period spend; θ = cov(X,Y)/var(X) POOLED across arms (the
    standard choice — arm-specific θ leaks outcome information); the
    adjusted arm mean is mean_Y − θ·(mean_X_arm − mean_X_pool), and
    var_reduction = corr(X,Y)² is the fraction of outcome variance the
    covariate removes — the quantity that decides whether the
    experiment can be shortened.

    Every statistic is a CLOSED FORM over exact integer-cents moment
    sums (Σx, Σy, Σxy, Σxx, Σyy in 38-digit decimal accumulators —
    int64-safe at any corpus scale), converted to double once and
    combined with identical parenthesization in both engines; no
    per-row float accumulates anywhere.

    Scale: one groupBy(user) with map-side combine (the only data-
    sized shuffle), then a 1-row pooled reduction and a 2-row arm
    frame joined by broadcast."""
    ev = table(spark, sf_dir, "events")
    split = F.lit(_CUPED_SPLIT).cast("timestamp_ntz")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("ts") < split, F.expr(_VCENTS)).otherwise(0)
        ).alias("x"),
        F.sum(
            F.when(F.col("ts") >= split, F.expr(_VCENTS)).otherwise(0)
        ).alias("y"),
    ).select(
        F.when(
            ((F.col("user_id") % 3221225473) * 2654435761) % 100 < 50, "A"
        )
        .otherwise("B")
        .alias("arm"),
        "x",
        "y",
    )
    xd = F.col("x").cast(_DEC38)
    yd = F.col("y").cast(_DEC38)
    pool = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * F.col("y")).cast("double").alias("sxy"),
        F.sum(xd * F.col("x")).cast("double").alias("sxx"),
        F.sum(yd * F.col("y")).cast("double").alias("syy"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(xd).cast("double").alias("ax"),
        F.sum(yd).cast("double").alias("ay"),
    )
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    theta = cov / varx
    return arms.crossJoin(F.broadcast(pool)).select(
        "arm",
        F.col("n_users").cast("long").alias("n_users"),
        F.round(F.col("ay") / F.col("n_users") / 100.0, 6).alias("mean_y"),
        F.round(
            (
                F.col("ay") / F.col("n_users")
                - theta
                * (F.col("ax") / F.col("n_users") - F.col("sx") / F.col("n"))
            )
            / 100.0,
            6,
        ).alias("mean_y_adj"),
        F.round(theta, 6).alias("theta"),
        F.round((cov * cov) / (varx * vary), 6).alias("var_reduction"),
    )


# ---------------------------------------------------------------------------
# events_funnel_latency
# ---------------------------------------------------------------------------

@query(
    "events_funnel_latency",
    oracle="""
    WITH s AS (
      SELECT user_id, MIN(ts) AS t FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    v AS (
      SELECT e.user_id, MIN(e.ts) AS t
      FROM events e JOIN s ON s.user_id = e.user_id AND e.ts > s.t
      WHERE e.event_type = 'view' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t
      FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ),
    gaps AS (
      SELECT 'signup_to_view' AS stage, s.user_id,
             CAST(date_diff('second', s.t, v.t) AS BIGINT) AS gap_s
      FROM s JOIN v ON v.user_id = s.user_id
      UNION ALL
      SELECT 'view_to_purchase', v.user_id,
             CAST(date_diff('second', v.t, p.t) AS BIGINT)
      FROM v JOIN p ON p.user_id = v.user_id
    ),
    ranked AS (
      SELECT stage, gap_s,
             ROW_NUMBER() OVER (PARTITION BY stage
                                ORDER BY gap_s, user_id) AS r,
             COUNT(*) OVER (PARTITION BY stage) AS n
      FROM gaps
    )
    SELECT stage, CAST(MAX(n) AS BIGINT) AS n_users,
           round(CAST(SUM(gap_s) AS DOUBLE) / MAX(n) / 60.0, 6)
             AS mean_minutes,
           round(MAX(CASE WHEN r = CAST(ceil(0.5 * n) AS BIGINT)
                     THEN gap_s END) / 60.0, 6) AS p50_minutes,
           round(MAX(CASE WHEN r = CAST(ceil(0.9 * n) AS BIGINT)
                     THEN gap_s END) / 60.0, 6) AS p90_minutes
    FROM ranked GROUP BY stage
    """,
)
def events_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel transition timing: for users who progress signup → view →
    purchase in strict time order (events_funnel's step semantics),
    the per-transition latency profile — count, mean, and EXACT p50/p90
    (order statistics at rank ⌈q·n⌉, not interpolations) in minutes.
    The question a growth team asks after the conversion counts: where
    does the funnel stall.

    Both stages rank in ONE total-order kernel pass over the stacked
    (stage, gap, user) frame — stage leads the range sort, so each
    stage's block is contiguous and the within-stage rank is the
    global rank minus the stage offset (a 2-row broadcast; the RFM
    pattern, but with unequal block sizes so offsets come from counts
    rather than arithmetic).

    Determinism: gaps are exact epoch-second integers; mean is one
    exact-sum division; percentile ranks are integers; ties rank by
    user_id.

    Scale: three filtered per-user MIN aggregates whose inputs shrink
    monotonically (funnel survivors only), then the kernel's one range
    shuffle over ≤ 2·|converters| rows."""
    ev = table(spark, sf_dir, "events")
    # persist each funnel stage: s is referenced by v and g1, v by p,
    # g1 and g2, and the stacked gaps frame by both the rank kernel
    # and the stage-counts branch — without barriers the events scans
    # re-evaluate once per reference (r14 plan audit: 29 exchanges)
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts_s"))
        .persist()
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("ts_s"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts_v"))
        .persist()
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("ts_v"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts_p"))
    )
    g1 = s.join(v, "user_id").select(
        F.lit("signup_to_view").alias("stage"),
        "user_id",
        (F.unix_timestamp("ts_v") - F.unix_timestamp("ts_s")).alias("gap_s"),
    )
    g2 = v.join(p, "user_id").select(
        F.lit("view_to_purchase").alias("stage"),
        "user_id",
        (F.unix_timestamp("ts_p") - F.unix_timestamp("ts_v")).alias("gap_s"),
    )
    gaps = g1.unionAll(g2).persist()
    ranked = attach_global_order(
        gaps, [F.asc("stage"), F.asc("gap_s"), F.asc("user_id")], rn="grn"
    )
    offs = gaps.groupBy("stage").agg(F.count(F.lit(1)).alias("n"))
    # per-stage offset = rows in preceding stage blocks; 2 rows total
    # bounded-window: exclusive prefix over the 2-row stage-counts frame
    from pyspark.sql import Window as W

    w_off = W.orderBy("stage").rowsBetween(W.unboundedPreceding, -1)
    offs = offs.withColumn(
        "off", F.coalesce(F.sum("n").over(w_off), F.lit(0))
    )
    r = (
        ranked.join(F.broadcast(offs), "stage")
        .withColumn("r", F.col("grn") - F.col("off"))
    )
    return r.groupBy("stage").agg(
        F.max("n").cast("long").alias("n_users"),
        F.round(F.sum("gap_s").cast("double") / F.max("n") / 60.0, 6).alias(
            "mean_minutes"
        ),
        F.round(
            F.max(
                F.when(
                    F.col("r") == F.ceil(0.5 * F.col("n")).cast("long"),
                    F.col("gap_s"),
                )
            )
            / 60.0,
            6,
        ).alias("p50_minutes"),
        F.round(
            F.max(
                F.when(
                    F.col("r") == F.ceil(0.9 * F.col("n")).cast("long"),
                    F.col("gap_s"),
                )
            )
            / 60.0,
            6,
        ).alias("p90_minutes"),
    )


# ---------------------------------------------------------------------------
# events_burstiness
# ---------------------------------------------------------------------------


@query(
    "events_burstiness",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS gap
      FROM events
    ),
    g AS (SELECT event_type, gap FROM seq WHERE gap IS NOT NULL),
    m AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(gap AS DECIMAL(38,0))) AS DOUBLE) AS s,
             CAST(SUM(CAST(gap AS DECIMAL(38,0)) * gap) AS DOUBLE) AS ssq
      FROM g GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_gaps,
           round((s / n) / 1000000.0, 6) AS mean_gap_sec,
           round(sqrt(GREATEST((ssq - s * (s / n)) / n, 0)) / (s / n), 6) AS cv,
           round((sqrt(GREATEST((ssq - s * (s / n)) / n, 0)) - (s / n))
                 / (sqrt(GREATEST((ssq - s * (s / n)) / n, 0)) + (s / n)), 6)
             AS burstiness
    FROM m WHERE n >= 2 AND s > 0
    """,
)
def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interarrival-time signature per event type: gap count, mean gap,
    coefficient of variation σ/μ, and the Goh-Barabási burstiness
    index B = (σ−μ)/(σ+μ) ∈ (−1, 1). A memoryless Poisson stream has
    CV ≈ 1 and B ≈ 0; periodic heartbeats push B → −1; human/bursty
    retry traffic pushes B → +1. The behavioral fingerprint run before
    any rate-based alerting — it tells which event types even HAVE a
    stable rate (and is the diagnostic behind the sessionize gap
    threshold).

    Scale: one window PARTITIONED by event type (the per-entity
    sequence shuffle), then a per-type aggregate with map-side
    combine — two shuffles on the type key, nothing global.

    Determinism: gaps are exact integer microseconds (epoch_us on
    both engines) under the total (ts, event_id) order; all moments
    are exact decimal sums cast to double once; σ, CV, and B combine
    them with mirrored parenthesization, rounded at 6 dp."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    seq = ev.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    gd = F.col("gap").cast(_DEC38)
    m = seq.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(gd).cast("double").alias("s"),
        F.sum(gd * F.col("gap")).cast("double").alias("ssq"),
    )
    mu = F.col("s") / F.col("n")
    # GREATEST-guard (ADVICE r7): near-constant series can round the
    # variance to a tiny negative; DuckDB sqrt raises where Spark NaNs
    sig = F.sqrt(
        F.greatest((F.col("ssq") - F.col("s") * mu) / F.col("n"), F.lit(0.0))
    )
    return m.filter((F.col("n") >= 2) & (F.col("s") > 0)).select(
        "event_type",
        F.col("n").cast("long").alias("n_gaps"),
        F.round(mu / 1000000.0, 6).alias("mean_gap_sec"),
        F.round(sig / mu, 6).alias("cv"),
        F.round((sig - mu) / (sig + mu), 6).alias("burstiness"),
    )


# --------------------------------------------------------------------------
# events_power_mde
# --------------------------------------------------------------------------

#: z-quantiles for α = 0.05 two-sided and 80% power, as shared double
#: literals (scipy.stats.norm.ppf(0.975) / ppf(0.8), 9 dp — constants,
#: not computed, so both engines parse the identical decimal text).
_Z_ALPHA = 1.959963985
_Z_POWER = 0.841621234
#: "conversion" = event value ≥ 75 (the fixture's value field is
#: ~uniform 0-100, so p ≈ 0.25 per segment)
_MDE_CONV = 75.0


@query(
    "events_power_mde",
    oracle=f"""
    WITH seg AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN value >= {_MDE_CONV} THEN 1 ELSE 0 END)
                  AS BIGINT) AS conv
      FROM events GROUP BY event_type
    )
    SELECT event_type, n, conv,
           round(conv * 1.0 / n, 6) AS p,
           round(({_Z_ALPHA} + {_Z_POWER})
                 * sqrt(2.0 * (conv * 1.0 / n) * (1.0 - conv * 1.0 / n)
                        / (n / 2.0)), 6) AS mde_abs
    FROM seg
    """,
)
def events_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect per event segment for a 50/50 A/B
    split of that segment's traffic at α = 0.05 (two-sided), 80% power:
    MDE ≈ (z_{{1−α/2}} + z_{{power}})·√(2p(1−p)/(n/2)) — the
    experiment-sizing readout that tells a team which segments are big
    enough to measure a given lift in, before they burn a test cycle.

    Determinism: n/conv are exact integers; z-quantiles are fixed
    literals; the MDE is one mirrored sqrt expression (IEEE sqrt is
    correctly rounded — deterministic in both engines) rounded 6 dp.
    Scale: one map-side-combined groupBy to |segments| rows."""
    e = table(spark, sf_dir, "events")
    seg = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("value") >= _MDE_CONV, 1).otherwise(0)).alias(
            "conv"
        ),
    )
    p = F.col("conv") * F.lit(1.0) / F.col("n").cast("double")
    mde = (F.lit(_Z_ALPHA) + F.lit(_Z_POWER)) * F.sqrt(
        F.lit(2.0) * p * (F.lit(1.0) - p) / (F.col("n").cast("double") / F.lit(2.0))
    )
    return seg.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("conv").cast("long").alias("conv"),
        F.round(p, 6).alias("p"),
        F.round(mde, 6).alias("mde_abs"),
    )


# --------------------------------------------------------------------------
# events_srm_check
# --------------------------------------------------------------------------

#: deterministic 50/50 arm assignment: multiplicative hash of user_id
#: (overflow audit: max user_id < 2³¹, 2³¹·2654435761 ≈ 5.8e18 < 2⁶³),
#: then parity — the hash decorrelates the arm from any id-ordered
#: ingestion artifact a plain id % 2 would inherit.
_SRM_ARM = "((user_id * 2654435761) % 2147483647) % 2"
#: χ²(1 df) critical value at α = 0.05 — literal, not computed
_SRM_CRIT = 3.841458821


@query(
    "events_srm_check",
    oracle=f"""
    WITH u AS (
      SELECT DISTINCT user_id FROM events
    ),
    arms AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(CASE WHEN {_SRM_ARM} = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_b
      FROM u
    )
    SELECT n_users, n_users - n_b AS arm_a, n_b AS arm_b,
           round((n_users - 2.0 * n_b) * (n_users - 2.0 * n_b) / n_users, 6)
             AS chi2,
           CASE WHEN (n_users - 2.0 * n_b) * (n_users - 2.0 * n_b) / n_users
                     > {_SRM_CRIT}
                THEN 1 ELSE 0 END AS srm_flag
    FROM arms
    """,
)
def events_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check for a 50/50 experiment split:
    deterministic hash-parity arm assignment over distinct users, then
    the 1-df χ² against the expected even split ((a−b)²/n for equal
    expecteds) and a flag at the α = 0.05 critical value — the first
    health check any A/B readout must pass before lift numbers mean
    anything (an SRM means the assignment or logging pipeline is
    biased, not the treatment).

    Determinism: the arm is an exact integer hash (overflow-audited
    multiplicative family); counts are exact; χ² is one mirrored
    double expression; the flag compares that identical double to a
    literal. Scale: distinct-users is one shuffle on user_id; the rest
    is a 1-row aggregate."""
    e = table(spark, sf_dir, "events")
    u = e.select("user_id").distinct()
    arms = u.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(
            F.when(F.expr(_SRM_ARM) == 1, 1).otherwise(0)
        ).alias("n_b"),
    )
    chi2 = (
        (F.col("n_users") - F.lit(2.0) * F.col("n_b"))
        * (F.col("n_users") - F.lit(2.0) * F.col("n_b"))
        / F.col("n_users")
    )
    return arms.select(
        F.col("n_users").cast("long").alias("n_users"),
        (F.col("n_users") - F.col("n_b")).cast("long").alias("arm_a"),
        F.col("n_b").cast("long").alias("arm_b"),
        F.round(chi2, 6).alias("chi2"),
        F.when(chi2 > F.lit(_SRM_CRIT), 1).otherwise(0).alias("srm_flag"),
    )
