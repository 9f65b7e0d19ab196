"""Customer-journey analytics: RFM segmentation, U-shaped multi-touch
attribution, and linear time-series interpolation — the marketing/
feature-engineering tier on top of the event and order facts.

Engine-parity ground rules:

- NTILE over a UNIQUE total order (metric, then custkey) — both
  engines implement SQL-standard NTILE (first n mod k buckets take the
  extra row), so identical ordering ⇒ identical bucket assignment.
- Attribution credit is integer micro-units (0.4 → 400000), with the
  middle-touch split a truncating integer division — exact BIGINT
  sums, no float path to the hash.
- Interpolation combines exact decimal daily sums through one double
  expression mirrored textually in the oracle, rounded to 6 dp.

Scale: RFM is one partial-agg pass over orders plus three windows over
the (much smaller) per-customer frame; attribution filters to touch
events before shuffling once on user_id; interpolation joins a
sequence-generated day grid (types × days, tiny) against
pre-aggregated daily sums, never against raw events.

Co-occurrence (market-basket pairs, ``basket_brand_pairs_lift``) is
the controlled quadratic: the blow-up is per-basket k², bounded by
basket size, never corpus².
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_sample_spark.functions.determinism import _CENTS, cents_sql
from python_etl_sample_spark.functions.total_order import (
    attach_global_order,
    ntile_from_rank,
)
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table


@query(
    "events_rfm_segmentation",
    oracle=f"""
    WITH ref AS (SELECT MAX(o_orderdate) AS d0 FROM orders),
    cust AS (
      SELECT o_custkey,
             date_diff('day', MAX(o_orderdate), (SELECT d0 FROM ref))
               AS recency_days,
             COUNT(*) AS frequency,
             CAST(SUM({_CENTS}) AS BIGINT) AS monetary_cents
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT NTILE(5) OVER (ORDER BY recency_days DESC, o_custkey) AS r_score,
             NTILE(5) OVER (ORDER BY frequency, o_custkey)         AS f_score,
             NTILE(5) OVER (ORDER BY monetary_cents, o_custkey)    AS m_score,
             monetary_cents
      FROM cust
    )
    SELECT r_score, f_score, m_score,
           COUNT(*) AS n_customers,
           ROUND(CAST(SUM(monetary_cents) AS DOUBLE) / 100.0 / COUNT(*), 6)
             AS avg_monetary
    FROM scored GROUP BY r_score, f_score, m_score
    """,
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation of
    customers from their order history: score each dimension 1-5 with
    NTILE over a unique order, then profile each of the ≤125 segments.

    Recency is days since last order relative to the corpus max date
    (a 1-row broadcast); higher score = more recent (DESC order puts
    the stalest customers in tile 1). Frequency and monetary score
    ascending. The quintiles are global over the per-customer frame —
    which grows with |customers| — so all three ranks come from ONE
    pass of the range-partitioned total-order kernel
    (functions/total_order.py) over a stacked (metric, sortval,
    custkey) frame of 3 rows per customer: metric leads the sort, so
    each metric's block is contiguous in the global order and holds
    exactly n rows, making the per-metric rank ``global_rn − metric·n``
    — no second structure, no per-dimension histogram joins. Recency's
    DESC order is encoded by using the epoch day of ``last_order``
    ASC as the sortval (later last order ⇔ smaller recency — identical
    ordering to recency DESC without materializing the subtraction).

    No partitionless window touches a data-sized frame (NTILE over the
    raw customer frame would be a single-task global sort); NTILE
    semantics are reproduced exactly by ntile_from_rank. The output is
    the segment-level profile — the thing a campaign system actually
    joins against. At 100 TB the stacked per-customer frame (3n rows of
    four longs) is the only sorted structure; everything upstream is
    map-side-combined aggregation."""
    o = table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.expr(_CENTS)).alias("monetary_cents"),
    )

    # one stacked frame: metric 0 = R, 1 = F, 2 = M. Recency DESC with
    # recency = datediff(d0, last_order) orders IDENTICALLY to
    # last_order ASC (d0 is a constant shift), so the R sortval is the
    # epoch day of the last order — the corpus-max-date reference scan
    # the oracle uses is unnecessary for RANKING. No extra payload:
    # metric 2's sortval IS monetary_cents, recovered in the pivot.
    stacked = cust.select(
        "o_custkey",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("metric"),
                    F.unix_date(F.to_date("last_order"))
                    .cast("long")
                    .alias("sortval"),
                ),
                F.struct(
                    F.lit(1).alias("metric"),
                    F.col("frequency").cast("long").alias("sortval"),
                ),
                F.struct(
                    F.lit(2).alias("metric"),
                    F.col("monetary_cents").cast("long").alias("sortval"),
                ),
            )
        ).alias("mv"),
    ).select("o_custkey", "mv.metric", "mv.sortval")

    # the kernel also emits the stacked total (3n) — no second
    # aggregation pass over orders just to learn n
    ranked = attach_global_order(
        stacked,
        [F.asc("metric"), F.asc("sortval"), F.asc("o_custkey")],
        rn="__grn",
        total_count="__n3",
    ).withColumn("__n", (F.col("__n3") / 3).cast("long"))
    # each metric block holds exactly n rows → per-metric rank is a
    # subtraction, and the quintile is computable per stacked row
    score = ntile_from_rank(
        F.col("__grn") - F.col("metric").cast("long") * F.col("__n"),
        F.col("__n"),
        5,
    )
    scored = (
        ranked.withColumn("__s", score)
        .groupBy("o_custkey")
        .agg(
            F.max(F.when(F.col("metric") == 0, F.col("__s"))).alias("r_score"),
            F.max(F.when(F.col("metric") == 1, F.col("__s"))).alias("f_score"),
            F.max(F.when(F.col("metric") == 2, F.col("__s"))).alias("m_score"),
            F.max(F.when(F.col("metric") == 2, F.col("sortval"))).alias(
                "monetary_cents"
            ),
        )
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(
            F.sum("monetary_cents").cast("double") / 100.0 / F.count(F.lit(1)), 6
        ).alias("avg_monetary"),
    )


@query(
    "attribution_position_weighted",
    oracle="""
    WITH conv AS (
      SELECT user_id, MIN(ts) AS first_purchase
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    touches AS (
      SELECT e.user_id, e.event_type, e.ts, e.event_id
      FROM events e JOIN conv c ON c.user_id = e.user_id
      WHERE e.event_type IN ('click', 'view') AND e.ts < c.first_purchase
    ),
    pos AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS pos,
             COUNT(*) OVER (PARTITION BY user_id) AS k
      FROM touches
    ),
    credited AS (
      SELECT event_type,
             CASE
               WHEN k = 1 THEN 1000000
               WHEN k = 2 THEN 500000
               WHEN pos = 1 OR pos = k THEN 400000
               ELSE 200000 // (k - 2)
             END AS micro
      FROM pos
    )
    SELECT event_type,
           COUNT(*) AS n_touches,
           CAST(SUM(micro) AS BIGINT) AS credit_micro,
           ROUND(CAST(SUM(micro) AS DOUBLE) / 1000000.0, 6) AS credit
    FROM credited GROUP BY event_type
    """,
)
def attribution_position_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution: for each
    converting user, the clicks/views STRICTLY before their first
    purchase share one unit of credit — 40% to the first touch, 40% to
    the last, the middle 20% split evenly — reported as total credit
    per channel (event type).

    Credit is integer micro-units so the 20%/(k-2) split truncates
    identically in both engines and sums stay exact BIGINTs
    (journeys of 1 or 2 touches collapse to 100% / 50-50). Shape: the
    conversion frame is a filtered aggregate, the touch frame filters
    to two event types BEFORE its one shuffle on user_id, and the
    position window is running state over each user's journey — the
    same plan at any fan-in."""
    ev = table(spark, sf_dir, "events")
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    touches = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .join(conv, "user_id")
        .filter(F.col("ts") < F.col("first_purchase"))
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pos = touches.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("pos"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("k"),
    )
    micro = (
        F.when(F.col("k") == 1, F.lit(1000000))
        .when(F.col("k") == 2, F.lit(500000))
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("k")), F.lit(400000))
        .otherwise(F.expr("200000 div (k - 2)"))
    )
    return (
        pos.select("event_type", micro.alias("micro"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("micro").alias("credit_micro"),
            F.round(F.sum("micro").cast("double") / 1000000.0, 6).alias("credit"),
        )
    )


@query(
    "ts_resample_interpolate",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num,
             CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS obs
      FROM events WHERE event_type IN ('purchase', 'signup')
      GROUP BY 1, 2
    ),
    bounds AS (SELECT MIN(day_num) AS d0, MAX(day_num) AS d1 FROM daily),
    grid AS (
      SELECT t.event_type, g.day_num
      FROM (SELECT DISTINCT event_type FROM daily) t
      CROSS JOIN (SELECT UNNEST(range((SELECT d0 FROM bounds),
                                      (SELECT d1 FROM bounds) + 1)) AS day_num) g
    ),
    joined AS (
      SELECT g.event_type, g.day_num, d.obs,
             CASE WHEN d.obs IS NULL THEN NULL ELSE g.day_num END AS obs_day
      FROM grid g LEFT JOIN daily d
        ON d.event_type = g.event_type AND d.day_num = g.day_num
    ),
    ctx AS (
      SELECT event_type, day_num, obs,
             LAST_VALUE(obs IGNORE NULLS) OVER w_prev  AS prev_val,
             LAST_VALUE(obs_day IGNORE NULLS) OVER w_prev AS prev_day,
             FIRST_VALUE(obs IGNORE NULLS) OVER w_next AS next_val,
             FIRST_VALUE(obs_day IGNORE NULLS) OVER w_next AS next_day
      FROM joined
      WINDOW
        w_prev AS (PARTITION BY event_type ORDER BY day_num
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_next AS (PARTITION BY event_type ORDER BY day_num
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, day_num,
           ROUND(CASE
             WHEN obs IS NOT NULL THEN obs
             WHEN prev_val IS NULL OR next_val IS NULL THEN NULL
             ELSE prev_val + (next_val - prev_val)
                  * (day_num - prev_day) / (next_day - prev_day)
           END, 6) AS value_filled,
           CASE WHEN obs IS NULL THEN 1 ELSE 0 END AS interpolated
    FROM ctx
    """,
)
def ts_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily resample of purchase/signup value with LINEAR interpolation
    of missing days — the numeric sibling of ts_gap_fill's zero-fill:
    gaps take the straight line between the nearest observed neighbors;
    days before the first / after the last observation stay NULL
    (interpolation, never extrapolation).

    Days travel as epoch-day BIGINTs (exact grid arithmetic), daily
    sums as exact decimals, and the one interpolation expression is
    mirrored textually in the oracle. Shape: raw events pre-aggregate
    per (type, day) BEFORE the grid join (the join touches ~types×days
    rows, not events); neighbor context is two ignore-nulls window
    passes — running state, not a per-row re-scan. At 100 TB the grid
    stays tiny by construction and the windows partition by type."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "signup")
    )
    day_num = F.expr("datediff(CAST(ts AS DATE), DATE'1970-01-01')")
    daily = ev.groupBy(
        "event_type", day_num.alias("day_num")
    ).agg(F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("obs"))
    bounds = daily.agg(F.min("day_num").alias("d0"), F.max("day_num").alias("d1"))
    grid = (
        daily.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day_num"),
        )
    )
    joined = grid.join(daily, ["event_type", "day_num"], "left").select(
        "event_type",
        "day_num",
        "obs",
        F.when(F.col("obs").isNotNull(), F.col("day_num")).alias("obs_day"),
    )
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("day_num")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("day_num")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    ctx = joined.select(
        "event_type",
        "day_num",
        "obs",
        F.last("obs", ignorenulls=True).over(w_prev).alias("prev_val"),
        F.last("obs_day", ignorenulls=True).over(w_prev).alias("prev_day"),
        F.first("obs", ignorenulls=True).over(w_next).alias("next_val"),
        F.first("obs_day", ignorenulls=True).over(w_next).alias("next_day"),
    )
    filled = (
        F.when(F.col("obs").isNotNull(), F.col("obs"))
        .when(F.col("prev_val").isNull() | F.col("next_val").isNull(), F.lit(None))
        .otherwise(
            F.col("prev_val")
            + (F.col("next_val") - F.col("prev_val"))
            * (F.col("day_num") - F.col("prev_day"))
            / (F.col("next_day") - F.col("prev_day"))
        )
    )
    return ctx.select(
        "event_type",
        "day_num",
        F.round(filled, 6).alias("value_filled"),
        F.when(F.col("obs").isNull(), F.lit(1)).otherwise(F.lit(0)).alias(
            "interpolated"
        ),
    )


@query(
    "ts_seasonal_naive_eval",
    oracle=f"""
    WITH monthly AS (
      SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
               AS month_key,
             CAST(year(o_orderdate) AS BIGINT) AS yr,
             CAST(SUM({_CENTS}) AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1, 2
    ),
    scored AS (
      SELECT cur.yr, cur.month_key, cur.rev_cents,
             prv.rev_cents AS forecast_cents,
             ABS(CAST(cur.rev_cents - prv.rev_cents AS DOUBLE))
               / cur.rev_cents AS ape
      FROM monthly cur JOIN monthly prv ON prv.month_key = cur.month_key - 100
    )
    SELECT yr,
           COUNT(*) AS n_months,
           ROUND(SUM(ape) / COUNT(*), 6) AS mape,
           ROUND(MAX(ape), 6) AS worst_ape
    FROM scored GROUP BY yr
    """,
)
def ts_seasonal_naive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast evaluation: predict each month's revenue
    as the SAME month one year earlier and report MAPE per year — the
    baseline every real forecasting pipeline must beat, and the
    backtesting shape (join actuals to lagged actuals, score, roll up)
    that evaluates any model at scale.

    Revenue is exact integer cents; month keys are yyyymm BIGINTs so
    the lag join is `month_key - 100` — a plain equi-join, no calendar
    arithmetic in the join key. The APE division is one double op
    mirrored textually in the oracle. At 100 TB the monthly frame is
    thousands of rows regardless of fact size — evaluation cost is
    decoupled from corpus size by the upstream partial agg."""
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("bigint")
        .alias("month_key"),
        F.year("o_orderdate").cast("bigint").alias("yr"),
    ).agg(F.sum(F.expr(_CENTS)).alias("rev_cents"))
    cur, prv = monthly.alias("cur"), monthly.alias("prv")
    scored = cur.join(
        prv, F.col("prv.month_key") == F.col("cur.month_key") - 100
    ).select(
        F.col("cur.yr").alias("yr"),
        (
            F.abs(
                (F.col("cur.rev_cents") - F.col("prv.rev_cents")).cast("double")
            )
            / F.col("cur.rev_cents")
        ).alias("ape"),
    )
    return scored.groupBy("yr").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.round(F.sum("ape") / F.count(F.lit(1)), 6).alias("mape"),
        F.round(F.max("ape"), 6).alias("worst_ape"),
    )


@query(
    "win_rolling_distinct_users",
    oracle="""
    WITH user_days AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num
      FROM events
    ),
    bounds AS (SELECT MIN(day_num) AS d0, MAX(day_num) AS d1 FROM user_days),
    contrib AS (
      SELECT DISTINCT ud.user_id, ud.day_num + o.off AS target_day
      FROM user_days ud
      CROSS JOIN (SELECT UNNEST(range(0, 7)) AS off) o
      WHERE ud.day_num + o.off <= (SELECT d1 FROM bounds)
    )
    SELECT target_day AS day_num,
           COUNT(DISTINCT user_id) AS active_7d
    FROM contrib
    WHERE target_day >= (SELECT d0 FROM bounds)
    GROUP BY target_day
    """,
)
def win_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the rolling
    DISTINCT aggregate that plain window frames cannot express (COUNT
    DISTINCT over a moving frame is unsupported in both engines'
    windows) and a self-join-per-day would turn quadratic.

    The scale-canonical rewrite: dedup to (user, day) once, then
    EXPLODE each user-day into the ≤7 target days it contributes to —
    a constant ×7 map-side expansion of the already-deduped frame —
    and one exact distinct-count per target day. No range join, no
    per-day rescan; at 100 TB the expansion factor stays 7 regardless
    of event volume because it applies AFTER the first dedup. Days
    travel as epoch-day BIGINTs; everything is exact integers."""
    ev = table(spark, sf_dir, "events")
    day_num = F.expr("datediff(CAST(ts AS DATE), DATE'1970-01-01')")
    user_days = ev.select(
        "user_id", day_num.alias("day_num")
    ).distinct()
    bounds = user_days.agg(
        F.min("day_num").alias("d0"), F.max("day_num").alias("d1")
    )
    contrib = (
        user_days.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("day_num"),
                    F.least(F.col("day_num") + 6, F.col("d1")),
                )
            ).alias("target_day"),
            "d0",
        )
        .filter(F.col("target_day") >= F.col("d0"))
        .select("user_id", "target_day")
        .distinct()
    )
    return contrib.groupBy(F.col("target_day").alias("day_num")).agg(
        F.countDistinct("user_id").alias("active_7d")
    )


@query(
    "win_sliding_median",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num,
             CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS rev
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, day_num,
           ROUND(rev, 6) AS rev,
           ROUND(CAST(quantile_cont(rev, 0.5) OVER (
                   PARTITION BY event_type ORDER BY day_num
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE), 6)
             AS median_7d
    FROM daily
    """,
)
def win_sliding_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day median of daily revenue per event type — the
    robust smoother (median, not mean) over a sliding window, the
    statistic a mean-based moving average cannot give you when a spike
    day lands in the frame.

    Both engines compute the interpolated median as an aggregate OVER
    the rows frame — the shared linear-at-rank-q·(n-1) definition the
    percentile family already pins — over exact decimal daily sums.
    Scale: the window runs on the per-(type, day) aggregate (calendar-
    sized), never on raw events; frames hold ≤7 values so window state
    is constant."""
    ev = table(spark, sf_dir, "events")
    day_num = F.expr("datediff(CAST(ts AS DATE), DATE'1970-01-01')")
    daily = ev.groupBy("event_type", day_num.alias("day_num")).agg(
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("rev")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_num")
        .rowsBetween(-6, 0)
    )
    return daily.select(
        "event_type",
        "day_num",
        F.round("rev", 6).alias("rev"),
        F.round(F.expr("percentile(rev, 0.5)").over(w), 6).alias("median_7d"),
    )


@query(
    "win_ratio_to_report",
    oracle=f"""
    WITH nation_rev AS (
      SELECT n.n_name AS nation, r.r_name AS region,
             CAST(SUM({cents_sql('o.o_totalprice')}) AS BIGINT)
               AS rev_cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY n.n_name, r.r_name
    )
    SELECT nation, region,
           ROUND(rev_cents / 100.0, 2) AS revenue,
           ROUND(CAST(rev_cents AS DOUBLE)
                 / SUM(rev_cents) OVER (PARTITION BY region), 6)
             AS share_of_region,
           ROUND(CAST(rev_cents AS DOUBLE) / SUM(rev_cents) OVER (), 6)
             AS share_of_total
    FROM nation_rev
    """,
)
def win_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RATIO_TO_REPORT — each nation's revenue as a share of its region
    and of the world, the canonical percent-of-total window (Oracle's
    RATIO_TO_REPORT, MDX's share calc) that turns an aggregate into a
    composition report without a second scan or a self-join.

    Shape: the fact table partial-aggregates down to 25 nation rows
    BEFORE any window; the two window sums then run over that tiny
    frame (one partitioned, one global). Shares divide exact integer
    cent sums, rounded 6 dp. The join chain broadcasts every dimension
    (customer→nation→region are all small next to orders)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    cents = F.expr(_CENTS)
    nation_rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(F.sum(cents).alias("rev_cents"))
    )
    w_region = Window.partitionBy("region")
    tot = nation_rev.agg(F.sum("rev_cents").alias("__tot"))
    return nation_rev.crossJoin(F.broadcast(tot)).select(
        "nation",
        "region",
        F.round(F.col("rev_cents") / 100.0, 2).alias("revenue"),
        F.round(
            F.col("rev_cents").cast("double") / F.sum("rev_cents").over(w_region),
            6,
        ).alias("share_of_region"),
        F.round(
            F.col("rev_cents").cast("double") / F.col("__tot"), 6
        ).alias("share_of_total"),
    )


@query(
    "events_dau_wau_mau",
    oracle="""
    WITH user_days AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num
      FROM events
    ),
    bounds AS (SELECT MIN(day_num) AS d0, MAX(day_num) AS d1 FROM user_days),
    contrib AS (
      SELECT DISTINCT ud.user_id, ud.day_num + o.off AS target_day, o.off
      FROM user_days ud
      CROSS JOIN (SELECT UNNEST(range(0, 30)) AS off) o
      WHERE ud.day_num + o.off <= (SELECT d1 FROM bounds)
    )
    SELECT target_day AS day_num,
           COUNT(DISTINCT CASE WHEN off = 0 THEN user_id END) AS dau,
           COUNT(DISTINCT CASE WHEN off < 7 THEN user_id END) AS wau,
           COUNT(DISTINCT user_id) AS mau,
           ROUND(CAST(COUNT(DISTINCT CASE WHEN off = 0 THEN user_id END)
                      AS DOUBLE)
                 / COUNT(DISTINCT user_id), 6) AS stickiness
    FROM contrib
    WHERE target_day >= (SELECT d0 FROM bounds) + 29
    GROUP BY target_day
    """,
)
def events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU and the DAU/MAU stickiness ratio per day — the
    product-analytics vital signs, all three trailing-distinct windows
    computed from ONE contribution expansion: each deduped (user, day)
    explodes to the ≤30 target days it supports, tagged with its
    offset, and conditional distincts split the same frame into the
    1 / 7 / 30-day actives. Days before a full 30-day window are
    dropped (no partial-window lies).

    Scale: identical posture to win_rolling_distinct_users — the ×30
    expansion applies AFTER the (user, day) dedup, so the factor is
    the window length, independent of event volume.

    r14 reshape (guide §2.3 "aggregate before you shuffle"): the
    "COUNT(DISTINCT user) with an offset condition" trio collapses to
    plain counts over min(off) — a user is MAU-active on a target day
    iff it has ANY contribution (offset 0..29), WAU-active iff its
    MINIMUM offset is < 7, DAU-active iff it is 0 — so ONE
    groupBy(user, target_day).min(off) (map-side-combined) replaces
    the 4-column contribution distinct AND the three conditional
    distincts whose Catalyst plan Expanded the ×30 frame another ×4.
    The final per-day rollup is then distinct-free partial-agg counts."""
    ev = table(spark, sf_dir, "events")
    day_num = F.expr("datediff(CAST(ts AS DATE), DATE'1970-01-01')")
    user_days = ev.select("user_id", day_num.alias("day_num")).distinct()
    bounds = user_days.agg(
        F.min("day_num").alias("d0"), F.max("day_num").alias("d1")
    )
    contrib = (
        user_days.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            "day_num",
            "d0",
            F.explode(
                F.sequence(
                    F.col("day_num"),
                    F.least(F.col("day_num") + 29, F.col("d1")),
                )
            ).alias("target_day"),
        )
        .filter(F.col("target_day") >= F.col("d0") + 29)
        .groupBy("user_id", "target_day")
        .agg(F.min(F.col("target_day") - F.col("day_num")).alias("min_off"))
    )
    return (
        contrib.groupBy(F.col("target_day").alias("day_num"))
        .agg(
            F.count(F.when(F.col("min_off") == 0, 1)).alias("dau"),
            F.count(F.when(F.col("min_off") < 7, 1)).alias("wau"),
            F.count(F.lit(1)).alias("mau"),
            F.round(
                F.count(F.when(F.col("min_off") == 0, 1)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("stickiness"),
        )
    )


@query(
    "events_cohort_ltv",
    oracle=f"""
    WITH first_order AS (
      SELECT o_custkey,
             MIN(year(o_orderdate) * 12 + month(o_orderdate)) AS cohort_m
      FROM orders GROUP BY o_custkey
    ),
    cohort_size AS (
      SELECT cohort_m, COUNT(*) AS n_customers
      FROM first_order GROUP BY cohort_m
    ),
    rev AS (
      SELECT f.cohort_m,
             (year(o.o_orderdate) * 12 + month(o.o_orderdate)) - f.cohort_m
               AS age_months,
             CAST(SUM({_CENTS}) AS BIGINT) AS rev_cents
      FROM orders o JOIN first_order f ON f.o_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT cohort_m, age_months,
             SUM(rev_cents) OVER (PARTITION BY cohort_m ORDER BY age_months
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_cents
      FROM rev
    )
    SELECT c.cohort_m AS cohort_month, c.age_months,
           s.n_customers,
           ROUND(CAST(c.cum_cents AS DOUBLE) / 100.0 / s.n_customers, 6)
             AS cum_ltv_per_customer
    FROM cum c JOIN cohort_size s ON s.cohort_m = c.cohort_m
    WHERE c.age_months <= 12
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime value: customers cohorted by first-order month,
    cumulative revenue per cohort member tracked by cohort age (capped
    at 12 months) — the money-dimension sibling of
    events_retention_cohort, and the curve a growth team reads to know
    when a cohort pays back.

    Months travel as y*12+m integers (exact lag arithmetic, no date
    truncation differences); revenue is exact cents; the cumulative
    window runs per cohort over ≤13 age rows. Shape: two partial-agg
    passes over orders (first-order frame, then cohort×age revenue)
    joined on the customer key, windows over the tiny cohort frame."""
    o = table(spark, sf_dir, "orders")
    month_key = (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
    first_order = o.groupBy("o_custkey").agg(
        F.min(month_key).alias("cohort_m")
    )
    cohort_size = first_order.groupBy("cohort_m").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    rev = (
        o.join(first_order, "o_custkey")
        .groupBy(
            "cohort_m",
            (month_key - F.col("cohort_m")).alias("age_months"),
        )
        .agg(F.sum(F.expr(_CENTS)).alias("rev_cents"))
    )
    w = (
        Window.partitionBy("cohort_m")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = rev.select(
        "cohort_m",
        "age_months",
        F.sum("rev_cents").over(w).alias("cum_cents"),
    )
    return (
        cum.filter(F.col("age_months") <= 12)
        .join(F.broadcast(cohort_size), "cohort_m")
        .select(
            F.col("cohort_m").alias("cohort_month"),
            "age_months",
            "n_customers",
            F.round(
                F.col("cum_cents").cast("double") / 100.0 / F.col("n_customers"),
                6,
            ).alias("cum_ltv_per_customer"),
        )
    )


@query(
    "basket_brand_pairs_lift",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), n_orders AS (
      SELECT COUNT(DISTINCT l_orderkey) AS n FROM baskets
    ), brand_n AS (
      SELECT p_brand, COUNT(*) AS n_brand FROM baskets GROUP BY p_brand
    ), pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
             COUNT(*) AS n_ab
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY a.p_brand, b.p_brand
    )
    SELECT p.brand_a, p.brand_b, p.n_ab,
           ROUND(p.n_ab * 1.0 * o.n / (na.n_brand * nb.n_brand), 6)
             AS lift
    FROM pairs p
    JOIN brand_n na ON na.p_brand = p.brand_a
    JOIN brand_n nb ON nb.p_brand = p.brand_b
    CROSS JOIN n_orders o
    WHERE p.n_ab >= 2
    """,
    tags=("memo",),
)
def basket_brand_pairs_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: for every pair of part brands that
    appear together in an order at least twice, the pair count and its
    lift (observed co-occurrence over the independence expectation).

    Scale: the one quadratic step — the per-basket pair expansion — is
    a self-equi-join on l_orderkey, so the blow-up is Σ per-basket k²,
    bounded by basket size (TPC-H ≤ 7 lines), never corpus². The brand
    lookup broadcasts (part is a dimension), the brand-marginal and
    order-count frames are tiny and broadcast back onto the pair list.
    This is the frequent-pair half of A-Priori, which is what survives
    at warehouse scale; brand cardinality (~25) keeps the output a few
    hundred rows."""
    from python_etl_sample_spark.cache import cached_df

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # the distinct basket frame feeds FOUR consumers (pair join ×2,
    # brand marginals, order count) — memoize it per session so the
    # scan+broadcast-join+distinct runs once, not four times (cache.py,
    # same lifecycle as the GEMM grid / shingle frames)
    baskets = cached_df(
        spark,
        ("basket_brands", sf_dir),
        lambda: li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct(),
    )
    n_orders = baskets.select(
        F.countDistinct("l_orderkey").alias("n")
    )
    brand_n = baskets.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_brand")
    )
    # per-basket pair expansion without the self-join (r14): one
    # groupBy shuffle of the cached basket frame + a map-side double
    # posexplode over the sorted per-order brand set replaces the
    # former equi-self-join, which shuffled the SAME frame twice (both
    # join sides hash by l_orderkey). sort_array + (j > i) reproduces
    # the a.brand < b.brand pair set exactly; basket size is ≤ 7
    # lines, so the explode fan-out stays per-basket-bounded.
    per_order = baskets.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("p_brand")).alias("bs")
    )
    pairs = (
        per_order.select("bs", F.posexplode("bs").alias("i", "brand_a"))
        .select("brand_a", "i", F.posexplode("bs").alias("j", "brand_b"))
        .filter(F.col("j") > F.col("i"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    na = brand_n.select(
        F.col("p_brand").alias("brand_a"), F.col("n_brand").alias("na")
    )
    nb = brand_n.select(
        F.col("p_brand").alias("brand_b"), F.col("n_brand").alias("nb")
    )
    return (
        pairs.join(F.broadcast(na), "brand_a")
        .join(F.broadcast(nb), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            F.round(
                F.col("n_ab") * 1.0 * F.col("n") / (F.col("na") * F.col("nb")),
                6,
            ).alias("lift"),
        )
    )
