"""Time-series operators: forecasting, seasonality, drift and
change-point detection over daily and per-event series.

- ``ts_seasonal_decompose``: moving-average trend + day-of-week
  seasonal indices (the decomposition behind ``ts_seasonal_naive_eval``).

- ``ts_double_exponential_forecast``: Brown's double exponential
  smoothing of daily revenue via the repo's banded-EWMA reformulation
  (exact 2^k integer weights, no float recursion).

Determinism: EWMA weights are exact powers of two (the
ts_ewma_halflife precedent — dyadic weights dodge both the 6-dp
half-way trap and libm ulp drift).

- ``ts_anomaly_esd``: generalized ESD — 3 unrolled rounds of
  max-|z| detection with removal between rounds, over the
  calendar-bounded daily-revenue series.

Determinism: ESD statistics are closed forms of exact cents moments;
all per-round removals tie-break on the day key. ACF moments are
decimal-exact sums cast to double once and combined with mirrored
parenthesization, with the Ljung-Box terms rounded at 12 dp before an
exact decimal sum; periodogram trig factors are rounded at 12 dp and
multiplied by exact integer residue-class sums; rolling-regression
slopes are one division of exact decimal window sums.

- ``ts_autocorrelation``: the Box-Jenkins autocorrelation function of
  daily event revenue at lags 1..7 with the white-noise band and the
  Ljung-Box portmanteau Q — the first diagnostic every forecasting
  pass runs before model choice (and the residual check after).

- ``ts_periodogram``: classical DFT periodogram of daily event revenue
  at candidate periods 2..14 days — amplitude and fraction-of-variance
  per period, the frequency-domain seasonality detector that
  complements the time-domain ACF (ts_autocorrelation).

- ``ts_rolling_regression``: exact 7-day rolling OLS slope of daily
  revenue — the local-trend detector that complements the global
  Theil-Sen slope, with every rolling moment an exact integer.

- ``ts_holt_winters_forecast`` — additive Holt-Winters in its
  decomposition form: weekly seasonal indices (ts_seasonal_decompose's
  exact-decimal construction) + Brown double smoothing of the
  deseasonalized series (ts_double_exponential_forecast's banded
  integer-weight joins) + re-seasonalized one-step forecast.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_sample_spark.functions.determinism import (
    _CENTS,
    _DEC38,
    _VCENTS,
    DEC,
    dsum_sql,
)
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table


#: cross-correlation lags (days): revenue leads/trails comparison
_XCORR_LAGS = (-3, -2, -1, 0, 1, 2, 3)


@query(
    "ts_cross_correlation",
    oracle=f"""
    WITH daily AS (
      SELECT c.c_mktsegment AS seg,
             CAST(o.o_orderdate AS DATE) AS day,
             {dsum_sql('o.o_totalprice')} AS rev
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
      GROUP BY 1, 2
    ),
    x AS (SELECT day, rev FROM daily WHERE seg = 'BUILDING'),
    y AS (SELECT day, rev FROM daily WHERE seg = 'AUTOMOBILE'),
    lags AS (SELECT UNNEST([{", ".join(map(str, _XCORR_LAGS))}]) AS lag),
    pairs AS (
      SELECT l.lag, x.rev AS xv, y.rev AS yv
      FROM lags l
      JOIN x ON TRUE
      JOIN y ON y.day = x.day + CAST(l.lag || ' days' AS INTERVAL)
    ),
    m AS (
      SELECT lag, COUNT(*) AS n,
             {dsum_sql('xv')} AS sx, {dsum_sql('yv')} AS sy,
             {dsum_sql('xv * yv')} AS sxy,
             {dsum_sql('xv * xv')} AS sxx, {dsum_sql('yv * yv')} AS syy
      FROM pairs GROUP BY lag
    )
    SELECT lag, CAST(n AS BIGINT) AS n_days,
           ROUND((n * sxy - sx * sy)
                 / NULLIF(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
                          0.0), 6) AS xcorr
    FROM m
    """,
)
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the BUILDING and AUTOMOBILE segments'
    daily revenue series, lags −3..+3 days — does one segment's demand
    lead the other's? Pearson r at each lag from the five moment sums,
    the single-pass moment-method every stats op here uses.

    The daily revenues are decimal-exact sums; their products are
    doubles but each moment sum re-routes through decimal, so every r
    is a fixed arithmetic expression over exact sums — deterministic in
    both engines, rounded at 6 dp. The lag join is an equi-join on
    (day + lag), never a range scan. Scale: daily frame is
    days×segments rows (bounded, thousands), so after the one
    (seg, day) aggregate of orders everything is broadcast-sized; the
    moment pass shuffles 7 lag groups."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    daily = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(28,6)")).cast("double").alias("rev"))
    )
    x = daily.filter(F.col("seg") == "BUILDING").select(
        F.col("day").alias("xday"), F.col("rev").alias("xv")
    )
    y = daily.filter(F.col("seg") == "AUTOMOBILE").select(
        F.col("day").alias("yday"), F.col("rev").alias("yv")
    )
    lags = spark.createDataFrame([(v,) for v in _XCORR_LAGS], "lag int")
    pairs = (
        x.crossJoin(F.broadcast(lags))
        .join(y, F.col("yday") == F.date_add(F.col("xday"), F.col("lag")))
        .select("lag", "xv", "yv")
    )
    dec = "decimal(28,6)"
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("xv").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("yv").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("xv") * F.col("yv")).cast(dec)).cast("double").alias("sxy"),
        F.sum((F.col("xv") * F.col("xv")).cast(dec)).cast("double").alias("sxx"),
        F.sum((F.col("yv") * F.col("yv")).cast(dec)).cast("double").alias("syy"),
    )
    n = F.col("n")
    # zero-variance guard: a constant series makes the denominator 0 —
    # Spark doubles would give NaN/Inf where DuckDB's NULLIF gives NULL,
    # so both sides agree on NULL (tests/test_ansi_edges class)
    _den = F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        "lag",
        n.cast("bigint").alias("n_days"),
        F.round(
            F.when(
                _den != 0.0,
                (n * F.col("sxy") - F.col("sx") * F.col("sy")) / _den,
            ),
            6,
        ).alias("xcorr"),
    )


@query(
    "ts_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority AS priority,
             CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
             SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS rev
      FROM orders GROUP BY 1, 2
    ),
    t AS (
      SELECT priority, day, rev,
             SUM(rev) OVER w AS tsum, COUNT(*) OVER w AS cnt
      FROM daily
      WINDOW w AS (PARTITION BY priority ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    f AS (
      SELECT priority, day % 7 AS dow, 7 * rev - tsum AS detr
      FROM t WHERE cnt = 7
    )
    SELECT priority, CAST(dow AS BIGINT) AS dow, COUNT(*) AS n_days,
           ROUND(CAST(SUM(detr) AS DOUBLE) / (7.0 * COUNT(*)), 6)
             AS seasonal_idx
    FROM f GROUP BY priority, dow
    """,
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of daily revenue per
    order priority: trend = centered 7-day moving average (full windows
    only), seasonal index = mean detrended value per day-of-week slot
    (day mod 7, calendar-convention-free) — the decomposition whose
    seasonal-naive forecast ``ts_seasonal_naive_eval`` backtests.

    Decimal end-to-end: daily revenue stays decimal through the window
    sum, and the detrended value is the EXACT decimal 7·rev − Σ₇rev —
    the only double division is the final per-slot mean, rounded at
    6 dp. The moving-average windows are partitioned per priority
    (never a global single-task window, the shape tests/test_plans.py
    bans).

    Scale: one (priority, day) aggregate, one partitioned ±3-row
    window, one 35-row groupBy."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.expr("unix_timestamp(cast(o_orderdate as timestamp)) div 86400").alias(
            "day"
        ),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(28,6)")).alias("rev"))
    w7 = (
        Window.partitionBy("priority").orderBy("day").rowsBetween(-3, 3)
    )
    t = daily.select(
        "priority",
        "day",
        "rev",
        F.sum("rev").over(w7).alias("tsum"),
        F.count(F.lit(1)).over(w7).alias("cnt"),
    ).filter(F.col("cnt") == 7)
    f = t.select(
        "priority",
        (F.col("day") % 7).alias("dow"),
        (F.lit(7) * F.col("rev") - F.col("tsum")).alias("detr"),
    )
    return f.groupBy("priority", "dow").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(
            F.sum("detr").cast("double") / (F.lit(7.0) * F.count(F.lit(1))), 6
        ).alias("seasonal_idx"),
    ).select(
        "priority", F.col("dow").cast("long").alias("dow"), "n_days", "seasonal_idx"
    )


# ---------------------------------------------------------------------------
# ts_double_exponential_forecast
# ---------------------------------------------------------------------------

_DE_WIN = 20  # 0.5^20 < 1e-6: truncated tail is sub-rounding noise
_DE_TAIL = 5  # report the last 5 days


@query(
    "ts_double_exponential_forecast",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM({_CENTS}) AS DOUBLE) / 100.0 AS rev
      FROM orders GROUP BY 1
    ),
    seq AS (
      SELECT day, rev, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily
    ),
    s1 AS (
      SELECT cur.rn, cur.day,
             round({dsum_sql(f'CAST(power(2, {_DE_WIN - 1} - (cur.rn - past.rn)) AS BIGINT) * past.rev')}
                   / CAST(SUM(CAST(power(2, {_DE_WIN - 1} - (cur.rn - past.rn)) AS BIGINT)) AS DOUBLE),
                   6) AS s1
      FROM seq cur JOIN seq past
        ON past.rn BETWEEN cur.rn - {_DE_WIN - 1} AND cur.rn
      GROUP BY cur.rn, cur.day
    ),
    s2 AS (
      SELECT cur.rn, cur.day, cur.s1,
             round({dsum_sql(f'CAST(power(2, {_DE_WIN - 1} - (cur.rn - past.rn)) AS BIGINT) * past.s1')}
                   / CAST(SUM(CAST(power(2, {_DE_WIN - 1} - (cur.rn - past.rn)) AS BIGINT)) AS DOUBLE),
                   6) AS s2
      FROM s1 cur JOIN s1 past
        ON past.rn BETWEEN cur.rn - {_DE_WIN - 1} AND cur.rn
      GROUP BY cur.rn, cur.day, cur.s1
    ),
    n AS (SELECT MAX(rn) AS mx FROM seq)
    SELECT CAST(day AS TIMESTAMP) AS day, s1, s2,
           round(2 * s1 - s2, 6) AS level,
           round(s1 - s2, 6) AS trend,
           round((2 * s1 - s2) + (s1 - s2), 6) AS forecast_next
    FROM s2
    WHERE rn > (SELECT mx FROM n) - {_DE_TAIL}
      AND rn >= 2 * {_DE_WIN}
    """,
)
def ts_double_exponential_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown's double exponential smoothing (α = 1/2) of daily order
    revenue, reported for the last {_DE_TAIL} days: S1 = EWMA(rev),
    S2 = EWMA(S1), level = 2·S1−S2, trend = S1−S2 (Brown's α/(1−α)
    factor is 1 at α = 1/2), one-step forecast = level + trend.

    The recurrence is de-recursed exactly as ts_ewma_halflife's: a
    20-step banded self-join with EXACT integer weights 2^(19−k) (the
    truncated tail is below the 6-dp rounding floor), applied twice —
    the second pass smooths the first pass's 6-dp-rounded output, so
    both engines see identical inputs at every stage. Warm-up rows
    (rn < 2·window) are suppressed: their truncated window differs
    from the textbook infinite-history form.

    Scale: the daily frame is CALENDAR-bounded (~2.5k rows at any
    corpus size), so the banded joins cost ≤ 20× that regardless of
    scale; the raw-order work is one map-side-combined groupBy(day)."""
    o = table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg((F.sum(F.expr(_CENTS)).cast("double") / 100.0).alias("rev"))
    )
    # bounded-window: the ROW_NUMBER total order runs over the daily
    # frame — calendar-bounded (~2.5k rows at ANY corpus scale), the
    # same justification as ts_seasonal_decompose's day index
    w = Window.orderBy("day")
    seq = daily.withColumn("rn", F.row_number().over(w))

    def ewma(df: DataFrame, val: str, out: str) -> DataFrame:
        cur, past = df.alias("cur"), df.alias("past")
        wgt = F.pow(
            F.lit(2.0),
            F.lit(_DE_WIN - 1) - (F.col("cur.rn") - F.col("past.rn")),
        ).cast("long")
        # broadcast range join: the frame is calendar-bounded, so the
        # pure-range band condition rides a BroadcastNestedLoopJoin
        # (never a CartesianProduct); a data-sized series would add a
        # (rn div WIN) block equi-key instead (ts_ewma_halflife's note)
        return (
            cur.join(
                F.broadcast(past),
                (F.col("past.rn") >= F.col("cur.rn") - (_DE_WIN - 1))
                & (F.col("past.rn") <= F.col("cur.rn")),
            )
            .groupBy(*[F.col(f"cur.{c}").alias(c) for c in df.columns])
            .agg(
                F.round(
                    F.sum((wgt * F.col(f"past.{val}")).cast(DEC)).cast("double")
                    / F.sum(wgt).cast("double"),
                    6,
                ).alias(out)
            )
        )

    s1 = ewma(seq.select("rn", "day", "rev"), "rev", "s1").select("rn", "day", "s1")
    s2 = ewma(s1, "s1", "s2")
    mx = seq.agg(F.max("rn").alias("mx"))
    return (
        s2.crossJoin(F.broadcast(mx))
        .filter(
            (F.col("rn") > F.col("mx") - _DE_TAIL) & (F.col("rn") >= 2 * _DE_WIN)
        )
        .select(
            F.col("day").cast("timestamp_ntz").alias("day"),
            "s1",
            "s2",
            F.round(2 * F.col("s1") - F.col("s2"), 6).alias("level"),
            F.round(F.col("s1") - F.col("s2"), 6).alias("trend"),
            F.round(
                (2 * F.col("s1") - F.col("s2")) + (F.col("s1") - F.col("s2")), 6
            ).alias("forecast_next"),
        )
    )


# ---------------------------------------------------------------------------
# ts_anomaly_esd
# ---------------------------------------------------------------------------

_ESD_ROUNDS = 3


def _esd_round_sql(prev: str, r: int) -> str:
    """One unrolled ESD round: moments of the surviving frame, the
    max-|z| day (ties by day), and the frame minus that day."""
    return f"""
    m{r} AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(cents) AS DOUBLE) AS s,
             CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS DOUBLE) AS ss
      FROM {prev}
    ),
    z{r} AS (
      SELECT p.day, p.cents,
             ABS(p.cents - m.s / m.n)
               / sqrt((m.n * m.ss - m.s * m.s) / (m.n * (m.n - 1.0))) AS z
      FROM {prev} p CROSS JOIN m{r} m
    ),
    pick{r} AS (
      SELECT day, cents, z FROM z{r} ORDER BY z DESC, day LIMIT 1
    ),
    d{r} AS (
      SELECT p.day, p.cents FROM {prev} p
      WHERE p.day <> (SELECT day FROM pick{r})
    )"""


@query(
    "ts_anomaly_esd",
    oracle=f"""
    WITH d0 AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             SUM({_CENTS}) AS cents
      FROM orders GROUP BY 1
    ),
    {",".join(_esd_round_sql(f"d{r - 1}", r) for r in range(1, _ESD_ROUNDS + 1))}
    SELECT * FROM (
      SELECT 1 AS round_no, CAST(day AS TIMESTAMP) AS day,
             round(cents / 100.0, 2) AS revenue, round(z, 6) AS z
      FROM pick1
      UNION ALL
      SELECT 2, CAST(day AS TIMESTAMP), round(cents / 100.0, 2), round(z, 6)
      FROM pick2
      UNION ALL
      SELECT 3, CAST(day AS TIMESTAMP), round(cents / 100.0, 2), round(z, 6)
      FROM pick3
    )
    """,
)
def ts_anomaly_esd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized ESD anomaly extraction on daily revenue: three
    unrolled rounds of (recompute mean/std on the surviving series →
    take the max-|z| day, ties by day → remove it) — the iterative
    estimator that finds masked outliers a single z-pass misses
    (stats_zscore_outliers is the one-shot sibling; after one extreme
    day inflates σ, round two sees what it hid).

    Determinism: each round's mean and sample variance are closed
    forms of exact integer cents moments (38-digit decimal for the
    square sum), so z is a deterministic double expression; the argmax
    is an ORDER BY (z DESC, day) LIMIT 1 total order.

    Scale: the frame is CALENDAR-bounded daily revenue; each round is
    a 1-row moment reduction + a TakeOrdered(1) + one filter — three
    rounds of constant-size work after the single orders groupBy."""
    o = table(spark, sf_dir, "orders")
    # persist the calendar-bounded daily frame (~2.4k rows): the three
    # unrolled rounds reference it along 2 branches each (moments +
    # anti-join), so without a materialization barrier the orders
    # scan + groupBy re-evaluates once per branch — the r14 plan audit
    # counted 39 exchanges for what is one data-sized aggregation
    # (guide §2.1: remove repeated shuffles of the same frame)
    cur = (
        o.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(F.expr(_CENTS)).alias("cents"))
        .persist()
    )
    picks = []
    for r in range(1, _ESD_ROUNDS + 1):
        m = cur.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("double").alias("s"),
            F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents"))
            .cast("double")
            .alias("ss"),
        )
        z = (
            F.abs(F.col("cents") - F.col("s") / F.col("n"))
            / F.sqrt(
                (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
                / (F.col("n") * (F.col("n") - 1.0))
            )
        )
        zed = cur.crossJoin(F.broadcast(m)).select("day", "cents", z.alias("z"))
        # each pick (1 row) and survivor frame feeds every later round
        # along multiple branches — pin them so round r's work is one
        # moment pass + one TakeOrdered over the cached survivors, not
        # a re-evaluation of the whole prior-round cascade
        pick = zed.orderBy(F.desc("z"), F.asc("day")).limit(1).persist()
        picks.append(
            pick.select(
                F.lit(r).alias("round_no"),
                F.col("day").cast("timestamp_ntz").alias("day"),
                F.round(F.col("cents") / 100.0, 2).alias("revenue"),
                F.round("z", 6).alias("z"),
            )
        )
        cur = cur.join(
            F.broadcast(pick.select(F.col("day").alias("bad"))),
            cur.day == F.col("bad"),
            "left_anti",
        ).persist()
    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out


# ---------------------------------------------------------------------------
# ts_autocorrelation
# ---------------------------------------------------------------------------

_ACF_LAGS = (1, 2, 3, 4, 5, 6, 7)


@query(
    "ts_autocorrelation",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, SUM({_VCENTS}) AS v
      FROM events GROUP BY 1
    ),
    gmom AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(v AS DECIMAL(38,0))) AS DOUBLE) AS s,
             CAST(SUM(CAST(v AS DECIMAL(38,0)) * v) AS DOUBLE) AS ssq
      FROM daily
    ),
    lags AS (SELECT UNNEST([{", ".join(map(str, _ACF_LAGS))}]) AS lag),
    pairs AS (
      SELECT l.lag, a.v AS av, b.v AS bv
      FROM lags l
      JOIN daily a ON TRUE
      JOIN daily b ON b.day = a.day + CAST(l.lag || ' days' AS INTERVAL)
    ),
    m AS (
      SELECT lag, COUNT(*) AS n_pairs,
             CAST(SUM(CAST(av AS DECIMAL(38,0)) * bv) AS DOUBLE) AS p,
             CAST(SUM(CAST(av AS DECIMAL(38,0))) AS DOUBLE) AS ta,
             CAST(SUM(CAST(bv AS DECIMAL(38,0))) AS DOUBLE) AS tb
      FROM pairs GROUP BY lag
    ),
    r AS (
      SELECT m.lag, m.n_pairs, g.n,
             (m.p - (g.s / g.n) * m.ta - (g.s / g.n) * m.tb
              + m.n_pairs * (g.s / g.n) * (g.s / g.n))
             / (g.ssq - g.s * (g.s / g.n)) AS rr
      FROM m CROSS JOIN gmom g
    )
    SELECT a.lag, CAST(a.n_pairs AS BIGINT) AS n_pairs,
           round(a.rr, 6) AS acf,
           round(1.96 / sqrt(a.n), 6) AS wn_band,
           round(a.n * (a.n + 2.0)
                 * CAST(SUM(CAST(round(b.rr * b.rr / (a.n - b.lag), 12)
                                 AS DECIMAL(28,14))) AS DOUBLE),
                 6) AS ljung_box_q
    FROM r a JOIN r b ON b.lag <= a.lag
    GROUP BY a.lag, a.n_pairs, a.rr, a.n
    """,
)
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box-Jenkins ACF of daily event revenue at lags 1..7:
    r_k = sum(x_t−x̄)(x_{t+k}−x̄) / sum(x_t−x̄)² with the GLOBAL mean and
    variance (the standard estimator — distinct from
    ts_cross_correlation's per-lag Pearson, which renormalizes at each
    lag), plus the ±1.96/√n white-noise band and the Ljung-Box
    portmanteau Q_k = n(n+2) sum_{j<=k} r_j²/(n−j) — the seasonality /
    model-adequacy diagnostic a forecasting pipeline runs first, and
    again on residuals.

    Lag alignment is by CALENDAR day (x_{t+k} joins on day+k), so a
    missing day drops its pairs rather than silently shifting the
    series — and n_pairs reports exactly how many survived per lag.

    Determinism: the five moment quantities are exact integer-cents
    sums in 38-digit decimals cast to double ONCE; each r_k combines
    them with mirrored parenthesization (bit-identical doubles), and
    the Ljung-Box accumulation rounds each term at 12 dp into an exact
    decimal sum so the ≤7-term float addition order
    cannot flip the 6-dp hash.

    Scale: one groupBy(day) over events (map-side combined), then the
    7-row lag frame broadcast against the compact daily
    series (an equi-join on day+lag), a 1-row global broadcast, and a
    ≤7² triangular self-join for the cumulative Q."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.expr("CAST(ts AS DATE)").alias("day")).agg(
        F.sum(F.expr(_VCENTS)).alias("v")
    )
    vd = F.col("v").cast(_DEC38)
    glob = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vd).cast("double").alias("s"),
        F.sum(vd * F.col("v")).cast("double").alias("ssq"),
    )
    lags = spark.createDataFrame([(k,) for k in _ACF_LAGS], "lag int")
    a = daily.select(F.col("day").alias("day_a"), F.col("v").alias("av"))
    b = daily.select(F.col("day").alias("day_b"), F.col("v").alias("bv"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("day_b") == F.date_add(F.col("day_a"), F.col("lag")))
    )
    avd = F.col("av").cast(_DEC38)
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(avd * F.col("bv")).cast("double").alias("p"),
        F.sum(avd).cast("double").alias("ta"),
        F.sum(F.col("bv").cast(_DEC38)).cast("double").alias("tb"),
    )
    xbar = F.col("s") / F.col("n")
    r = m.crossJoin(F.broadcast(glob)).select(
        "lag",
        "n_pairs",
        "n",
        (
            (
                F.col("p")
                - xbar * F.col("ta")
                - xbar * F.col("tb")
                + F.col("n_pairs") * xbar * xbar
            )
            / (F.col("ssq") - F.col("s") * xbar)
        ).alias("rr"),
    )
    ra = r.select(
        F.col("lag").alias("lag_a"),
        F.col("n_pairs"),
        F.col("n"),
        F.col("rr").alias("rr_a"),
    )
    rb = r.select(F.col("lag").alias("lag_b"), F.col("rr").alias("rr_b"))
    return (
        ra.join(F.broadcast(rb), F.col("lag_b") <= F.col("lag_a"))
        .groupBy(
            F.col("lag_a").alias("lag"),
            F.col("n_pairs"),
            F.col("rr_a"),
            F.col("n"),
        )
        .agg(
            F.round(
                F.col("n")
                * (F.col("n") + 2.0)
                * F.sum(
                    F.round(
                        F.col("rr_b")
                        * F.col("rr_b")
                        / (F.col("n") - F.col("lag_b")),
                        12,
                    ).cast("decimal(28,14)")
                )
                .cast("double"),
                6,
            ).alias("ljung_box_q"),
        )
        .select(
            "lag",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.round(F.col("rr_a"), 6).alias("acf"),
            F.round(1.96 / F.sqrt(F.col("n")), 6).alias("wn_band"),
            "ljung_box_q",
        )
    )


# ---------------------------------------------------------------------------
# ts_periodogram
# ---------------------------------------------------------------------------

_PG_PERIODS = tuple(range(2, 15))


@query(
    "ts_periodogram",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             SUM({_VCENTS}) AS v
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(v AS DECIMAL(38,0))) AS DOUBLE) AS s,
             CAST(SUM(CAST(v AS DECIMAL(38,0)) * v) AS DOUBLE) AS ssq
      FROM daily
    ),
    periods AS (SELECT UNNEST([{", ".join(map(str, _PG_PERIODS))}]) AS period),
    res AS (
      SELECT p.period, daily.d % p.period AS r,
             COUNT(*) AS cnt, SUM(v) AS sumv
      FROM daily CROSS JOIN periods p
      GROUP BY 1, 2
    ),
    trig AS (
      SELECT period, r, cnt, sumv,
             round(cos(((2.0 * pi()) * r) / period), 12) AS c,
             round(sin(((2.0 * pi()) * r) / period), 12) AS sn
      FROM res
    ),
    moments AS (
      SELECT period,
             CAST(SUM(CAST(round(sumv * c, 6) AS DECIMAL(28,8))) AS DOUBLE)
               AS craw,
             CAST(SUM(CAST(round(sumv * sn, 6) AS DECIMAL(28,8))) AS DOUBLE)
               AS sraw,
             CAST(SUM(CAST(round(cnt * c, 9) AS DECIMAL(28,12))) AS DOUBLE)
               AS kc,
             CAST(SUM(CAST(round(cnt * sn, 9) AS DECIMAL(28,12))) AS DOUBLE)
               AS ks
      FROM trig GROUP BY period
    ),
    pw AS (
      SELECT m.period, t.n,
             (m.craw - (t.s / t.n) * m.kc) AS cc,
             (m.sraw - (t.s / t.n) * m.ks) AS ss,
             (t.ssq - t.s * (t.s / t.n)) AS sst
      FROM moments m CROSS JOIN tot t
    )
    SELECT period,
           round(((2.0 * sqrt(cc * cc + ss * ss)) / n) / 100.0, 4)
             AS amplitude,
           CASE WHEN sst > 0
                THEN round((2.0 * (cc * cc + ss * ss)) / (n * sst), 6)
                ELSE NULL END AS frac_variance
    FROM pw
    """,
)
def ts_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical periodogram of daily event revenue at candidate
    periods 2..14 days: for each period T, the DFT coefficients
    C = Σ(v_d − x̄)cos(2πd/T), S = Σ(v_d − x̄)sin(2πd/T) give the fitted
    sinusoid amplitude 2√(C²+S²)/n (reported in currency units) and
    the fraction of series variance at that period 2(C²+S²)/(n·SST) —
    the frequency-domain seasonality detector (weekly traffic shows as
    a spike at T=7) that the time-domain ACF cross-checks.

    Exactness strategy: trig factors depend only on the residue class
    d mod T, so the series first collapses to ≤T exact integer-cents
    sums per period (ONE groupBy over the compact daily frame — at
    100 TB this is the only data-sized shuffle, and it is the same
    daily rollup every ts_* query starts from); cos/sin are evaluated
    once per residue class and rounded at 12 dp, each product of an
    exact sum and a rounded factor is itself rounded and
    decimal-summed (order-free), and the mean correction
    C = C_raw − x̄·K uses the mirrored-parenthesization rule so both
    engines combine identical doubles identically.

    The residue trick also bounds the float work: 13 periods × ≤14
    residues = ≤182 trig evaluations regardless of corpus size."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.expr("CAST(ts AS DATE)"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("d")
    ).agg(F.sum(F.expr(_VCENTS)).alias("v"))
    vd = F.col("v").cast(_DEC38)
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vd).cast("double").alias("s"),
        F.sum(vd * F.col("v")).cast("double").alias("ssq"),
    )
    periods = spark.createDataFrame(
        [(p,) for p in _PG_PERIODS], "period int"
    )
    res = (
        daily.crossJoin(F.broadcast(periods))
        .groupBy("period", (F.col("d") % F.col("period")).alias("r"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("sumv"))
    )
    theta = ((F.lit(2.0) * F.lit(math.pi)) * F.col("r")) / F.col("period")
    trig = res.select(
        "period",
        "cnt",
        "sumv",
        F.round(F.cos(theta), 12).alias("c"),
        F.round(F.sin(theta), 12).alias("sn"),
    )
    moments = trig.groupBy("period").agg(
        F.sum(F.round(F.col("sumv") * F.col("c"), 6).cast("decimal(28,8)"))
        .cast("double")
        .alias("craw"),
        F.sum(F.round(F.col("sumv") * F.col("sn"), 6).cast("decimal(28,8)"))
        .cast("double")
        .alias("sraw"),
        F.sum(F.round(F.col("cnt") * F.col("c"), 9).cast("decimal(28,12)"))
        .cast("double")
        .alias("kc"),
        F.sum(F.round(F.col("cnt") * F.col("sn"), 9).cast("decimal(28,12)"))
        .cast("double")
        .alias("ks"),
    )
    xbar = F.col("s") / F.col("n")
    pw = moments.crossJoin(F.broadcast(tot)).select(
        "period",
        "n",
        (F.col("craw") - xbar * F.col("kc")).alias("cc"),
        (F.col("sraw") - xbar * F.col("ks")).alias("ss"),
        (F.col("ssq") - F.col("s") * xbar).alias("sst"),
    )
    power = F.col("cc") * F.col("cc") + F.col("ss") * F.col("ss")
    return pw.select(
        "period",
        F.round(
            ((F.lit(2.0) * F.sqrt(power)) / F.col("n")) / 100.0, 4
        ).alias("amplitude"),
        F.when(
            F.col("sst") > 0,
            F.round((F.lit(2.0) * power) / (F.col("n") * F.col("sst")), 6),
        ).alias("frac_variance"),
    )


# ---------------------------------------------------------------------------
# ts_rolling_regression
# ---------------------------------------------------------------------------

_ROLL_W = 7


@query(
    "ts_rolling_regression",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
             SUM({_VCENTS}) AS y
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT day,
             COUNT(*) OVER win AS k,
             SUM(CAST(x AS DECIMAL(38,0))) OVER win AS sx,
             SUM(CAST(y AS DECIMAL(38,0))) OVER win AS sy,
             SUM(CAST(x AS DECIMAL(38,0)) * x) OVER win AS sxx,
             SUM(CAST(x AS DECIMAL(38,0)) * y) OVER win AS sxy
      FROM daily
      WINDOW win AS (ORDER BY day
                     ROWS BETWEEN {_ROLL_W - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(day AS TIMESTAMP) AS day,
           round(CAST({_ROLL_W} * sxy - sx * sy AS DOUBLE)
                 / CAST({_ROLL_W} * sxx - sx * sx AS DOUBLE) / 100.0, 6)
             AS slope_per_day
    FROM w WHERE k = {_ROLL_W}
    """,
)
def ts_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 7-day rolling OLS slope of daily revenue (currency units
    per day): for each day with a full 7-row trailing window, the
    closed-form slope (kΣxy − ΣxΣy)/(kΣx² − (Σx)²) over (epoch-day,
    revenue) pairs. The LOCAL trend detector — the global Theil-Sen
    (stats_theil_sen_trend) gives one robust slope for the whole
    series; this shows where the trend turns, the signal a
    capacity/alerting pipeline actually consumes.

    Determinism: all four rolling moments are exact integer sums in
    38-digit decimals over the sliding ROWS frame; the slope is ONE
    division of exact integers (k is a constant), rounded at 6 dp.

    Scale: the only data-sized work is the daily rollup groupBy; the
    sliding window runs over the CALENDAR-BOUNDED daily frame (the
    repo's ts_* contract — a century of days is 36.5k rows), with the
    denominator never zero on a full window (7 distinct x values)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr("CAST(ts AS DATE)").alias("day"),
        F.datediff(F.expr("CAST(ts AS DATE)"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("x"),
    ).agg(F.sum(F.expr(_VCENTS)).alias("y"))
    xd = F.col("x").cast(_DEC38)
    yd = F.col("y").cast(_DEC38)
    # bounded-window: sliding frame over the calendar-bounded daily
    # rollup (≤ tens of thousands of rows for decades of data); the
    # prefix-sum kernel cannot express a trailing ROWS frame.
    win = Window.orderBy("day").rowsBetween(-(_ROLL_W - 1), 0)
    w = daily.select(
        "day",
        F.count(F.lit(1)).over(win).alias("k"),
        F.sum(xd).over(win).alias("sx"),
        F.sum(yd).over(win).alias("sy"),
        F.sum(xd * F.col("x")).over(win).alias("sxx"),
        F.sum(xd * F.col("y")).over(win).alias("sxy"),
    )
    kk = F.lit(_ROLL_W)
    return w.filter(F.col("k") == _ROLL_W).select(
        F.col("day").cast("timestamp_ntz").alias("day"),
        F.round(
            (kk * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (kk * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
            / 100.0,
            6,
        ).alias("slope_per_day"),
    )


# --------------------------------------------------------------------------
# ts_holt_winters_forecast
# --------------------------------------------------------------------------

_HW_WIN = 20  # Brown smoothing window (as ts_double_exponential_forecast)
_HW_TAIL = 5  # report the last 5 days


def _hw_ewma_sql(src: str, cur: str, val: str, out: str, carry: str = "") -> str:
    """One banded integer-weight EWMA pass (α = 1/2), textually the
    ts_double_exponential_forecast construction over column ``val``;
    ``carry`` threads earlier smoothing outputs through the group-by."""
    cols = "cur.rn, cur.day, cur.sidx_next" + (f", cur.{carry}" if carry else "")
    return f"""
    {cur} AS (
      SELECT {cols},
             round({dsum_sql(f'CAST(power(2, {_HW_WIN - 1} - (cur.rn - past.rn)) AS BIGINT) * past.{val}')}
                   / CAST(SUM(CAST(power(2, {_HW_WIN - 1} - (cur.rn - past.rn)) AS BIGINT)) AS DOUBLE),
                   6) AS {out}
      FROM {src} cur JOIN {src} past
        ON past.rn BETWEEN cur.rn - {_HW_WIN - 1} AND cur.rn
      GROUP BY {cols}
    )"""


@query(
    "ts_holt_winters_forecast",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
             SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS rev
      FROM orders GROUP BY 1
    ),
    t AS (
      SELECT day, rev,
             SUM(rev) OVER w AS tsum, COUNT(*) OVER w AS cnt
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    seas AS (
      SELECT day % 7 AS dow,
             ROUND(CAST(SUM(7 * rev - tsum) AS DOUBLE) / (7.0 * COUNT(*)), 6)
               AS sidx
      FROM t WHERE cnt = 7 GROUP BY 1
    ),
    des AS (
      SELECT d.day,
             ROW_NUMBER() OVER (ORDER BY d.day) AS rn,
             round(CAST(d.rev AS DOUBLE) - s.sidx, 6) AS des,
             s2.sidx AS sidx_next
      FROM daily d
      JOIN seas s ON s.dow = d.day % 7
      JOIN seas s2 ON s2.dow = (d.day + 1) % 7
    ),
    d0 AS (SELECT rn, day, sidx_next, des FROM des),
    {_hw_ewma_sql("d0", "e1", "des", "s1")},
    {_hw_ewma_sql("e1", "e2", "s1", "s2", carry="s1")},
    n AS (SELECT MAX(rn) AS mx FROM des)
    SELECT day, sidx_next AS seasonal_next,
           round(2 * s1 - s2, 6) AS level,
           round(s1 - s2, 6) AS trend,
           round((2 * s1 - s2) + (s1 - s2) + sidx_next, 6) AS forecast_next
    FROM e2
    WHERE rn > (SELECT mx FROM n) - {_HW_TAIL}
      AND rn >= 2 * {_HW_WIN}
    """,
)
def ts_holt_winters_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters forecast of daily revenue, assembled the
    classical-decomposition way: (1) weekly seasonal indices from the
    exact-decimal detrended means (ts_seasonal_decompose's
    construction, global series), (2) Brown double exponential
    smoothing (α = 1/2) of the DESEASONALIZED series via the
    integer-weight banded joins of ts_double_exponential_forecast,
    (3) one-step forecast = level + trend + next day's seasonal index.
    This is the decomposition-form Holt-Winters (fit seasonality once,
    smooth the remainder) rather than the jointly-recursive form —
    the joint recursion's interleaved seasonal updates are inherently
    sequential, while this form is entirely banded joins and
    window-free aggregates, i.e. it scales.

    Determinism: seasonal indices are exact-decimal detrended sums with
    one 6-dp-rounded division; the deseasonalized value rounds at 6 dp
    so both EWMA passes consume identical inputs; weights are exact
    integers 2^(19−k); each smoothing output rounds at 6 dp before the
    next stage (the _DE convention). Warm-up rows (rn < 2·window) are
    suppressed, as are edge days without a full ±3 trend window
    (excluded from the seasonal fit only, as in the decompose query).

    Scale: the daily frame is CALENDAR-bounded, so the ±3 trend window
    and the two 20-band joins cost ≤ a constant multiple of days
    regardless of corpus size; the raw-order work is one map-side
    combined groupBy(day).
    # bounded-window: the trend MA and ROW_NUMBER run over the daily
    # frame — calendar-bounded (~2.4k rows at ANY corpus scale), the
    # ts_double_exponential_forecast justification."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    # persist each stage of the decomposition (r14): daily feeds the
    # seasonal fit AND the deseasonalize join; des feeds both ewma
    # sides and the max-rn branch; e1 feeds both sides of the second
    # smoothing — without barriers the orders scan + groupBy cascade
    # re-evaluates ~10x (r14 plan audit: 30 exchanges). All four
    # frames are calendar-bounded (~2.4k rows).
    daily = o.groupBy(
        F.expr(
            "unix_timestamp(cast(o_orderdate as timestamp)) div 86400"
        ).alias("day")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(28,6)")).alias("rev")).persist()
    # bounded-window: daily frame is calendar-bounded (~2.4k rows at
    # any corpus scale) — ts_double_exponential_forecast's justification
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    t = daily.select(
        "day",
        "rev",
        F.sum("rev").over(w7).alias("tsum"),
        F.count(F.lit(1)).over(w7).alias("cnt"),
    ).filter(F.col("cnt") == 7)
    seas = t.groupBy((F.col("day") % 7).alias("dow")).agg(
        F.round(
            F.sum(F.lit(7) * F.col("rev") - F.col("tsum")).cast("double")
            / (F.lit(7.0) * F.count(F.lit(1))),
            6,
        ).alias("sidx")
    )
    # bounded-window: same calendar-bounded daily frame
    wrn = Window.orderBy("day")
    des = (
        daily.join(F.broadcast(seas), F.col("dow") == F.col("day") % 7)
        .select(
            "day",
            F.round(F.col("rev").cast("double") - F.col("sidx"), 6).alias(
                "des"
            ),
        )
        .join(
            F.broadcast(seas.select(F.col("dow").alias("dow2"),
                                    F.col("sidx").alias("sidx_next"))),
            F.col("dow2") == (F.col("day") + 1) % 7,
        )
        .select("day", "des", "sidx_next")
        .withColumn("rn", F.row_number().over(wrn))
        .persist()
    )

    def ewma(df: DataFrame, val: str, out: str) -> DataFrame:
        cur, past = df.alias("cur"), df.alias("past")
        wgt = F.pow(
            F.lit(2.0),
            F.lit(_HW_WIN - 1) - (F.col("cur.rn") - F.col("past.rn")),
        ).cast("long")
        # broadcast range join over the calendar-bounded frame (the
        # ts_double_exponential_forecast note: BroadcastNestedLoopJoin,
        # never a CartesianProduct; a data-sized series would add a
        # block equi-key)
        return (
            cur.join(
                F.broadcast(past),
                (F.col("past.rn") >= F.col("cur.rn") - (_HW_WIN - 1))
                & (F.col("past.rn") <= F.col("cur.rn")),
            )
            .groupBy(*[F.col(f"cur.{c}").alias(c) for c in df.columns])
            .agg(
                F.round(
                    F.sum(
                        (wgt * F.col(f"past.{val}")).cast("decimal(28,6)")
                    ).cast("double")
                    / F.sum(wgt).cast("double"),
                    6,
                ).alias(out)
            )
        )

    e1 = ewma(des.select("rn", "day", "sidx_next", "des"), "des", "s1").select(
        "rn", "day", "sidx_next", "s1"
    ).persist()
    e2 = ewma(e1, "s1", "s2")
    mx = des.agg(F.max("rn").alias("mx"))
    level = 2 * F.col("s1") - F.col("s2")
    trend = F.col("s1") - F.col("s2")
    return (
        e2.crossJoin(F.broadcast(mx))
        .filter(
            (F.col("rn") > F.col("mx") - _HW_TAIL)
            & (F.col("rn") >= 2 * _HW_WIN)
        )
        .select(
            "day",
            F.col("sidx_next").alias("seasonal_next"),
            F.round(level, 6).alias("level"),
            F.round(trend, 6).alias("trend"),
            F.round(level + trend + F.col("sidx_next"), 6).alias(
                "forecast_next"
            ),
        )
    )
