"""Round-10d — composition queries that finish tiers other
families opened:

- ``pipeline_dedup_funnel`` — the end-to-end retention funnel every
  LLM-data pipeline publishes: raw corpus → exact dedup → near dedup
  (exact Jaccard ≥ 0.8, greedy keep-lowest-id) → quality gates, with
  per-stage document/char counts and retention vs raw. The existing
  pieces (dedup_exact, dedup_ngram_jaccard's truth set,
  corpus_quality_gate_report's gates) each report their OWN stage;
  this composes them in sequence, which is the number that decides a
  training run's token budget.
- ``ts_holt_winters_forecast`` — additive Holt-Winters in its
  decomposition form: weekly seasonal indices (ts_seasonal_decompose's
  exact-decimal construction) + Brown double smoothing of the
  deseasonalized series (ts_double_exponential_forecast's banded
  integer-weight joins) + re-seasonalized one-step forecast.
- ``ml_brier_decomposition`` — the Murphy decomposition of the Brier
  score (reliability − resolution + uncertainty) over the same
  deterministic logistic score and 10 bins as ``ml_calibration_bins``,
  plus the explicit within-bin residual that makes the identity exact
  for continuous forecasts — the one-row scorecard the per-bin
  reliability table feeds.

Parity ground rules inherited: exact integer counts, decimal-carried
float sums, every discontinuous or reported float rounded identically
in both engines (9 dp inputs to squares, 6 dp outputs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_etl_sample_spark.functions.determinism import dsum_sql
from python_etl_sample_spark.operators.round7j_ops import (
    _DEC38,
    _SCENTS,
    _YPOS,
)
from python_etl_sample_spark.operators.round10_ops import _X_CTES
from python_etl_sample_spark.operators.round10c_ops import _xengine_truth
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table

# --------------------------------------------------------------------------
# pipeline_dedup_funnel
# --------------------------------------------------------------------------

#: quality-gate keep predicate (corpus_quality_gate_report's gates,
#: integer cross-multiplied so no float threshold can straddle engines)
_KEEP_SQL = (
    "n_chars >= 200"
    " AND length(regexp_replace(text, '[^0-9]', '', 'g')) * 5 <= n_chars"
    " AND length(regexp_replace(text, '[^A-Z]', '', 'g')) * 10 <= n_chars * 3"
)


@query(
    "pipeline_dedup_funnel",
    oracle=f"""
    WITH {_X_CTES},
    truth AS (
      SELECT doc_a, doc_b
      FROM xinter
      JOIN xsizes sa ON sa.doc_id = doc_a
      JOIN xsizes sb ON sb.doc_id = doc_b
      WHERE n_inter / (sa.n + sb.n - n_inter) >= 0.8
    ),
    keep1 AS (
      SELECT MIN(doc_id) AS doc_id FROM documents
      GROUP BY sha256(lower(trim(text)))
    ),
    drop2 AS (
      SELECT DISTINCT t.doc_b AS doc_id
      FROM truth t
      JOIN keep1 a ON a.doc_id = t.doc_a
      JOIN keep1 b ON b.doc_id = t.doc_b
    ),
    flags AS (
      SELECT d.n_chars,
             (k.doc_id IS NOT NULL) AS in1,
             (k.doc_id IS NOT NULL AND x.doc_id IS NULL) AS in2,
             (k.doc_id IS NOT NULL AND x.doc_id IS NULL
              AND {_KEEP_SQL}) AS in3
      FROM documents d
      LEFT JOIN keep1 k ON k.doc_id = d.doc_id
      LEFT JOIN drop2 x ON x.doc_id = d.doc_id
    ),
    w AS (
      SELECT COUNT(*) AS n0, CAST(SUM(n_chars) AS BIGINT) AS ch0,
             COUNT(*) FILTER (WHERE in1) AS n1,
             CAST(COALESCE(SUM(n_chars) FILTER (WHERE in1), 0) AS BIGINT) AS ch1,
             COUNT(*) FILTER (WHERE in2) AS n2,
             CAST(COALESCE(SUM(n_chars) FILTER (WHERE in2), 0) AS BIGINT) AS ch2,
             COUNT(*) FILTER (WHERE in3) AS n3,
             CAST(COALESCE(SUM(n_chars) FILTER (WHERE in3), 0) AS BIGINT) AS ch3
      FROM flags
    )
    SELECT stage, n_docs, n_chars, n_dropped,
           round(n_docs / CAST(n0 AS DOUBLE), 6) AS doc_retention,
           round(n_chars / CAST(ch0 AS DOUBLE), 6) AS char_retention
    FROM (
      SELECT '0_raw' AS stage, n0 AS n_docs, ch0 AS n_chars,
             CAST(0 AS BIGINT) AS n_dropped, n0, ch0 FROM w
      UNION ALL
      SELECT '1_exact_dedup', n1, ch1, n0 - n1, n0, ch0 FROM w
      UNION ALL
      SELECT '2_near_dedup', n2, ch2, n1 - n2, n0, ch0 FROM w
      UNION ALL
      SELECT '3_quality_gate', n3, ch3, n2 - n3, n0, ch0 FROM w
    )
    """,
    tags=("memo",),
)
def pipeline_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus retention funnel, stage by stage: raw → exact dedup
    (keep MIN doc_id per sha256(lower(trim(text))) class — dedup_exact's
    rule) → near dedup (drop any survivor that pairs at exact 3-gram
    Jaccard ≥ 0.8 with a LOWER-id survivor — the greedy keep-lowest
    rule over dedup_ngram_jaccard's truth set) → quality gates
    (corpus_quality_gate_report's three integer-cross-multiplied
    predicates). Per stage: documents, char mass, documents dropped by
    that stage, and doc/char retention vs raw — the token-budget
    arithmetic a training run starts from.

    Near-dup stage uses the EXACT pair set (the memoized inverted-index
    frame), not the banded approximation, so the whole funnel replays
    in SQL; at 100 TB the banding (dedup_near_minhash) would produce
    the candidate pairs and the rest of this plan is unchanged.

    Scale: ONE pass over the corpus computes every stage — the keeper
    and drop sets become per-doc membership flags via two left joins
    (keeper ids from one hash groupBy; the drop set from two
    broadcast-sized joins of the bounded truth pairs against the keeper
    ids), the gates are map-only expressions on the flagged rows, and
    all eight stage statistics come out of a single combiner-reduced
    aggregate. The first cut ran each stage as its own count chain
    (4 re-derivations of the keeper groupBy, ~60 AQE stages, 7.3 s
    floor at sf0.1); the flagged single pass replaced it.

    Determinism: counts and char sums are exact integers; the two
    retention ratios are mirrored single divisions rounded 6 dp."""
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars", "text")
    truth = _xengine_truth(spark, sf_dir)

    keep1 = d.groupBy(
        F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("h")
    ).agg(F.min("doc_id").alias("doc_id"))
    keepers = keep1.select("doc_id")
    drop2 = (
        truth.join(keepers.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(keepers.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    flags = (
        d.join(keepers.withColumn("k1", F.lit(1)), "doc_id", "left")
        .join(drop2.withColumn("dr", F.lit(1)), "doc_id", "left")
        .select(
            "n_chars",
            F.col("k1").isNotNull().alias("in1"),
            (F.col("k1").isNotNull() & F.col("dr").isNull()).alias("in2"),
            (
                F.col("k1").isNotNull()
                & F.col("dr").isNull()
                & F.expr(_KEEP_SQL.replace(", 'g'", ""))
            ).alias("in3"),
        )
    )
    wide = flags.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum("n_chars").cast("long").alias("ch0"),
        F.count(F.when(F.col("in1"), 1)).alias("n1"),
        F.coalesce(F.sum(F.when(F.col("in1"), F.col("n_chars"))), F.lit(0))
        .cast("long")
        .alias("ch1"),
        F.count(F.when(F.col("in2"), 1)).alias("n2"),
        F.coalesce(F.sum(F.when(F.col("in2"), F.col("n_chars"))), F.lit(0))
        .cast("long")
        .alias("ch2"),
        F.count(F.when(F.col("in3"), 1)).alias("n3"),
        F.coalesce(F.sum(F.when(F.col("in3"), F.col("n_chars"))), F.lit(0))
        .cast("long")
        .alias("ch3"),
    )

    def stage(name: str, n: str, ch: str, prev_n) -> DataFrame:
        return wide.select(
            F.lit(name).alias("stage"),
            F.col(n).alias("n_docs"),
            F.col(ch).alias("n_chars"),
            (prev_n - F.col(n)).cast("long").alias("n_dropped"),
            F.round(
                F.col(n).cast("double") / F.col("n0").cast("double"), 6
            ).alias("doc_retention"),
            F.round(
                F.col(ch).cast("double") / F.col("ch0").cast("double"), 6
            ).alias("char_retention"),
        )

    return (
        stage("0_raw", "n0", "ch0", F.col("n0"))
        .unionAll(stage("1_exact_dedup", "n1", "ch1", F.col("n0")))
        .unionAll(stage("2_near_dedup", "n2", "ch2", F.col("n1")))
        .unionAll(stage("3_quality_gate", "n3", "ch3", F.col("n2")))
    )


# --------------------------------------------------------------------------
# ml_brier_decomposition
# --------------------------------------------------------------------------

#: the logistic-score + 10-bin construction, textually identical to
#: ml_calibration_bins' oracle so both queries score and bin the same
_BINS_CTES = f"""
    base AS (
      SELECT {_SCENTS} AS cents, {_YPOS} AS y FROM orders
    ),
    m AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE) AS s,
             CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS DOUBLE) AS ssq
      FROM base
    ),
    z AS (
      SELECT y,
             round(1.0 / (1.0 + exp(-((CAST(cents AS DOUBLE) - (s / n))
                                      / sqrt(GREATEST((ssq - s * (s / n)) / n, 0))))),
                   6) AS p
      FROM base CROSS JOIN m
    ),
    b AS (
      SELECT CAST(least(floor(p * 10), 9) AS INT) AS bin, y, p FROM z
    )"""


@query(
    "ml_brier_decomposition",
    oracle=f"""
    WITH {_BINS_CTES},
    g AS (
      SELECT COUNT(*) AS n,
             round(SUM(y) / CAST(COUNT(*) AS DOUBLE), 9) AS obar,
             round(CAST(SUM(CAST(round((p - y) * (p - y), 12)
                                 AS DECIMAL(28,14))) AS DOUBLE)
                   / COUNT(*), 6) AS brier
      FROM b
    ),
    pk AS (
      SELECT bin, COUNT(*) AS nk,
             round(CAST(SUM(CAST(p AS DECIMAL(28,10))) AS DOUBLE)
                   / COUNT(*), 9) AS pbar,
             round(SUM(y) / CAST(COUNT(*) AS DOUBLE), 9) AS okbar
      FROM b GROUP BY bin
    ),
    comp AS (
      SELECT round(CAST(SUM(CAST(round(nk * (pbar - okbar) * (pbar - okbar), 9)
                                 AS DECIMAL(28,12))) AS DOUBLE)
                   / (SELECT n FROM g), 6) AS reliability,
             round(CAST(SUM(CAST(round(nk * (okbar - g.obar) * (okbar - g.obar), 9)
                                 AS DECIMAL(28,12))) AS DOUBLE)
                   / (SELECT n FROM g), 6) AS resolution
      FROM pk CROSS JOIN g
    )
    SELECT g.n AS n_rows,
           round(g.obar, 6) AS base_rate,
           g.brier,
           c.reliability,
           c.resolution,
           round(g.obar * (1 - g.obar), 6) AS uncertainty,
           round(g.brier - c.reliability + c.resolution
                 - round(g.obar * (1 - g.obar), 6), 6) AS within_bin_residual
    FROM g CROSS JOIN comp c
    """,
)
def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score over the same
    deterministic logistic score and 10 equal-width bins as
    ml_calibration_bins: BS ≈ reliability − resolution + uncertainty,
    with the within-bin residual reported explicitly (for a continuous
    forecast binned after the fact, the three-term identity holds only
    up to within-bin variance/covariance — publishing the residual
    makes the scorecard honest instead of approximately-true).
    Reliability is the calibration penalty (bin mean forecast vs bin
    outcome rate), resolution the reward for separating outcome rates
    across bins, uncertainty the irreducible ō(1−ō) floor.

    Scale: the same two passes as the calibration table (global
    moments broadcast, one 10-group combiner-reduced agg) plus a
    10-row reduction — nothing new touches the fact table.

    Determinism: p rounds 6 dp before binning (bin membership
    engine-identical); per-bin means round at 9 dp before squaring;
    each bin's n·Δ² term rounds at 9 dp into decimal(28,12) sums; the
    four reported components round at 6 dp and the residual is
    computed FROM the 6-dp components, so it is exactly reproducible."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.expr(_SCENTS).alias("cents"), F.expr(_YPOS).alias("y")
    )
    cd = F.col("cents").cast(_DEC38)
    m = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cd).cast("double").alias("s"),
        F.sum(cd * F.col("cents")).cast("double").alias("ssq"),
    )
    mu = F.col("s") / F.col("n")
    sd = F.sqrt(
        F.greatest((F.col("ssq") - F.col("s") * mu) / F.col("n"), F.lit(0.0))
    )
    p = F.round(
        1.0 / (1.0 + F.exp(-((F.col("cents").cast("double") - mu) / sd))), 6
    )
    z = base.crossJoin(F.broadcast(m)).select("y", p.alias("p"))
    b = z.select(
        F.least(F.floor(F.col("p") * 10), F.lit(9)).cast("int").alias("bin"),
        "y",
        "p",
    )
    g = b.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("y") / F.count(F.lit(1)).cast("double"), 9).alias(
            "obar"
        ),
        F.round(
            F.sum(
                F.round(
                    (F.col("p") - F.col("y")) * (F.col("p") - F.col("y")), 12
                ).cast("decimal(28,14)")
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("brier"),
    )
    pk = b.groupBy("bin").agg(
        F.count(F.lit(1)).alias("nk"),
        F.round(
            F.sum(F.col("p").cast("decimal(28,10)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("pbar"),
        F.round(F.sum("y") / F.count(F.lit(1)).cast("double"), 9).alias(
            "okbar"
        ),
    )
    comp = (
        pk.crossJoin(F.broadcast(g))
        .agg(
            F.round(
                F.sum(
                    F.round(
                        F.col("nk")
                        * (F.col("pbar") - F.col("okbar"))
                        * (F.col("pbar") - F.col("okbar")),
                        9,
                    ).cast("decimal(28,12)")
                ).cast("double")
                / F.first("n"),
                6,
            ).alias("reliability"),
            F.round(
                F.sum(
                    F.round(
                        F.col("nk")
                        * (F.col("okbar") - F.col("obar"))
                        * (F.col("okbar") - F.col("obar")),
                        9,
                    ).cast("decimal(28,12)")
                ).cast("double")
                / F.first("n"),
                6,
            ).alias("resolution"),
        )
    )
    unc = F.round(F.col("obar") * (1 - F.col("obar")), 6)
    return g.crossJoin(F.broadcast(comp)).select(
        F.col("n").alias("n_rows"),
        F.round(F.col("obar"), 6).alias("base_rate"),
        "brier",
        "reliability",
        "resolution",
        unc.alias("uncertainty"),
        F.round(
            F.col("brier") - F.col("reliability") + F.col("resolution") - unc,
            6,
        ).alias("within_bin_residual"),
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
