"""Model-evaluation operators: ranking, calibration, classification and
retrieval metrics computed exactly at corpus scale.

A pipeline that trains on the corpus this engine curates needs to
SCORE models at the same scale; these are the evaluation
primitives every ML platform reimplements:

- ``ml_roc_auc``: exact tie-corrected ROC-AUC (and Gini) via the
  rank-statistic identity AUC = (R⁺ − n₁(n₁+1)/2)/(n₁n₀) — computed
  over the score HISTOGRAM with average ranks, so the shuffle carries
  distinct score values, not rows.
- ``ml_calibration_bins``: 10-bin reliability table (mean predicted
  vs realized rate) with per-bin Brier score for a deterministic
  logistic score — the calibration audit run before any probability
  is trusted downstream.
- ``ml_gains_deciles``: the cumulative-gains / lift table over score
  deciles (NTILE via the range-partitioned total-order kernel) — the
  targeting report that answers "how much of the positive class do
  the top-k% capture".

The shared scale idea: every rank here is an AVERAGE RANK over a
value histogram — rank arithmetic runs on distinct values (domain-
bounded for integer cents), not on rows, so the only data-sized
shuffles are the initial groupBys.

Determinism: ranks and concordance sums are exact integers carried in
38-digit decimals (2× average ranks stay integral); every statistic is
one mirrored float expression of those exact sums rounded at 6 dp;
the logistic score rounds at 6 dp before binning so bin membership is
identical in both engines.

- ``ml_conformal_interval``: split-conformal prediction intervals per
  order-priority group (α=0.1) — the distribution-free uncertainty
  calibration modern ML serving uses, with the residual quantile made
  EXACT by working on |n·y − Σy| integers.

Determinism: conformal ranks order exact integers.

- ``ml_pr_auc``: exact average precision (PR-AUC, the sklearn
  step-interpolated definition) over the score histogram — the
  imbalanced-label complement to ml_roc_auc (ROC-AUC stays near 1 on
  a 99:1 label while AP collapses, which is why pipelines report
  both).
- ``ml_ndcg_retrieval``: NDCG@10 of the BM25 ranking per probe with
  graded relevance = number of matched probe terms — the standard
  ranking-quality audit, sharing the exact BM25 scoring pipeline.
- ``ml_threshold_sweep``: the operating-point table — confusion
  counts, precision, recall, F1 at the nine score-decile thresholds —
  the readout that turns a scored population into a deployable
  cutoff.

Determinism: AP terms are single divisions of exact cumulative
integers rounded at 12 dp into decimal sums; NDCG gains are exact
2^rel − 1 integers with log2 discounts rounded per term; confusion
counts are exact with F1 = 2TP/(2TP+FP+FN) one division.

- ``ml_brier_decomposition`` — the Murphy decomposition of the Brier
  score (reliability − resolution + uncertainty) over the same
  deterministic logistic score and 10 bins as ``ml_calibration_bins``,
  plus the explicit within-bin residual that makes the identity exact
  for continuous forecasts — the one-row scorecard the per-bin
  reliability table feeds.

- ``ml_cohens_kappa`` / ``stats_fleiss_kappa`` / ``ml_mcnemar_paired``:
  the inter-annotator-agreement and paired-classifier-comparison tier a
  labeling pipeline needs before acting on model or rater output —
  agreement beyond chance for 2 raters (Cohen), for 3+ raters (Fleiss),
  and the discordant-pair significance test for "is classifier B better
  than A on the same items" (McNemar). All three are exact-integer
  confusion counts with one mirrored double expression at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_sample_spark.functions.total_order import (
    attach_global_order,
    ntile_from_rank,
)
from python_etl_sample_spark.operators.text_analysis import _BM25_CTES, _bm25_scored
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table


_SCENTS = "CAST(round(o_totalprice * 100) AS BIGINT)"


_YPOS = "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END"


# ---------------------------------------------------------------------------
# ml_roc_auc
# ---------------------------------------------------------------------------


@query(
    "ml_roc_auc",
    oracle=f"""
    WITH base AS (
      SELECT {_SCENTS} AS score, {_YPOS} AS y FROM orders
    ),
    h AS (SELECT score, COUNT(*) AS cnt, SUM(y) AS pos
          FROM base GROUP BY score),
    r AS (
      SELECT cnt, pos,
             SUM(cnt) OVER (ORDER BY score
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
      FROM h
    ),
    agg AS (
      SELECT SUM(CAST(pos AS DECIMAL(38,0)) * (2 * cum - cnt + 1))
               AS sum2pos,
             SUM(CAST(pos AS DECIMAL(38,0))) AS n1,
             SUM(CAST(cnt AS DECIMAL(38,0))) AS n
      FROM r
    ),
    v AS (
      SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n - n1 AS BIGINT) AS n_neg,
             CASE WHEN n1 > 0 AND n - n1 > 0
                  THEN CAST(sum2pos - n1 * (n1 + 1) AS DOUBLE)
                       / CAST((2 * n1) * (n - n1) AS DOUBLE)
                  END AS araw
      FROM agg
    )
    SELECT n_pos, n_neg, round(araw, 6) AS auc,
           round(2.0 * araw - 1.0, 6) AS gini
    FROM v
    """,
)
def ml_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the order-value score against the
    urgent/high-priority label, via the Mann-Whitney rank identity
    AUC = (R⁺ − n₁(n₁+1)/2)/(n₁n₀) with midrank tie handling (ties at
    a score value contribute their average rank — the trapezoidal tie
    treatment sklearn's roc_auc_score applies). Gini = 2·AUC − 1
    alongside. The evaluation twin of the rank-sum test
    (stats_rank_sum_u): same statistic, read as a classifier metric.

    Scale shape: ONE data-sized groupBy collapses rows to the score
    histogram (distinct integer cents — value-domain-bounded), the
    total-order kernel ranks the HISTOGRAM (range shuffle of distinct
    values, never rows), and average ranks come from the cumulative
    count: rank arithmetic is O(distinct values) regardless of row
    count. No per-row window, no sort of the full table.

    Determinism: 2×average-rank (2·cum − cnt + 1) is an exact integer;
    the positive-rank sum accumulates in 38-digit decimals; AUC is one
    division of exact integers rounded at 6 dp (degenerate one-class
    inputs yield NULL on both engines)."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.expr(_SCENTS).alias("score"), F.expr(_YPOS).alias("y")
    )
    h = base.groupBy("score").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    )
    r = attach_global_order(h, [F.asc("score")], cumsums=[("cnt", "cum")])
    avg2 = 2 * F.col("cum") - F.col("cnt") + 1
    agg = r.agg(
        F.sum(F.col("pos").cast(_DEC38) * avg2).alias("sum2pos"),
        F.sum(F.col("pos").cast(_DEC38)).alias("n1"),
        F.sum(F.col("cnt").cast(_DEC38)).alias("n"),
    )
    n1, n = F.col("n1"), F.col("n")
    araw = F.when(
        (n1 > 0) & (n - n1 > 0),
        (F.col("sum2pos") - n1 * (n1 + 1)).cast("double")
        / ((2 * n1) * (n - n1)).cast("double"),
    )
    return agg.select(
        n1.cast("long").alias("n_pos"),
        (n - n1).cast("long").alias("n_neg"),
        F.round(araw, 6).alias("auc"),
        F.round(2.0 * araw - 1.0, 6).alias("gini"),
    )


# ---------------------------------------------------------------------------
# ml_calibration_bins
# ---------------------------------------------------------------------------


@query(
    "ml_calibration_bins",
    oracle=f"""
    WITH base AS (
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
    )
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_rows,
           round(CAST(SUM(CAST(p AS DECIMAL(28,10))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_pred,
           round(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS frac_pos,
           round(CAST(SUM(CAST(round((p - y) * (p - y), 12)
                               AS DECIMAL(28,14))) AS DOUBLE)
                 / COUNT(*), 6) AS brier
    FROM b GROUP BY bin
    """,
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration (reliability) table of a deterministic logistic
    score p = σ((value − μ)/sd) against the urgent/high label, in ten
    equal-width probability bins: mean predicted probability vs
    realized positive rate per bin, plus the per-bin Brier score
    (mean (p − y)²). |avg_pred − frac_pos| per bin IS the reliability
    diagram a platform plots before trusting any model probability —
    and the per-bin Brier localizes where the score is worst.

    The score is a fixed, data-derived transform (global z-score
    through the logistic), not a trained model — the point is the
    evaluation machinery: binning, per-bin moments, and the Brier
    decomposition inputs, all exact.

    Scale: one pass for the two global moments (1-row broadcast), one
    map stage to score and bin, one 10-group aggregate with map-side
    combine. Nothing driver-side, nothing quadratic.

    Determinism: μ and sd derive from exact integer-cents sums with
    mirrored parenthesization; p rounds at 6 dp BEFORE binning (so
    bin membership is engine-identical) and sums as decimal(28,10);
    (p − y)² rounds at 12 dp into decimal sums; the three per-bin
    ratios are single divisions rounded at 6 dp."""
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
    # GREATEST-guard (ADVICE r7): near-constant series can round the
    # variance to a tiny negative; DuckDB sqrt raises where Spark NaNs
    sd = F.sqrt(
        F.greatest((F.col("ssq") - F.col("s") * mu) / F.col("n"), F.lit(0.0))
    )
    p = F.round(
        1.0
        / (
            1.0
            + F.exp(-((F.col("cents").cast("double") - mu) / sd))
        ),
        6,
    )
    z = base.crossJoin(F.broadcast(m)).select("y", p.alias("p"))
    b = z.select(
        F.least(F.floor(F.col("p") * 10), F.lit(9)).cast("int").alias("bin"),
        "y",
        "p",
    )
    return b.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(
            F.sum(F.col("p").cast("decimal(28,10)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_pred"),
        F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6).alias(
            "frac_pos"
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


# ---------------------------------------------------------------------------
# ml_gains_deciles
# ---------------------------------------------------------------------------


@query(
    "ml_gains_deciles",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey, {_SCENTS} AS score, {_YPOS} AS y FROM orders
    ),
    d AS (
      SELECT y, NTILE(10) OVER (ORDER BY score DESC, o_orderkey) AS decile
      FROM base
    ),
    g AS (
      SELECT decile, COUNT(*) AS n_rows, SUM(y) AS n_pos
      FROM d GROUP BY decile
    ),
    c AS (
      SELECT decile, n_rows, n_pos,
             SUM(n_pos) OVER (ORDER BY decile
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum_pos,
             SUM(n_pos) OVER () AS tot_pos,
             SUM(n_rows) OVER () AS tot_rows
      FROM g
    )
    SELECT decile, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_pos AS BIGINT) AS n_pos,
           round(CAST(cum_pos AS DOUBLE) / tot_pos, 6) AS cum_capture,
           round((CAST(n_pos AS DOUBLE) / n_rows)
                 / (CAST(tot_pos AS DOUBLE) / tot_rows), 6) AS lift
    FROM c
    """,
)
def ml_gains_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-gains / lift table: rank orders by the value score
    descending, cut into NTILE(10) deciles, and report per decile the
    positive count, the cumulative share of ALL positives captured so
    far (the gains curve), and the lift of the decile's positive rate
    over the global rate — the campaign-targeting readout ("the top
    20% of scores capture X% of responders").

    Scale: the decile assignment is the range-partitioned total-order
    kernel + arithmetic NTILE (functions/total_order.py — no
    single-task window over the data), then a 10-group aggregate. The
    cumulative step runs on the 10-row decile frame only.

    Determinism: the (score DESC, orderkey) order is total, the kernel
    NTILE matches SQL NTILE bit-for-bit, counts are exact, and the two
    ratios are single divisions of exact integers rounded at 6 dp."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey", F.expr(_SCENTS).alias("score"), F.expr(_YPOS).alias("y")
    )
    ranked = attach_global_order(
        base,
        [F.desc("score"), F.asc("o_orderkey")],
        rn="__rn",
        total_count="__n",
    )
    d = ranked.select(
        "y", ntile_from_rank(F.col("__rn"), F.col("__n"), 10).alias("decile")
    )
    g = d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("y").alias("n_pos")
    )
    # bounded-window: the decile frame is exactly 10 rows (k is a
    # query constant, independent of data volume); the cumulative
    # gains curve needs the running positive total over those 10
    # ordered rows — a constant-size reduction, not a data window.
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    # bounded-window: same 10-row frame — the unpartitioned totals
    # are constants of that frame, not of the data.
    wt = Window.partitionBy()
    c = g.select(
        "decile",
        "n_rows",
        "n_pos",
        F.sum("n_pos").over(wc).alias("cum_pos"),
        F.sum("n_pos").over(wt).alias("tot_pos"),
        F.sum("n_rows").over(wt).alias("tot_rows"),
    )
    return c.select(
        "decile",
        "n_rows",
        "n_pos",
        F.round(
            F.col("cum_pos").cast("double") / F.col("tot_pos"), 6
        ).alias("cum_capture"),
        F.round(
            (F.col("n_pos").cast("double") / F.col("n_rows"))
            / (F.col("tot_pos").cast("double") / F.col("tot_rows")),
            6,
        ).alias("lift"),
    )


_PCENTS = "CAST(round(o_totalprice * 100) AS BIGINT)"


# ---------------------------------------------------------------------------
# ml_conformal_interval
# ---------------------------------------------------------------------------

_CONF_ALPHA = "0.1"


@query(
    "ml_conformal_interval",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey, o_orderpriority AS grp, {_PCENTS} AS cents
      FROM orders
    ),
    g AS (
      SELECT grp, COUNT(*) AS n_g,
             SUM(CAST(cents AS DECIMAL(38,0))) AS s_g
      FROM base GROUP BY grp
    ),
    res AS (
      SELECT b.grp, g.n_g, g.s_g,
             ABS(CAST(b.cents AS DECIMAL(38,0)) * g.n_g - g.s_g) AS r2,
             ROW_NUMBER() OVER (
               PARTITION BY b.grp
               ORDER BY ABS(CAST(b.cents AS DECIMAL(38,0)) * g.n_g - g.s_g),
                        b.o_orderkey) AS rn
      FROM base b JOIN g ON g.grp = b.grp
    ),
    q AS (
      SELECT grp, MAX(n_g) AS n_g, MAX(s_g) AS s_g,
             MAX(CASE WHEN rn = CAST(ceil((n_g + 1)
                                          * (1.0 - {_CONF_ALPHA}))
                                     AS BIGINT)
                      THEN r2 END) AS r2_hat
      FROM res GROUP BY grp
    ),
    cov AS (
      SELECT r.grp, SUM(CASE WHEN r.r2 <= q.r2_hat THEN 1 ELSE 0 END)
               AS n_covered
      FROM res r JOIN q ON q.grp = r.grp
      GROUP BY r.grp
    )
    SELECT q.grp AS priority, CAST(q.n_g AS BIGINT) AS n_rows,
           round(CAST(q.s_g AS DOUBLE) / q.n_g / 100.0, 6) AS point_pred,
           round(CAST(q.r2_hat AS DOUBLE) / q.n_g / 100.0, 6) AS q_hat,
           round(CAST(cov.n_covered AS DOUBLE) / q.n_g, 6) AS coverage
    FROM q JOIN cov ON cov.grp = q.grp
    """,
)
def ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals (α = 0.1) for order value
    per priority group: the point prediction is the group mean, the
    interval half-width q̂ is the ⌈(n+1)(1−α)⌉-th smallest absolute
    residual (the conformal quantile that guarantees ≥ 90% marginal
    coverage, Vovk/Angelopoulos), and the empirical coverage of
    mean ± q̂ is reported as the audit column. Distribution-free — the
    uncertainty layer a serving stack wraps around ANY point model.

    Exactness trick: rank |y − ȳ_g| by the integer |n_g·y − Σ_g|
    (multiplying through by n_g preserves the within-group order and
    keeps every compared quantity an exact integer — no float
    ordering anywhere); q̂ divides that integer once at the end.

    Scale: group stats are one groupBy to k rows; the residual rank
    is a window PARTITIONED by group (parallel across groups — the
    same shuffle any grouped rank pays); coverage is a second k-row
    aggregate. At 100 TB with many groups this is two shuffles on the
    group key, nothing global."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("grp"),
        F.expr(_PCENTS).alias("cents"),
    )
    g = base.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum(F.col("cents").cast(_DEC38)).alias("s_g"),
    )
    r2 = F.abs(F.col("cents").cast(_DEC38) * F.col("n_g") - F.col("s_g"))
    wr = Window.partitionBy("grp").orderBy(
        F.abs(F.col("cents").cast(_DEC38) * F.col("n_g") - F.col("s_g")),
        F.col("o_orderkey"),
    )
    res = base.join(F.broadcast(g), "grp").select(
        "grp",
        "n_g",
        "s_g",
        r2.alias("r2"),
        F.row_number().over(wr).alias("rn"),
    )
    alpha = float(_CONF_ALPHA)
    qrank = F.ceil((F.col("n_g") + 1) * (1.0 - alpha)).cast("bigint")
    q = res.groupBy("grp").agg(
        F.max("n_g").alias("n_g"),
        F.max("s_g").alias("s_g"),
        F.max(F.when(F.col("rn") == qrank, F.col("r2"))).alias("r2_hat"),
    )
    cov = (
        res.join(q.select("grp", "r2_hat"), "grp")
        .groupBy("grp")
        .agg(
            F.sum(
                F.when(F.col("r2") <= F.col("r2_hat"), 1).otherwise(0)
            ).alias("n_covered")
        )
    )
    return q.join(cov, "grp").select(
        F.col("grp").alias("priority"),
        F.col("n_g").cast("long").alias("n_rows"),
        F.round(F.col("s_g").cast("double") / F.col("n_g") / 100.0, 6).alias(
            "point_pred"
        ),
        F.round(
            F.col("r2_hat").cast("double") / F.col("n_g") / 100.0, 6
        ).alias("q_hat"),
        F.round(F.col("n_covered").cast("double") / F.col("n_g"), 6).alias(
            "coverage"
        ),
    )


_DEC38 = "decimal(38,0)"


# ---------------------------------------------------------------------------
# ml_pr_auc
# ---------------------------------------------------------------------------


@query(
    "ml_pr_auc",
    oracle=f"""
    WITH base AS (
      SELECT {_SCENTS} AS score, {_YPOS} AS y FROM orders
    ),
    h AS (SELECT score, COUNT(*) AS cnt, SUM(y) AS pos
          FROM base GROUP BY score),
    r AS (
      SELECT cnt, pos,
             SUM(cnt) OVER w AS cumcnt, SUM(pos) OVER w AS cumpos
      FROM h
      WINDOW w AS (ORDER BY score DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    agg AS (
      SELECT SUM(CAST(round(CAST(pos AS DECIMAL(38,0)) * cumpos / cumcnt,
                            12) AS DECIMAL(28,14))) AS apnum,
             SUM(CAST(pos AS DECIMAL(38,0))) AS n1,
             SUM(CAST(cnt AS DECIMAL(38,0))) AS n
      FROM r
    )
    SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n - n1 AS BIGINT) AS n_neg,
           CASE WHEN n1 > 0
                THEN round(CAST(apnum AS DOUBLE) / CAST(n1 AS DOUBLE), 6)
                END AS pr_auc,
           CASE WHEN n > 0
                THEN round(CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE), 6)
                END AS baseline
    FROM agg
    """,
)
def ml_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact average precision (PR-AUC) of the order-value score
    against the urgent/high label: AP = Σ_t (R_t − R_{t−1})·P_t over
    every distinct-score threshold, descending — sklearn's
    average_precision_score definition, which with ties collapses to
    Σ pos_t·(cumpos_t/cumcnt_t)/n₁ over the score HISTOGRAM. Reported
    with the no-skill baseline n₁/n: unlike ROC-AUC (whose no-skill is
    always 0.5), AP must be read against the label prevalence — the
    reason imbalanced-label evaluation reports PR, not ROC.

    Scale: identical shape to ml_roc_auc — one groupBy to the
    value-domain-bounded score histogram, the total-order kernel's
    cumulative sums over distinct scores (never rows), one reduction.

    Determinism: cumcnt/cumpos/pos are exact integers; each
    threshold's pos·cumpos/cumcnt is ONE division rounded at 12 dp
    into an order-free decimal sum; AP divides by n₁ once, 6 dp."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.expr(_SCENTS).alias("score"), F.expr(_YPOS).alias("y")
    )
    h = base.groupBy("score").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    )
    r = attach_global_order(
        h,
        [F.desc("score")],
        cumsums=[("cnt", "cumcnt"), ("pos", "cumpos")],
    )
    term = F.round(
        F.col("pos").cast(_DEC38) * F.col("cumpos") / F.col("cumcnt"), 12
    ).cast("decimal(28,14)")
    agg = r.agg(
        F.sum(term).alias("apnum"),
        F.sum(F.col("pos").cast(_DEC38)).alias("n1"),
        F.sum(F.col("cnt").cast(_DEC38)).alias("n"),
    )
    n1, n = F.col("n1"), F.col("n")
    return agg.select(
        n1.cast("long").alias("n_pos"),
        (n - n1).cast("long").alias("n_neg"),
        F.when(
            n1 > 0,
            F.round(F.col("apnum").cast("double") / n1.cast("double"), 6),
        ).alias("pr_auc"),
        F.when(
            n > 0, F.round(n1.cast("double") / n.cast("double"), 6)
        ).alias("baseline"),
    )


# ---------------------------------------------------------------------------
# ml_ndcg_retrieval
# ---------------------------------------------------------------------------

_NDCG_K = 10


@query(
    "ml_ndcg_retrieval",
    oracle=f"""
    WITH {_BM25_CTES},
    ranked AS (
      SELECT probe_id, n_terms,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY bm25 DESC, doc_id) AS rn
      FROM scored
    ),
    ideal AS (
      SELECT probe_id, n_terms,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY n_terms DESC, doc_id) AS rn
      FROM scored
    ),
    dcg AS (
      SELECT probe_id,
             CAST(SUM(CAST(round((power(2.0, n_terms) - 1.0)
                                 / log2(rn + 1.0), 9)
                           AS DECIMAL(28,12))) AS DOUBLE) AS dcg
      FROM ranked WHERE rn <= {_NDCG_K} GROUP BY probe_id
    ),
    idcg AS (
      SELECT probe_id,
             CAST(SUM(CAST(round((power(2.0, n_terms) - 1.0)
                                 / log2(rn + 1.0), 9)
                           AS DECIMAL(28,12))) AS DOUBLE) AS idcg
      FROM ideal WHERE rn <= {_NDCG_K} GROUP BY probe_id
    )
    SELECT d.probe_id, round(d.dcg, 6) AS dcg, round(i.idcg, 6) AS idcg,
           CASE WHEN i.idcg > 0 THEN round(d.dcg / i.idcg, 6) END AS ndcg
    FROM dcg d JOIN idcg i ON i.probe_id = d.probe_id
    """,
    tags=("memo",),
)
def ml_ndcg_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the BM25 ranking per probe, with graded relevance =
    the number of distinct probe terms the document matches (1..3):
    DCG = Σ (2^rel − 1)/log2(rank+1) over the BM25 top-10, IDCG the
    same sum over the relevance-ideal ordering of ALL candidate
    documents, NDCG their ratio. The standard ranking-quality audit —
    it answers whether the scorer actually puts the most-relevant
    documents first, independent of the scorer's own scale.

    Scale: shares the exact BM25 scoring pipeline (_bm25_scored — the
    candidate frame is already pruned to documents matching ≥1 probe
    term); both rankings are per-probe windows over that candidate
    frame, and each per-probe sum touches ≤10 rows.

    Determinism: gains 2^rel − 1 are exact small integers; each
    discount term rounds at 9 dp into a ≤10-term decimal sum; the
    final ratio is one division rounded at 6 dp (ties in either
    ranking are value-identical, so the top-10 gain multiset — and
    both sums — are tie-order-independent only where tied ranks share
    a relevance; the doc_id tie-break pins the rest).

    Warm-up tag ``memo``: ``_bm25_scored`` is a session memo shared with
    ``text_bm25_rank``."""
    scored = _bm25_scored(spark, sf_dir)
    gain = F.pow(F.lit(2.0), F.col("n_terms")) - 1.0
    wr = Window.partitionBy("probe_id").orderBy(
        F.desc("bm25"), F.asc("doc_id")
    )
    wi = Window.partitionBy("probe_id").orderBy(
        F.desc("n_terms"), F.asc("doc_id")
    )

    def dsum_terms(w, out):
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _NDCG_K)
            .groupBy("probe_id")
            .agg(
                F.sum(
                    F.round(gain / F.log2(F.col("rn") + 1.0), 9).cast(
                        "decimal(28,12)"
                    )
                )
                .cast("double")
                .alias(out)
            )
        )

    dcg = dsum_terms(wr, "dcg")
    idcg = dsum_terms(wi, "idcg")
    return dcg.join(idcg, "probe_id").select(
        "probe_id",
        F.round("dcg", 6).alias("dcg"),
        F.round("idcg", 6).alias("idcg"),
        F.when(
            F.col("idcg") > 0, F.round(F.col("dcg") / F.col("idcg"), 6)
        ).alias("ndcg"),
    )


# ---------------------------------------------------------------------------
# ml_threshold_sweep
# ---------------------------------------------------------------------------


@query(
    "ml_threshold_sweep",
    oracle=f"""
    WITH base AS (
      SELECT {_SCENTS} AS score, {_YPOS} AS y FROM orders
    ),
    h AS (SELECT score, COUNT(*) AS cnt, SUM(y) AS pos
          FROM base GROUP BY score),
    r AS (
      SELECT score, cnt, pos,
             SUM(cnt) OVER w AS cumcnt, SUM(pos) OVER w AS cumpos
      FROM h
      WINDOW w AS (ORDER BY score DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    tot AS (SELECT SUM(cnt) AS n, SUM(pos) AS n1 FROM h),
    ks AS (SELECT UNNEST([1,2,3,4,5,6,7,8,9]) AS k),
    hit AS (
      SELECT ks.k, r.score, r.cumcnt, r.cumpos, tot.n, tot.n1
      FROM r CROSS JOIN tot JOIN ks
        ON r.cumcnt >= CAST(ceil(ks.k * tot.n / 10.0) AS BIGINT)
       AND r.cumcnt - r.cnt < CAST(ceil(ks.k * tot.n / 10.0) AS BIGINT)
    )
    SELECT k AS decile,
           round(CAST(score AS DOUBLE) / 100.0, 2) AS threshold,
           CAST(cumpos AS BIGINT) AS tp,
           CAST(cumcnt - cumpos AS BIGINT) AS fp,
           CAST(n1 - cumpos AS BIGINT) AS fn,
           CAST(n - cumcnt - (n1 - cumpos) AS BIGINT) AS tn,
           round(CAST(cumpos AS DOUBLE) / cumcnt, 6) AS precision,
           CASE WHEN n1 > 0
                THEN round(CAST(cumpos AS DOUBLE) / n1, 6) END AS recall,
           round(CAST(2 * cumpos AS DOUBLE)
                 / (2 * cumpos + (cumcnt - cumpos) + (n1 - cumpos)), 6)
             AS f1
    FROM hit
    """,
)
def ml_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point sweep: confusion counts and precision / recall
    / F1 when the classifier flags the top k×10% of scores, for
    k = 1..9 — the table that turns a scored population into a
    deployable threshold (pick the row whose precision/recall
    trade-off fits the budget). Thresholds are the exact score-decile
    boundaries; because the cut is 'score ≥ boundary', each reported
    row also shows the realized threshold value.

    Scale: the same histogram + total-order-kernel cumulative shape
    as ml_roc_auc / ml_pr_auc; the nine decile ranks broadcast-join
    against the histogram row that brackets each rank. Distinct
    scores, never rows, carry the rank arithmetic.

    Determinism: every confusion cell is exact integer arithmetic on
    cumulative counts; F1 = 2TP/(2TP+FP+FN) is ONE division of exact
    integers, rounded at 6 dp."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.expr(_SCENTS).alias("score"), F.expr(_YPOS).alias("y")
    )
    # persist (r14): the histogram feeds the prefix-sum kernel and the
    # n/n1 totals — one orders scan + groupBy, not two
    h = base.groupBy("score").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    ).persist()
    r = attach_global_order(
        h,
        [F.desc("score")],
        cumsums=[("cnt", "cumcnt"), ("pos", "cumpos")],
    )
    tot = h.agg(F.sum("cnt").alias("n"), F.sum("pos").alias("n1"))
    ks = spark.createDataFrame([(k,) for k in range(1, 10)], "k int")
    rank_k = F.ceil(F.col("k") * F.col("n") / 10.0).cast("bigint")
    hit = (
        r.crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(ks),
            (F.col("cumcnt") >= rank_k)
            & (F.col("cumcnt") - F.col("cnt") < rank_k),
        )
    )
    tp = F.col("cumpos")
    fp = F.col("cumcnt") - F.col("cumpos")
    fn = F.col("n1") - F.col("cumpos")
    tn = F.col("n") - F.col("cumcnt") - (F.col("n1") - F.col("cumpos"))
    return hit.select(
        F.col("k").alias("decile"),
        F.round(F.col("score").cast("double") / 100.0, 2).alias("threshold"),
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        tn.cast("long").alias("tn"),
        F.round(tp.cast("double") / F.col("cumcnt"), 6).alias("precision"),
        F.when(
            F.col("n1") > 0, F.round(tp.cast("double") / F.col("n1"), 6)
        ).alias("recall"),
        F.round(
            (2 * tp).cast("double") / (2 * tp + fp + fn), 6
        ).alias("f1"),
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


@query(
    "ml_auc_delong_ci",
    oracle=f"""
    WITH base AS (
      SELECT {_SCENTS} AS score, {_YPOS} AS y FROM orders
    ),
    h AS (
      SELECT score, COUNT(*) AS cnt, SUM(y) AS pos,
             COUNT(*) - SUM(y) AS neg
      FROM base GROUP BY score
    ),
    r AS (
      SELECT cnt, pos, neg,
             SUM(cnt) OVER w AS cumcnt,
             SUM(pos) OVER w AS cumpos
      FROM h
      WINDOW w AS (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    tot AS (
      SELECT CAST(SUM(pos) AS BIGINT) AS n1,
             CAST(SUM(neg) AS BIGINT) AS n0
      FROM h
    ),
    pl AS (
      SELECT r.pos, r.neg,
             2 * (r.cumcnt - r.cumpos - r.neg) + r.neg AS p2,
             2 * (t.n1 - r.cumpos) + r.pos AS q2,
             t.n1, t.n0
      FROM r CROSS JOIN tot t
    ),
    a AS (
      SELECT CAST(SUM(CAST(pos AS DECIMAL(38,0)) * p2) AS DOUBLE)
               / (CAST(2 AS DOUBLE) * n0 * n1) AS araw,
             n1, n0
      FROM pl GROUP BY n1, n0
    ),
    v AS (
      SELECT a.n1, a.n0, a.araw,
             CAST(SUM(CAST(round(round((p2 / (2.0 * pl.n0) - a.araw)
                                       * (p2 / (2.0 * pl.n0) - a.araw), 12)
                                 * pl.pos, 9)
                           AS DECIMAL(28,12))) AS DOUBLE) AS s10,
             CAST(SUM(CAST(round(round((q2 / (2.0 * pl.n1) - a.araw)
                                       * (q2 / (2.0 * pl.n1) - a.araw), 12)
                                 * pl.neg, 9)
                           AS DECIMAL(28,12))) AS DOUBLE) AS s01
      FROM pl CROSS JOIN a
      GROUP BY a.n1, a.n0, a.araw
    )
    SELECT n1 AS n_pos, n0 AS n_neg,
           round(araw, 6) AS auc,
           round(sqrt(s10 / ((n1 - 1.0) * n1) + s01 / ((n0 - 1.0) * n0)), 6)
             AS se_delong,
           round(GREATEST(round(araw, 6)
                 - 1.96 * round(sqrt(s10 / ((n1 - 1.0) * n1)
                                     + s01 / ((n0 - 1.0) * n0)), 6), 0.0), 6)
             AS ci95_lo,
           round(LEAST(round(araw, 6)
                 + 1.96 * round(sqrt(s10 / ((n1 - 1.0) * n1)
                                     + s01 / ((n0 - 1.0) * n0)), 6), 1.0), 6)
             AS ci95_hi
    FROM v
    """,
)
def ml_auc_delong_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeLong standard error and 95% CI for the exact ROC-AUC —
    the uncertainty ml_roc_auc's point estimate needs before two
    models can be compared: SE² = var(V10)/n1 + var(V01)/n0 over the
    placement values (V10_i = fraction of negatives each positive
    outranks, ties at ½; V01_j symmetric), the standard nonparametric
    AUC inference (DeLong et al. 1988, the sklearn/pROC route).

    Everything runs on the score HISTOGRAM: placements collapse to one
    expression per distinct score — doubled-placement numerators
    p2 = 2·neg_below + neg_ties and q2 = 2·pos_above + pos_ties are
    EXACT INTEGERS from the kernel's cumulative counts, weighted by
    the tie counts — so the whole computation is O(distinct values)
    regardless of row count (ml_roc_auc's scale shape; the AUC itself
    is reproduced from Σ pos·p2 / (2·n0·n1), algebraically equal to
    the Mann-Whitney identity).

    Determinism: placement deviations square through a 12-dp round;
    the WEIGHTED term dev·count is computed in double and rounded at
    9 dp BEFORE the decimal(28,12) cast (the ml_brier pattern — a
    decimal·bigint product would hit Spark's precision cap and degrade
    to decimal(38,6), r10 ADVICE), so the summands are bit-identical
    in both engines and the decimal sum is order-independent; AUC, SE
    and the clamped CI bounds round at 6 dp, with the CI computed FROM
    the 6-dp-rounded AUC and SE so every reported digit replays."""
    o = table(spark, sf_dir, "orders")
    base = o.select(F.expr(_SCENTS).alias("score"), F.expr(_YPOS).alias("y"))
    # persist the score histogram: it feeds both the prefix-sum kernel
    # and the n1/n0 totals — without a barrier the orders scan +
    # groupBy evaluates twice (r14 plan audit)
    h = base.groupBy("score").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("y").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).alias("neg"),
    ).persist()
    from python_etl_sample_spark.functions.total_order import (
        attach_global_order,
    )

    r = attach_global_order(
        h,
        [F.asc("score")],
        cumsums=[("cnt", "cumcnt"), ("pos", "cumpos")],
    )
    tot = h.agg(
        F.sum("pos").cast("long").alias("n1"),
        F.sum("neg").cast("long").alias("n0"),
    )
    pl = r.crossJoin(F.broadcast(tot)).select(
        "pos",
        "neg",
        (2 * (F.col("cumcnt") - F.col("cumpos") - F.col("neg")) + F.col("neg"))
        .alias("p2"),
        (2 * (F.col("n1") - F.col("cumpos")) + F.col("pos")).alias("q2"),
        "n1",
        "n0",
    )
    a = pl.groupBy("n1", "n0").agg(
        (
            F.sum(F.col("pos").cast("decimal(38,0)") * F.col("p2")).cast(
                "double"
            )
            / (F.lit(2.0) * F.col("n0") * F.col("n1"))
        ).alias("araw")
    )
    v10 = F.col("p2") / (F.lit(2.0) * F.col("n0"))
    v01 = F.col("q2") / (F.lit(2.0) * F.col("n1"))
    dev10 = F.round((v10 - F.col("araw")) * (v10 - F.col("araw")), 12)
    dev01 = F.round((v01 - F.col("araw")) * (v01 - F.col("araw")), 12)
    v = (
        pl.crossJoin(F.broadcast(a.select("araw")))
        .groupBy()
        .agg(
            F.first("n1").alias("n1"),
            F.first("n0").alias("n0"),
            F.first("araw").alias("araw"),
            # weighted term computed in double and rounded BEFORE the
            # decimal cast (r10 ADVICE): dev·pos can reach ~1e3, and a
            # decimal(28,14)·bigint product hits Spark's precision cap
            # and silently degrades to decimal(38,6) — rounding the
            # identical double product at 9 dp in both engines makes
            # the summands bit-identical by construction (the ml_brier
            # pattern), then the decimal sum is order-independent
            F.sum(F.round(dev10 * F.col("pos"), 9).cast("decimal(28,12)"))
            .cast("double")
            .alias("s10"),
            F.sum(F.round(dev01 * F.col("neg"), 9).cast("decimal(28,12)"))
            .cast("double")
            .alias("s01"),
        )
    )
    se = F.round(
        F.sqrt(
            F.col("s10") / ((F.col("n1") - 1.0) * F.col("n1"))
            + F.col("s01") / ((F.col("n0") - 1.0) * F.col("n0"))
        ),
        6,
    )
    auc6 = F.round(F.col("araw"), 6)
    return v.select(
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        auc6.alias("auc"),
        se.alias("se_delong"),
        F.round(F.greatest(auc6 - 1.96 * se, F.lit(0.0)), 6).alias("ci95_lo"),
        F.round(F.least(auc6 + 1.96 * se, F.lit(1.0)), 6).alias("ci95_hi"),
    )


# --------------------------------------------------------------------------
# ml_cohens_kappa
# --------------------------------------------------------------------------

#: the two deterministic binary "raters" over orders: priority-based
#: and price-based urgency labels. Cutoff 150000.0 splits the fixture
#: price distribution near its upper third, so the raters agree well
#: above chance without being degenerate.
_KAPPA_A = "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END"
_KAPPA_B = "CASE WHEN o_totalprice >= 150000.0 THEN 1 ELSE 0 END"


@query(
    "ml_cohens_kappa",
    oracle=f"""
    WITH lab AS (
      SELECT {_KAPPA_A} AS a, {_KAPPA_B} AS b FROM orders
    ),
    cm AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a * b) AS BIGINT) AS n11,
             CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
             CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
             CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
      FROM lab
    )
    SELECT n, n11, n10, n01, n00,
           round((n11 + n00) * 1.0 / n, 6) AS po,
           round(((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)
                 + ((n01 + n00) * 1.0 / n) * ((n10 + n00) * 1.0 / n), 6)
             AS pe,
           round(((n11 + n00) * 1.0 / n
                  - (((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)
                     + ((n01 + n00) * 1.0 / n) * ((n10 + n00) * 1.0 / n)))
                 / (1.0 - (((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)
                           + ((n01 + n00) * 1.0 / n)
                             * ((n10 + n00) * 1.0 / n))), 6) AS kappa
    FROM cm
    """,
)
def ml_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic binary raters on orders
    (priority-urgency vs price-urgency): observed agreement po, chance
    agreement pe from the marginals, and kappa = (po − pe)/(1 − pe) —
    the standard chance-corrected agreement score for a 2-rater
    labeling audit.

    Determinism: the confusion matrix is four exact integer counts from
    one map-side-combined aggregation; po/pe/kappa are one mirrored
    double expression each (identical parenthesization both engines),
    rounded 6 dp. Scale: a single scan + 1-row aggregate — nothing
    keyed, nothing joined."""
    o = table(spark, sf_dir, "orders")
    a, b = F.expr(_KAPPA_A), F.expr(_KAPPA_B)
    cm = o.select(a.alias("a"), b.alias("b")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("a") * F.col("b")).alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).alias("n00"),
    )
    n = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")) * F.lit(1.0) / n
    pa1 = (F.col("n11") + F.col("n10")) * F.lit(1.0) / n
    pb1 = (F.col("n11") + F.col("n01")) * F.lit(1.0) / n
    pa0 = (F.col("n01") + F.col("n00")) * F.lit(1.0) / n
    pb0 = (F.col("n10") + F.col("n00")) * F.lit(1.0) / n
    pe = pa1 * pb1 + pa0 * pb0
    return cm.select(
        F.col("n").cast("long").alias("n"),
        F.col("n11").cast("long").alias("n11"),
        F.col("n10").cast("long").alias("n10"),
        F.col("n01").cast("long").alias("n01"),
        F.col("n00").cast("long").alias("n00"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
    )


# --------------------------------------------------------------------------
# ml_mcnemar_paired
# --------------------------------------------------------------------------

#: gold label and the two classifiers under comparison, all on orders:
#: gold = priority urgency; A predicts from price, B from order width
#: (number of lineitems — the one join in the query).
_MC_GOLD = "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END"
_MC_A = "CASE WHEN o_totalprice >= 150000.0 THEN 1 ELSE 0 END"
_MC_NLINE = 4


@query(
    "ml_mcnemar_paired",
    oracle=f"""
    WITH width AS (
      SELECT l_orderkey AS ok, COUNT(*) AS n_lines
      FROM lineitem GROUP BY l_orderkey
    ),
    lab AS (
      SELECT {_MC_GOLD} AS g, {_MC_A} AS a,
             CASE WHEN w.n_lines >= {_MC_NLINE} THEN 1 ELSE 0 END AS b
      FROM orders o JOIN width w ON w.ok = o.o_orderkey
    ),
    cm AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN a = g AND b <> g THEN 1 ELSE 0 END)
                  AS BIGINT) AS b_cnt,
             CAST(SUM(CASE WHEN a <> g AND b = g THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_cnt,
             CAST(SUM(CASE WHEN a = g THEN 1 ELSE 0 END) AS BIGINT) AS a_ok,
             CAST(SUM(CASE WHEN b = g THEN 1 ELSE 0 END) AS BIGINT) AS b_ok
      FROM lab
    )
    SELECT n, b_cnt AS a_only_correct, c_cnt AS b_only_correct,
           round(a_ok * 1.0 / n, 6) AS acc_a,
           round(b_ok * 1.0 / n, 6) AS acc_b,
           round((abs(b_cnt - c_cnt) - 1.0) * (abs(b_cnt - c_cnt) - 1.0)
                 / (b_cnt + c_cnt), 6) AS chi2_cc
    FROM cm
    """,
)
def ml_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test (continuity-corrected) comparing two classifiers
    on the SAME items — price-based vs order-width-based urgency
    prediction against the priority gold label: only the discordant
    pairs (exactly one classifier right) carry information, and
    χ²_cc = (|b − c| − 1)²/(b + c) is the 1-df statistic for "is the
    accuracy difference real" — the standard paired comparison an eval
    harness runs before swapping classifier A for B.

    Determinism: the discordant counts are exact integers (one
    order-width join + one combiner-reduced aggregate); accuracies and
    χ² are mirrored double expressions rounded 6 dp. Scale: the width
    frame is an orderkey-keyed partial-agg; the join shuffles keys, the
    final aggregate is 1 row."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    width = li.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.count(F.lit(1)).alias("n_lines")
    )
    lab = o.join(width, o.o_orderkey == width.ok).select(
        F.expr(_MC_GOLD).alias("g"),
        F.expr(_MC_A).alias("a"),
        F.when(F.col("n_lines") >= _MC_NLINE, 1).otherwise(0).alias("b"),
    )
    cm = lab.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when((F.col("a") == F.col("g")) & (F.col("b") != F.col("g")), 1)
            .otherwise(0)
        ).alias("b_cnt"),
        F.sum(
            F.when((F.col("a") != F.col("g")) & (F.col("b") == F.col("g")), 1)
            .otherwise(0)
        ).alias("c_cnt"),
        F.sum(F.when(F.col("a") == F.col("g"), 1).otherwise(0)).alias("a_ok"),
        F.sum(F.when(F.col("b") == F.col("g"), 1).otherwise(0)).alias("b_ok"),
    )
    n = F.col("n").cast("double")
    diff = F.abs(F.col("b_cnt") - F.col("c_cnt")) - F.lit(1.0)
    return cm.select(
        F.col("n").cast("long").alias("n"),
        F.col("b_cnt").cast("long").alias("a_only_correct"),
        F.col("c_cnt").cast("long").alias("b_only_correct"),
        F.round(F.col("a_ok") * F.lit(1.0) / n, 6).alias("acc_a"),
        F.round(F.col("b_ok") * F.lit(1.0) / n, 6).alias("acc_b"),
        F.round(
            diff * diff / (F.col("b_cnt") + F.col("c_cnt")), 6
        ).alias("chi2_cc"),
    )
