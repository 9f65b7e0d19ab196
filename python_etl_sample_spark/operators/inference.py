"""Two-sample statistical inference: Welch's unequal-variance t-test
and the Mann-Whitney rank-sum test, both as one-pass (or one-sort)
distributed aggregations — the A/B-measurement tier above
events_ab_lift's point estimates and stats_chi2_independence's
categorical test.

Engine-parity ground rules (functions/determinism.py):

- Moments come from EXACT integer sums: o_totalprice has two decimals,
  so price-in-cents is an exact BIGINT and its square an exact
  DECIMAL(38,0); both engines sum these without rounding, and the
  (few) double operations that combine the exact sums are the same
  textual expression tree in both engines, rounded to 6 dp.
- Rank sums use average ranks over a unique total order; ties get
  (rank sum / count) in exact arithmetic before any double division.

Scale: both tests reduce to per-group COUNT/SUM aggregates —
map-side-combined, one exchange on the (tiny) group key. Mann-Whitney
additionally needs a global rank, computed here per-value (groupBy
value → cumulative counts over the ~60k distinct price points) rather
than a single-partition row_number, so the sort parallelizes and no
task sees more than its hash range of distinct values.

CUSUM change-point detection (``stats_cusum_changepoint``) is the
sequential drift alarm PSI/KS can't give — they compare eras, CUSUM
finds WHEN. Winsorized mean (``stats_winsorized_mean``) is the
robust-statistics twin of the exact-percentile operator: clamp to
[p05, p95], then aggregate.

CUSUM's recursion S_t = max(0, S_{t-1} + x_t − μ − k) is not a plain
prefix sum, but it closes over one: S_t = P_t − min(0, min_{j≤t} P_j)
where P is the running sum of the adjusted series — two per-group
windows instead of a sequential loop, the identity that makes CUSUM
distributable (and SQL-expressible for the oracle).

- ``stats_spearman_corr``: rank correlation (the monotone-association
  twin of the Pearson ``stats_corr_matrix``), tie-corrected.
- ``stats_anova_f``: one-way ANOVA F — the k-group generalization of
  ``stats_ttest_welch``.
- ``stats_mutual_information``: MI + entropies over two categorical
  columns — the information-theoretic dependence measure
  ``stats_chi2_independence`` can't give (it tests, MI quantifies).

Determinism strategy (repo-wide contract, functions/determinism.py):
every rank/count/degree is an exact integer, money sums go through
decimal casts, cross-engine float reductions over small term sets are
rounded then decimal-summed, and every derived ratio rounds at 6 dp.

Scale posture: Spearman/ANOVA/MI reduce to one groupBy plus a
≤25-row (or per-group) reduction — no shuffle carries more than
(group, value) pairs.

- ``stats_theil_sen_trend``: the Theil–Sen robust slope — exact median
  of all pairwise daily-revenue slopes, packed-array pair generation +
  the total-order kernel (the robust complement to
  stats_mann_kendall_trend's sign test).

- ``stats_permutation_test``: randomization test for the urgent-vs-rest
  order-value gap with B = 32 deterministic hash reassignments — the
  label-shuffling sibling of stats_bootstrap_poisson_ci.

- ``stats_kendall_tau``: exact tie-corrected Kendall tau-b between
  daily revenue and daily event volume — the concordance member of
  the robust-association suite next to Spearman
  (stats_spearman_corr) and Theil-Sen (stats_theil_sen_trend).

- ``stats_kruskal_wallis``: the Kruskal-Wallis H test (tie-corrected)
  for k-group location shift — the rank-based complement to the
  parametric ANOVA F (stats_anova_f), built on the same
  histogram-average-rank kernel as the AUC.

- ``stats_levene_bf``: Brown-Forsythe robust variance-homogeneity
  test (Levene with group medians) across market segments — the
  check run BEFORE trusting stats_anova_f, whose F assumes equal
  variances.

- ``stats_wilcoxon_signed_rank``: the paired nonparametric test
  (day-d revenue vs day-d+14) with midranks over the |diff|
  histogram, tie-corrected normal approximation — the paired
  complement to the rank-sum test.

- ``stats_friedman``: the Friedman test (blocked nonparametric
  k-treatment comparison) of event-type revenue across calendar-day
  blocks — completes the classical rank-test suite (two-sample
  rank-sum, paired signed-rank, k-group Kruskal-Wallis, and now the
  blocked design), with the tie-general statistic reduced to ONE
  division of exact integers.

Determinism: within-block midranks are exact 2×rank integers;
Friedman's tie-corrected χ² is (k−1)·Σ(R2_j − b(k+1))² over
(Σ mid2² − b·k·(k+1)²) — exact integers, one division.

- ``ml_cohens_kappa`` / ``stats_fleiss_kappa`` / ``ml_mcnemar_paired``:
  the inter-annotator-agreement and paired-classifier-comparison tier a
  labeling pipeline needs before acting on model or rater output —
  agreement beyond chance for 2 raters (Cohen), for 3+ raters (Fleiss),
  and the discordant-pair significance test for "is classifier B better
  than A on the same items" (McNemar). All three are exact-integer
  confusion counts with one mirrored double expression at the end.

Scale notes are per-query; none plans a cartesian, none collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_sample_spark.functions.determinism import (
    _CENTS,
    _DEC38,
    _VCENTS,
    _pearson_from_int_sums,
    cents_sql,
    davg_sql,
    dsum,
    dsum_sql,
)
from python_etl_sample_spark.functions.total_order import attach_global_order
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table


@query(
    "stats_ttest_welch",
    oracle=f"""
    WITH g AS (
      SELECT o_orderpriority AS grp,
             COUNT(*) AS n,
             CAST(SUM({_CENTS}) AS BIGINT) AS s1,
             CAST(SUM(CAST({_CENTS} AS DECIMAL(19,0))
                      * CAST({_CENTS} AS DECIMAL(19,0))) AS DOUBLE) AS s2
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
      GROUP BY o_orderpriority
    ),
    m AS (
      SELECT grp, n,
             CAST(s1 AS DOUBLE) / 100.0 / n AS mean,
             (s2 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
               / (n - 1) / 10000.0 AS var
      FROM g
    ),
    ab AS (
      SELECT a.n AS n_urgent, b.n AS n_low,
             a.mean AS mean_urgent, b.mean AS mean_low,
             a.var / a.n + b.var / b.n AS se2,
             a.var AS va, b.var AS vb
      FROM m a, m b WHERE a.grp = '1-URGENT' AND b.grp = '5-LOW'
    )
    SELECT n_urgent, n_low,
           ROUND(mean_urgent, 6) AS mean_urgent,
           ROUND(mean_low, 6) AS mean_low,
           ROUND((mean_urgent - mean_low) / SQRT(se2), 6) AS t_stat,
           ROUND(se2 * se2 / ((va / n_urgent) * (va / n_urgent) / (n_urgent - 1)
                 + (vb / n_low) * (vb / n_low) / (n_low - 1)), 6) AS welch_df
    FROM ab
    """,
)
def stats_ttest_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test: does mean order value differ
    between URGENT and LOW priority orders? Returns group means, the
    t statistic, and the Welch–Satterthwaite degrees of freedom.

    One filtered scan → one 2-group aggregate (map-side combined) →
    a 2-row broadcast self-pair. The sums feeding mean/variance are
    exact integers (cents and cents², see module doc), so the handful
    of double ops after them are bit-reproducible across engines; at
    100 TB this is a single partial-agg pass over the fact table with
    two reducer rows."""
    cents = F.expr(_CENTS)
    g = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .groupBy(F.col("o_orderpriority").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("s1"),
            F.sum(
                cents.cast("decimal(19,0)") * cents.cast("decimal(19,0)")
            )
            .cast("double")
            .alias("s2"),
        )
    )
    m = g.select(
        "grp",
        "n",
        (F.col("s1").cast("double") / 100.0 / F.col("n")).alias("mean"),
        (
            (
                F.col("s2")
                - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n")
            )
            / (F.col("n") - 1)
            / 10000.0
        ).alias("var"),
    )
    a = m.filter(F.col("grp") == "1-URGENT").alias("a")
    b = m.filter(F.col("grp") == "5-LOW").alias("b")
    ab = a.crossJoin(F.broadcast(b)).select(
        F.col("a.n").alias("n_urgent"),
        F.col("b.n").alias("n_low"),
        F.col("a.mean").alias("mean_urgent"),
        F.col("b.mean").alias("mean_low"),
        (F.col("a.var") / F.col("a.n") + F.col("b.var") / F.col("b.n")).alias("se2"),
        F.col("a.var").alias("va"),
        F.col("b.var").alias("vb"),
    )
    return ab.select(
        "n_urgent",
        "n_low",
        F.round("mean_urgent", 6).alias("mean_urgent"),
        F.round("mean_low", 6).alias("mean_low"),
        F.round(
            (F.col("mean_urgent") - F.col("mean_low")) / F.sqrt("se2"), 6
        ).alias("t_stat"),
        F.round(
            F.col("se2")
            * F.col("se2")
            / (
                (F.col("va") / F.col("n_urgent"))
                * (F.col("va") / F.col("n_urgent"))
                / (F.col("n_urgent") - 1)
                + (F.col("vb") / F.col("n_low"))
                * (F.col("vb") / F.col("n_low"))
                / (F.col("n_low") - 1)
            ),
            6,
        ).alias("welch_df"),
    )


@query(
    "stats_rank_sum_u",
    oracle=f"""
    WITH pool AS (
      SELECT o_orderpriority AS grp, {_CENTS} AS cents
      FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    by_val AS (
      SELECT cents, grp, COUNT(*) AS c FROM pool GROUP BY cents, grp
    ),
    val AS (
      SELECT cents, SUM(c) AS cnt FROM by_val GROUP BY cents
    ),
    ranked AS (
      SELECT cents,
             SUM(cnt) OVER (ORDER BY cents
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - cnt AS below,
             cnt
      FROM val
    ),
    credit AS (
      -- average rank of a tied block = below + (cnt + 1)/2, exact in halves
      SELECT b.grp, b.c, r.below * 2 + r.cnt + 1 AS two_avg_rank
      FROM by_val b JOIN ranked r ON r.cents = b.cents
    ),
    agg AS (
      SELECT grp, CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(c * two_avg_rank) AS BIGINT) AS two_rank_sum
      FROM credit GROUP BY grp
    )
    SELECT a.n AS n_urgent, b.n AS n_low,
           CAST((a.two_rank_sum - 2 * a.n * (a.n + 1) // 2) AS BIGINT)
             AS u2_urgent,
           ROUND((CAST(a.two_rank_sum AS DOUBLE) / 2
                  - a.n * (a.n + 1) / 2.0
                  - CAST(a.n AS DOUBLE) * b.n / 2.0)
                 / SQRT(CAST(a.n AS DOUBLE) * b.n * (a.n + b.n + 1) / 12.0), 6)
             AS z_approx
    FROM agg a, agg b WHERE a.grp = '1-URGENT' AND b.grp = '5-LOW'
    """,
)
def stats_rank_sum_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) test on order value, URGENT vs LOW —
    the non-parametric sibling of stats_ttest_welch, robust to the
    heavy right tail of order totals.

    Ranks are computed value-wise, not row-wise: group by the ~n
    distinct cent values, cumulative-sum their counts for the
    "ranks below" prefix, and credit each tied block its average rank.
    Everything up to the final z is integer arithmetic in doubled
    units (2×avg-rank is always an integer), so rank bookkeeping is
    exact in both engines. The normal approximation omits the tie
    correction in σ_U (same formula both sides, so parity holds;
    documented accuracy trade).

    Scale: the prefix sum runs over distinct VALUES (bounded by price
    granularity), not rows, and uses the range-partitioned total-order
    kernel (functions/total_order.py) — parallel even if the value
    domain widens — while the raw scan aggregates map-side."""
    cents = F.expr(_CENTS)
    pool = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(F.col("o_orderpriority").alias("grp"), cents.alias("cents"))
    )
    # persist the value-wise counts: they feed BOTH the distinct-value
    # prefix-sum branch and the credit join, and the final a×b cross
    # references the whole cascade twice — without a barrier the orders
    # scan + groupBy re-evaluates 3× (r14 plan audit: 20 exchanges)
    by_val = (
        pool.groupBy("cents", "grp").agg(F.count(F.lit(1)).alias("c")).persist()
    )
    val = by_val.groupBy("cents").agg(F.sum("c").alias("cnt"))
    ranked = attach_global_order(
        val, [F.asc("cents")], cumsums=[("cnt", "__cum")]
    ).select(
        "cents",
        (F.col("__cum") - F.col("cnt")).alias("below"),
        "cnt",
    )
    credit = by_val.join(ranked, "cents").select(
        "grp",
        "c",
        (F.col("below") * 2 + F.col("cnt") + 1).alias("two_avg_rank"),
    )
    agg = credit.groupBy("grp").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.col("two_avg_rank")).alias("two_rank_sum"),
    ).persist()
    a = agg.filter(F.col("grp") == "1-URGENT").alias("a")
    b = agg.filter(F.col("grp") == "5-LOW").alias("b")
    na, nb = F.col("a.n"), F.col("b.n")
    return a.crossJoin(F.broadcast(b)).select(
        na.alias("n_urgent"),
        nb.alias("n_low"),
        F.expr(
            "CAST(a.two_rank_sum - 2 * a.n * (a.n + 1) div 2 AS BIGINT)"
        ).alias("u2_urgent"),
        F.round(
            (
                F.col("a.two_rank_sum").cast("double") / 2
                - na * (na + 1) / 2.0
                - na.cast("double") * nb / 2.0
            )
            / F.sqrt(na.cast("double") * nb * (na + nb + 1) / 12.0),
            6,
        ).alias("z_approx"),
    )


#: exact-decimal casts for the OLS design matrix: quantity is integer,
#: discount has 2 dp, extendedprice 2 dp — all products below are exact
#: in DECIMAL(38,6), the moment-sum scheme agg_regression_ols proved out
_Q = "CAST(l_quantity AS DECIMAL(18,2))"
_D = "CAST(l_discount AS DECIMAL(18,2))"
_Y = "CAST(l_extendedprice AS DECIMAL(18,2))"


@query(
    "stats_ols_multivariate",
    oracle=f"""
    WITH m AS (
      SELECT COUNT(*) AS n,
             CAST(SUM({_Q}) AS DOUBLE) AS sq,
             CAST(SUM({_D}) AS DOUBLE) AS sd,
             CAST(SUM({_Y}) AS DOUBLE) AS sy,
             CAST(SUM({_Q} * {_Q}) AS DOUBLE) AS sqq,
             CAST(SUM({_Q} * {_D}) AS DOUBLE) AS sqd,
             CAST(SUM({_D} * {_D}) AS DOUBLE) AS sdd,
             CAST(SUM({_Q} * {_Y}) AS DOUBLE) AS sqy,
             CAST(SUM({_D} * {_Y}) AS DOUBLE) AS sdy,
             CAST(SUM({_Y} * {_Y}) AS DOUBLE) AS syy
      FROM lineitem
    ),
    c AS (
      SELECT n, sy,
             sqq - sq * sq / n AS a11,
             sqd - sq * sd / n AS a12,
             sdd - sd * sd / n AS a22,
             sqy - sq * sy / n AS b1,
             sdy - sd * sy / n AS b2,
             syy - sy * sy / n AS syy_c,
             sq / n AS mq, sd / n AS md, sy / n AS my
      FROM m
    ),
    sol AS (
      SELECT n, my, mq, md, syy_c, b1, b2, a11, a12, a22,
             (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) AS beta_qty,
             (b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12) AS beta_disc
      FROM c
    )
    SELECT n,
           ROUND(beta_qty, 6) AS beta_qty,
           ROUND(beta_disc, 6) AS beta_disc,
           ROUND(my - beta_qty * mq - beta_disc * md, 6) AS intercept,
           ROUND((beta_qty * b1 + beta_disc * b2) / syy_c, 6) AS r2
    FROM sol
    """,
)
def stats_ols_multivariate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature OLS by normal equations: extendedprice ~ quantity +
    discount, solved in closed form (2×2 Cramer) from ONE pass of
    exact-decimal moment sums — multivariate regression as a
    map-side-combined aggregate, no iterative solver, no driver-side
    matrix.

    Every Σx, Σx², Σxy is exact (2-dp decimals, products exact in
    decimal(38,4-6)); the centered normal equations and the 2×2 solve
    are a handful of double ops mirrored textually in the oracle,
    rounded 6 dp. R² comes from the same moments. This is the k-feature
    pattern at any scale: k(k+3)/2 moment sums in one partial-agg pass,
    then an O(k³) closed-form solve on ONE reducer row — at 100 TB the
    data pass is the whole cost and it is a single aggregate."""
    li = table(spark, sf_dir, "lineitem")
    q, d, y = F.expr(_Q), F.expr(_D), F.expr(_Y)
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).cast("double").alias("sq"),
        F.sum(d).cast("double").alias("sd"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(q * q).cast("double").alias("sqq"),
        F.sum(q * d).cast("double").alias("sqd"),
        F.sum(d * d).cast("double").alias("sdd"),
        F.sum(q * y).cast("double").alias("sqy"),
        F.sum(d * y).cast("double").alias("sdy"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    c = m.select(
        "n",
        "sy",
        (F.col("sqq") - F.col("sq") * F.col("sq") / F.col("n")).alias("a11"),
        (F.col("sqd") - F.col("sq") * F.col("sd") / F.col("n")).alias("a12"),
        (F.col("sdd") - F.col("sd") * F.col("sd") / F.col("n")).alias("a22"),
        (F.col("sqy") - F.col("sq") * F.col("sy") / F.col("n")).alias("b1"),
        (F.col("sdy") - F.col("sd") * F.col("sy") / F.col("n")).alias("b2"),
        (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")).alias("syy_c"),
        (F.col("sq") / F.col("n")).alias("mq"),
        (F.col("sd") / F.col("n")).alias("md"),
        (F.col("sy") / F.col("n")).alias("my"),
    )
    det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    sol = c.select(
        "n",
        "my",
        "mq",
        "md",
        "syy_c",
        "b1",
        "b2",
        ((F.col("b1") * F.col("a22") - F.col("b2") * F.col("a12")) / det).alias(
            "beta_qty"
        ),
        ((F.col("b2") * F.col("a11") - F.col("b1") * F.col("a12")) / det).alias(
            "beta_disc"
        ),
    )
    return sol.select(
        "n",
        F.round("beta_qty", 6).alias("beta_qty"),
        F.round("beta_disc", 6).alias("beta_disc"),
        F.round(
            F.col("my")
            - F.col("beta_qty") * F.col("mq")
            - F.col("beta_disc") * F.col("md"),
            6,
        ).alias("intercept"),
        F.round(
            (F.col("beta_qty") * F.col("b1") + F.col("beta_disc") * F.col("b2"))
            / F.col("syy_c"),
            6,
        ).alias("r2"),
    )


@query(
    "stats_gini_lorenz",
    oracle=f"""
    WITH cust AS (
      SELECT o_custkey, CAST(SUM({_CENTS}) AS BIGINT) AS rev
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT rev,
             ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS rn,
             SUM(rev) OVER (ORDER BY rev, o_custkey
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_rev
      FROM cust
    ),
    tot AS (
      SELECT COUNT(*) AS n, CAST(SUM(rev) AS BIGINT) AS total,
             CAST(SUM(CAST(rn AS BIGINT) * rev) AS BIGINT) AS weighted
      FROM ranked
    ),
    deciles AS (
      SELECT ((rn - 1) * 10) // (SELECT n FROM tot) + 1 AS decile,
             MAX(cum_rev) AS cum_rev_end
      FROM ranked GROUP BY 1
    )
    SELECT d.decile,
           ROUND(CAST(d.cum_rev_end AS DOUBLE) / t.total, 6)
             AS cum_revenue_share,
           ROUND((2.0 * t.weighted) / (CAST(t.n AS DOUBLE) * t.total)
                 - (t.n + 1.0) / t.n, 6) AS gini
    FROM deciles d CROSS JOIN tot t
    """,
)
def stats_gini_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: the Lorenz curve at customer deciles plus
    the Gini coefficient — "what share of revenue do the bottom k/10 of
    customers generate", the inequality statistic behind every
    power-user analysis.

    Gini via the exact rank formula G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over
    revenue-ascending ranks (unique tie-break on custkey): every input
    is an exact integer (cents, ranks, their products summed as
    BIGINT — max ~n·rank·rev ≈ 1e17 at sf0.1, inside int64), so the
    two final divisions are the only float ops, mirrored textually.
    Shape: one partial-agg pass over orders, then the range-partitioned
    exact total order (functions/total_order.py) over the per-customer
    frame — the frame grows with |customers|, so a partitionless window
    would be the single-task trap; rank and the cum-revenue prefix both
    come from the distributed kernel (integer sums stay exact under the
    partition-offset decomposition). Decile bucketing is integer
    arithmetic on the row number — no NTILE needed, edges exact."""
    cents = F.expr(_CENTS)
    cust = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(cents).alias("rev"))
    )
    ranked = attach_global_order(
        cust,
        [F.asc("rev"), F.asc("o_custkey")],
        rn="rn",
        cumsums=[("rev", "cum_rev")],
    ).select("rev", "rn", "cum_rev")
    tot = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rev").alias("total"),
        F.sum(F.col("rn").cast("bigint") * F.col("rev")).alias("weighted"),
    )
    deciles = (
        ranked.crossJoin(F.broadcast(tot.select("n")))
        .groupBy(
            F.expr("((rn - 1) * 10) div n + 1").alias("decile")
        )
        .agg(F.max("cum_rev").alias("cum_rev_end"))
    )
    return deciles.crossJoin(F.broadcast(tot)).select(
        "decile",
        F.round(F.col("cum_rev_end").cast("double") / F.col("total"), 6).alias(
            "cum_revenue_share"
        ),
        F.round(
            (2.0 * F.col("weighted")) / (F.col("n").cast("double") * F.col("total"))
            - (F.col("n") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
    )


@query(
    "stats_benford_first_digit",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substr(CAST({_CENTS} AS VARCHAR), 1, 1) AS BIGINT) AS d
      FROM orders WHERE {_CENTS} > 0
    ),
    obs AS (
      SELECT d, COUNT(*) AS c FROM digits GROUP BY d
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM obs)
    SELECT d AS first_digit, c AS n_observed,
           ROUND(CAST(c AS DOUBLE) / t.n, 6) AS observed_freq,
           ROUND(ln(1.0 + 1.0 / d) / ln(10.0), 6) AS benford_freq,
           ROUND(CAST(c AS DOUBLE) / t.n
                 - ln(1.0 + 1.0 / d) / ln(10.0), 6) AS deviation
    FROM obs CROSS JOIN tot t
    """,
)
def stats_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen over order amounts — the
    forensic data-quality check that flags fabricated or truncated
    monetary data: natural multi-scale amounts follow
    P(d) = log10(1 + 1/d); a synthetic uniform distribution (like these
    fixtures') deviates visibly, which is exactly what the deviation
    column surfaces.

    First digit via string head of the exact integer cents (no float
    log tricks on the extraction path); expected frequencies via
    ln ratios mirrored textually. One partial-agg pass, nine reducer
    rows."""
    cents = F.expr(_CENTS)
    digits = (
        table(spark, sf_dir, "orders")
        .filter(cents > 0)
        .select(
            F.substring(cents.cast("string"), 1, 1).cast("bigint").alias("d")
        )
    )
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).alias("c"))
    tot = obs.agg(F.sum("c").alias("n"))
    benford = F.log(1.0 + 1.0 / F.col("d")) / F.log(F.lit(10.0))
    return obs.crossJoin(F.broadcast(tot)).select(
        F.col("d").alias("first_digit"),
        F.col("c").alias("n_observed"),
        F.round(F.col("c").cast("double") / F.col("n"), 6).alias("observed_freq"),
        F.round(benford, 6).alias("benford_freq"),
        F.round(F.col("c").cast("double") / F.col("n") - benford, 6).alias(
            "deviation"
        ),
    )


#: Poisson(1) CDF thresholds scaled to the integer hash modulus — the
#: weight w for resample b is the count of thresholds BELOW the hash
#: draw, giving P(w=k) = e^-1/k! exactly as integer comparisons
_BOOT_MOD = 1000003
_BOOT_T = (367879, 735758, 919698, 981011, 996340)  # floor(CDF_k * MOD)
_BOOT_B = 32
#: key-entropy modulus for the weight hash: a prime near 2^31.6 chosen
#: so (p-1) * 2654435761 stays inside int64 in BOTH engines (Spark
#: wraps silently on overflow, DuckDB raises — the product must not
#: overflow on either side). 3221225472 * 2654435761 ≈ 8.55e18 < 2^63;
#: any prime up to ~3.474e9 would also fit, this one is the familiar
#: NTT prime 3 * 2^30 + 1.
#: Keys collide on the weight VECTOR only when they share a residue
#: mod ~3.2e9 — negligible correlation even at 10^10 orders, vs the
#: old % 100000 which repeated vectors every 100k keys.
_BOOT_KEYMOD = 3221225473


@query(
    "stats_bootstrap_poisson_ci",
    oracle=f"""
    WITH draws AS (
      SELECT b.b,
             {_CENTS} AS cents,
             ((o_orderkey % {_BOOT_KEYMOD}) * 2654435761
              + b.b * 2246822519) % {_BOOT_MOD} AS u
      FROM orders
      CROSS JOIN (SELECT UNNEST(range(0, {_BOOT_B})) AS b) b
    ),
    weighted AS (
      SELECT b,
             CASE WHEN u < {_BOOT_T[0]} THEN 0
                  WHEN u < {_BOOT_T[1]} THEN 1
                  WHEN u < {_BOOT_T[2]} THEN 2
                  WHEN u < {_BOOT_T[3]} THEN 3
                  WHEN u < {_BOOT_T[4]} THEN 4
                  ELSE 5 END AS w,
             cents
      FROM draws
    ),
    means AS (
      SELECT b,
             CAST(SUM(w * cents) AS DOUBLE) / SUM(w) / 100.0 AS mean_b
      FROM weighted GROUP BY b HAVING SUM(w) > 0
    ),
    pt AS (
      SELECT CAST(SUM({_CENTS}) AS DOUBLE) / COUNT(*) / 100.0 AS point_mean
      FROM orders
    )
    SELECT (SELECT COUNT(*) FROM means) AS n_resamples,
           ROUND((SELECT point_mean FROM pt), 6) AS point_mean,
           ROUND((SELECT quantile_cont(mean_b, 0.025) FROM means), 6) AS ci_lo,
           ROUND((SELECT quantile_cont(mean_b, 0.975) FROM means), 6) AS ci_hi,
           ROUND((SELECT stddev_samp(mean_b) FROM means), 6) AS boot_se
    """,
)
def stats_bootstrap_poisson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for mean order value via the
    POISSON BOOTSTRAP — the distributed-systems formulation: instead of
    resampling rows (impossible without a global index), every row
    draws an independent Poisson(1) weight per resample, so the whole
    bootstrap is one map-side expansion + a (resample)-keyed aggregate.
    This is how bootstrap CIs are actually computed on clusters.

    Fully deterministic: the Poisson draw is integer hash arithmetic
    (multiplicative hash of the key reduced mod _BOOT_KEYMOD ≈ 2^31.6
    — full key entropy below ~3.2e9 orders, and only residue-colliding
    keys beyond that share a weight vector — compared against
    pre-scaled CDF thresholds, P(w=k) = e^-1/k! to 6 digits), weights
    and weighted sums are exact integers, and the only float ops are
    the final per-resample division and the CI quantiles over
    {_BOOT_B} means (shared interpolation definition). At 100 TB the
    ×{_BOOT_B} expansion is map-side (no shuffle of raw rows per
    resample — the aggregate combines partials per b), reducer state is
    {_BOOT_B} rows."""
    cents = F.expr(_CENTS)
    b_col = F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b")
    draws = table(spark, sf_dir, "orders").select(
        cents.alias("cents"), F.col("o_orderkey"), b_col
    )
    u = (
        (F.col("o_orderkey") % _BOOT_KEYMOD) * 2654435761
        + F.col("b") * 2246822519
    ) % _BOOT_MOD
    w = (
        F.when(u < _BOOT_T[0], 0)
        .when(u < _BOOT_T[1], 1)
        .when(u < _BOOT_T[2], 2)
        .when(u < _BOOT_T[3], 3)
        .when(u < _BOOT_T[4], 4)
        .otherwise(5)
    )
    means = (
        draws.select("b", "cents", w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("cents")).alias("swc"),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            (F.col("swc").cast("double") / F.col("sw") / 100.0).alias("mean_b")
        )
    )
    pt = table(spark, sf_dir, "orders").agg(
        (F.sum(cents).cast("double") / F.count(F.lit(1)) / 100.0).alias(
            "point_mean"
        )
    )
    summary = means.agg(
        F.count(F.lit(1)).alias("n_resamples"),
        F.round(F.expr("percentile(mean_b, 0.025)"), 6).alias("ci_lo"),
        F.round(F.expr("percentile(mean_b, 0.975)"), 6).alias("ci_hi"),
        F.round(F.stddev_samp("mean_b"), 6).alias("boot_se"),
    )
    return summary.crossJoin(F.broadcast(pt)).select(
        "n_resamples",
        F.round("point_mean", 6).alias("point_mean"),
        "ci_lo",
        "ci_hi",
        "boot_se",
    )


@query(
    "stats_winsorized_mean",
    oracle=f"""
    WITH cuts AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS p05,
             quantile_cont(value, 0.95) AS p95
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           COUNT(*) AS n,
           ROUND({davg_sql('e.value')}, 6) AS raw_mean,
           ROUND({davg_sql('LEAST(GREATEST(e.value, c.p05), c.p95)')}, 6)
             AS winsorized_mean
    FROM events e JOIN cuts c ON e.event_type = c.event_type
    GROUP BY e.event_type
    """,
)
def stats_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per event type: clamp values to the group's
    exact [p05, p95], then average — the robust-location estimate that
    tolerates heavy-tailed metric columns (a corpus pipeline's guard
    against a few huge documents dominating a mean).

    Two passes over one shuffle key: exact percentile cuts per group
    (tiny frame), broadcast back onto the events, clamp with
    least/greatest, decimal-exact mean. Parity comes from the proven
    percentile twins (percentile ↔ quantile_cont, interpolated the same
    way — agg_percentile_exact) and the davg determinism helper.

    Scale: the cuts pass is the only percentile over raw values; with
    unbounded domains swap it for approx_percentile and the clamp
    stays identical — the aggregation shape does not change."""
    ev = table(spark, sf_dir, "events")
    pct = F.expr("percentile(value, array(0.05, 0.95))")
    cuts = ev.groupBy("event_type").agg(
        pct[0].alias("p05"), pct[1].alias("p95")
    )
    clamped = ev.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        "value",
        F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")).alias(
            "wvalue"
        ),
    )
    return clamped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("raw_mean"),
        F.round(
            F.sum(F.col("wvalue").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("winsorized_mean"),
    )


#: PSI: equal-width bins over o_totalprice (fixture max ~500k) and
#: Laplace +1 smoothing so empty bins never hit ln(0).
_PSI_BINS = 10
_PSI_WIDTH = 50000.0


@query(
    "stats_psi_drift",
    oracle=f"""
    WITH binned AS (
      SELECT o_orderpriority AS priority,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 'a'
                  WHEN o_orderdate >= TIMESTAMP '1999-01-01' THEN 'b'
             END AS period,
             LEAST({_PSI_BINS - 1},
                   CAST(floor(o_totalprice / {_PSI_WIDTH!r}) AS INTEGER))
               AS bin
      FROM orders
      WHERE o_orderdate < TIMESTAMP '1998-01-01'
         OR o_orderdate >= TIMESTAMP '1999-01-01'
    ),
    grid AS (
      SELECT p.priority, b.bin
      FROM (SELECT DISTINCT priority FROM binned) p,
           (SELECT UNNEST(range(0, {_PSI_BINS})) AS bin) b
    ),
    counts AS (
      SELECT g.priority, g.bin,
             COUNT(*) FILTER (x.period = 'a') AS ca,
             COUNT(*) FILTER (x.period = 'b') AS cb
      FROM grid g
      LEFT JOIN binned x ON x.priority = g.priority AND x.bin = g.bin
      GROUP BY g.priority, g.bin
    ),
    tot AS (
      SELECT priority, SUM(ca) AS na, SUM(cb) AS nb FROM counts
      GROUP BY priority
    )
    SELECT c.priority,
           CAST(MAX(t.na) AS BIGINT) AS n_before,
           CAST(MAX(t.nb) AS BIGINT) AS n_after,
           ROUND(SUM(
             (CAST(c.cb + 1 AS DOUBLE) / (t.nb + {_PSI_BINS})
              - CAST(c.ca + 1 AS DOUBLE) / (t.na + {_PSI_BINS}))
             * ln((CAST(c.cb + 1 AS DOUBLE) / (t.nb + {_PSI_BINS}))
                  / (CAST(c.ca + 1 AS DOUBLE) / (t.na + {_PSI_BINS})))
           ), 6) AS psi
    FROM counts c JOIN tot t ON c.priority = t.priority
    GROUP BY c.priority
    """,
)
def stats_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per order priority between the
    1995-97 and 1999-2001 periods — THE production drift monitor for
    scored distributions (PSI < 0.1 stable, > 0.25 action). Equal-width
    o_totalprice bins with Laplace +1 smoothing so empty bins
    contribute a finite, engine-exact term instead of ln(0); a dense
    (priority × bin) grid keeps the bin set identical in both engines
    even when a bin is empty on one side only.

    Parity: bin ids are exact integer floors; smoothed shares are one
    double division each; ln of a ratio of such shares is the
    PMI-precedented ln-parity surface (text_collocations_pmi), and the
    final sum is ≤ {_PSI_BINS} terms per group, rounded at 6 dp.
    Plan: one scan, one (priority, bin) count shuffle, a broadcast of
    the 50-cell grid, and a ≤50-row final rollup — scale-free above the
    first aggregate."""
    o = table(spark, sf_dir, "orders")
    binned = (
        o.filter(
            (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
            | (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp_ntz"))
        )
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.when(
                F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"),
                "a",
            )
            .otherwise("b")
            .alias("period"),
            F.least(
                F.lit(_PSI_BINS - 1),
                F.floor(F.col("o_totalprice") / _PSI_WIDTH).cast("int"),
            ).alias("bin"),
        )
    )
    counts = binned.groupBy("priority", "bin").agg(
        F.count(F.when(F.col("period") == "a", 1)).alias("ca"),
        F.count(F.when(F.col("period") == "b", 1)).alias("cb"),
    )
    grid = (
        binned.select("priority")
        .distinct()
        .crossJoin(
            F.broadcast(
                spark.range(_PSI_BINS).select(F.col("id").cast("int").alias("bin"))
            )
        )
    )
    dense = (
        grid.join(counts, ["priority", "bin"], "left")
        .fillna(0, subset=["ca", "cb"])
    )
    tot = dense.groupBy("priority").agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    pa = (F.col("ca") + 1).cast("double") / (F.col("na") + _PSI_BINS)
    pb = (F.col("cb") + 1).cast("double") / (F.col("nb") + _PSI_BINS)
    return (
        dense.join(tot, "priority")
        .groupBy("priority")
        .agg(
            F.max("na").alias("n_before"),
            F.max("nb").alias("n_after"),
            F.round(F.sum((pb - pa) * F.log(pb / pa)), 6).alias("psi"),
        )
    )


@query(
    "stats_ks_two_sample",
    oracle="""
    WITH tagged AS (
      SELECT o_orderpriority AS priority, o_totalprice AS price,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 'a'
                  ELSE 'b' END AS period
      FROM orders
      WHERE o_orderdate < TIMESTAMP '1998-01-01'
         OR o_orderdate >= TIMESTAMP '1999-01-01'
    ),
    pts AS (
      SELECT priority, price,
             COUNT(*) FILTER (period = 'a') AS ca,
             COUNT(*) FILTER (period = 'b') AS cb
      FROM tagged GROUP BY priority, price
    ),
    cum AS (
      SELECT priority, price,
             SUM(ca) OVER w AS cuma,
             SUM(cb) OVER w AS cumb,
             SUM(ca) OVER (PARTITION BY priority) AS na,
             SUM(cb) OVER (PARTITION BY priority) AS nb
      FROM pts
      WINDOW w AS (PARTITION BY priority ORDER BY price
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT priority,
           CAST(MAX(na) AS BIGINT) AS n_before,
           CAST(MAX(nb) AS BIGINT) AS n_after,
           ROUND(MAX(ABS(CAST(cuma AS DOUBLE) / NULLIF(na, 0)
                         - CAST(cumb AS DOUBLE) / NULLIF(nb, 0))), 6)
             AS ks_d
    FROM cum GROUP BY priority
    """,
)
def stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic per order priority
    between the 1995-97 and 1999-2001 eras: D = sup over the pooled
    support of |ECDF_before − ECDF_after| — the binning-free drift test
    (stats_psi_drift's PSI depends on the bin grid; KS does not).

    The ECDFs are evaluated at every distinct price via a cumulative
    window over the (priority, price) count frame — tied prices
    collapse into one support point FIRST, so both cumulative counts
    include the full tie group (the right-continuous ECDF value).
    Every D candidate is |exact-int/exact-int − exact-int/exact-int|;
    max of such doubles is order-independent, rounded only for
    display. Scale: one (priority, price) shuffle, then a window
    PARTITIONED by priority (never global), then a ≤groups rollup."""
    o = table(spark, sf_dir, "orders")
    tagged = o.filter(
        (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        | (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp_ntz"))
    ).select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").alias("price"),
        F.when(
            F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"), "a"
        )
        .otherwise("b")
        .alias("period"),
    )
    pts = tagged.groupBy("priority", "price").agg(
        F.count(F.when(F.col("period") == "a", 1)).alias("ca"),
        F.count(F.when(F.col("period") == "b", 1)).alias("cb"),
    )
    wcum = (
        Window.partitionBy("priority")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("priority")
    cum = pts.select(
        "priority",
        F.sum("ca").over(wcum).alias("cuma"),
        F.sum("cb").over(wcum).alias("cumb"),
        F.sum("ca").over(wall).alias("na"),
        F.sum("cb").over(wall).alias("nb"),
    )
    return cum.groupBy("priority").agg(
        F.max("na").cast("bigint").alias("n_before"),
        F.max("nb").cast("bigint").alias("n_after"),
        F.round(
            F.max(
                F.abs(
                    F.col("cuma").cast("double")
                    / F.when(F.col("na") > 0, F.col("na"))
                    - F.col("cumb").cast("double")
                    / F.when(F.col("nb") > 0, F.col("nb"))
                )
            ),
            6,
        ).alias("ks_d"),
    )


@query(
    "stats_mann_kendall_trend",
    oracle=f"""
    WITH monthly AS (
      SELECT c.c_mktsegment AS seg,
             CAST(date_part('year', o.o_orderdate) * 12
                  + date_part('month', o.o_orderdate) AS INTEGER) AS m,
             {dsum_sql('o.o_totalprice')} AS rev
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.seg,
             CASE WHEN b.rev > a.rev THEN 1
                  WHEN b.rev < a.rev THEN -1 ELSE 0 END AS sgn
      FROM monthly a JOIN monthly b
        ON a.seg = b.seg AND b.m > a.m
    ),
    n AS (SELECT seg, COUNT(*) AS n_months FROM monthly GROUP BY seg)
    SELECT n.seg, n.n_months,
           COALESCE(CAST(SUM(p.sgn) AS BIGINT), 0) AS s_stat,
           ROUND(CAST(COALESCE(SUM(p.sgn), 0) AS DOUBLE)
                 / NULLIF(n.n_months * (n.n_months - 1) / 2, 0), 6)
             AS kendall_tau
    FROM n LEFT JOIN pairs p ON p.seg = n.seg
    GROUP BY n.seg, n.n_months
    """,
)
def stats_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per market segment on monthly revenue:
    S = Σ_{{i<j}} sign(x_j − x_i) over the month-ordered series, and
    Kendall's tau = S / C(n,2) — the nonparametric "is it trending"
    answer that, unlike an OLS slope (agg_regression_ols), is immune to
    outlier months and needs no linearity assumption.

    Monthly revenues are decimal-exact sums, so every sign comparison
    is exact and S is a pure integer — tau is one division, rounded.
    The i<j self-join is over the BOUNDED monthly frame (n ≈ 80 months
    → ~3.2k pairs/segment), never over raw orders: the classic
    aggregate-then-quadratic shape that stays constant-size as the
    fact table grows to 100 TB."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    monthly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("int")
            .alias("m"),
        )
        .agg(dsum("o_totalprice").alias("rev"))
    )
    a = monthly.alias("a")
    b = monthly.alias("b")
    pairs = a.join(
        b, (F.col("a.seg") == F.col("b.seg")) & (F.col("b.m") > F.col("a.m"))
    ).select(
        F.col("a.seg").alias("seg"),
        F.when(F.col("b.rev") > F.col("a.rev"), 1)
        .when(F.col("b.rev") < F.col("a.rev"), -1)
        .otherwise(0)
        .alias("sgn"),
    )
    n = monthly.groupBy("seg").agg(F.count(F.lit(1)).alias("n_months"))
    return (
        n.join(pairs, "seg", "left")
        .groupBy("seg", "n_months")
        .agg(
            F.coalesce(F.sum("sgn"), F.lit(0)).cast("bigint").alias("s_stat"),
        )
        .select(
            "seg",
            "n_months",
            "s_stat",
            F.round(
                F.when(
                    F.col("n_months") > 1,
                    F.col("s_stat").cast("double")
                    / (F.col("n_months") * (F.col("n_months") - 1) / 2),
                ),
                6,
            ).alias("kendall_tau"),
        )
    )


#: CUSUM alarm threshold: h = _H_SIGMAS · σ(daily revenue), drift
#: allowance k = 0 (detect any sustained shift above the period mean)
_H_SIGMAS = 2.0


@query(
    "stats_cusum_changepoint",
    oracle=f"""
    WITH daily AS (
      SELECT o_orderpriority AS priority,
             CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
             {dsum_sql('o_totalprice')} AS rev
      FROM orders GROUP BY 1, 2
    ),
    params AS (
      SELECT priority,
             COUNT(*) AS n_days,
             {dsum_sql('rev')} / COUNT(*) AS mu,
             sqrt({dsum_sql('(rev / 100000.0) * (rev / 100000.0)')}
                    / COUNT(*)
                  - ({dsum_sql('rev')} / COUNT(*) / 100000.0)
                    * ({dsum_sql('rev')} / COUNT(*) / 100000.0))
               * 100000.0 AS sigma
      FROM daily GROUP BY priority
    ),
    pref AS (
      SELECT d.priority, d.day, p.n_days, p.sigma,
             CAST(SUM(CAST(d.rev - p.mu AS DECIMAL(28,6))) OVER w
                  AS DOUBLE) AS pt
      FROM daily d JOIN params p ON p.priority = d.priority
      WINDOW w AS (PARTITION BY d.priority ORDER BY d.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    pref2 AS (
      SELECT priority, day, n_days, sigma, pt,
             LEAST(CAST(0 AS DOUBLE),
                   MIN(pt) OVER (PARTITION BY priority ORDER BY day
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW)) AS run_min
      FROM pref
    ),
    scored AS (
      SELECT priority, day, n_days,
             pt - run_min AS s_t,
             {_H_SIGMAS!r} * sigma AS h
      FROM pref2
    )
    SELECT priority,
           MAX(n_days) AS n_days,
           ROUND(MAX(s_t), 6) AS max_cusum,
           CAST(MIN(CASE WHEN s_t > h THEN day END) AS BIGINT)
             AS first_alarm_day
    FROM scored GROUP BY priority
    """,
)
def stats_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change-point detection on daily revenue per
    order priority: S_t = max(0, S_{{t-1}} + (x_t − μ)), alarm when S_t
    exceeds h = 2σ — the sequential monitor that localizes
    WHEN a sustained upward shift began, where PSI/KS only say THAT two
    eras differ.

    The recursion is rewritten as S_t = P_t − min(0, running-min of P)
    — two stacked windows per priority (running sum, then running min
    OF that sum), both PARTITIONED (never global). The running sum adds
    doubles strictly left-to-right in day order in both engines, so
    every P_t is bit-identical; μ and σ come from decimal-exact moment
    sums. Alarm day is an exact integer; max CUSUM rounds at 6 dp.
    Scale: one (priority, day) aggregate of orders, then windows over
    the bounded daily frame."""
    o = table(spark, sf_dir, "orders")
    dec = "decimal(28,6)"
    daily = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.expr("unix_timestamp(cast(o_orderdate as timestamp)) div 86400").alias(
            "day"
        ),
    ).agg(F.sum(F.col("o_totalprice").cast(dec)).cast("double").alias("rev"))
    # r14 scale hardening (sf1): the raw second moment Σrev² is ~2.4e19
    # at sf1 — past every decimal→double cast's engine-identity bound,
    # and a 1-ulp σ drift moves the alarm threshold discontinuously.
    # Scaling rev down by 10⁵ first keeps Σ(rev/10⁵)²·10⁶ < 2⁵³ (good
    # to ~sf5), and every op in the σ expression is then an identical
    # IEEE op in both engines. The prefix sum likewise routes through
    # decimal: DuckDB's windowed double SUM is segment-tree-ordered
    # (not left-to-right like Spark's), and at |pt| ~ 1e9 the tree-vs-
    # sequential ulp noise crosses the 6-dp output grid; an exact
    # decimal window sum is order-free in both engines.
    srev = F.sum(F.col("rev").cast(dec)).cast("double")
    rs = F.col("rev") / F.lit(100000.0)
    srs2 = F.sum((rs * rs).cast(dec)).cast("double")
    cnt = F.count(F.lit(1))
    mu = srev / cnt
    params = daily.groupBy("priority").agg(
        cnt.alias("n_days"),
        mu.alias("mu"),
        (
            F.sqrt(
                srs2 / cnt - (mu / F.lit(100000.0)) * (mu / F.lit(100000.0))
            )
            * F.lit(100000.0)
        ).alias("sigma"),
    )
    wrun = (
        Window.partitionBy("priority")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = daily.join(F.broadcast(params), "priority")
    pref = joined.select(
        "priority",
        "day",
        "n_days",
        "sigma",
        F.sum((F.col("rev") - F.col("mu")).cast(dec))
        .over(wrun)
        .cast("double")
        .alias("pt"),
    )
    pref = pref.withColumn(
        "run_min",
        F.least(F.lit(0.0), F.min("pt").over(wrun)),
    )
    scored = pref.select(
        "priority",
        "day",
        "n_days",
        (F.col("pt") - F.col("run_min")).alias("s_t"),
        (F.lit(_H_SIGMAS) * F.col("sigma")).alias("h"),
    )
    return scored.groupBy("priority").agg(
        F.max("n_days").alias("n_days"),
        F.round(F.max("s_t"), 6).alias("max_cusum"),
        F.min(F.when(F.col("s_t") > F.col("h"), F.col("day")))
        .cast("bigint")
        .alias("first_alarm_day"),
    )


def _dual_rank(df: DataFrame, part: str, col: str, out: str) -> DataFrame:
    """Doubled average tie-rank: 2·rank + |ties| − 1 = 2·avg_rank, an
    exact INTEGER even when the average rank is a half — Pearson is
    scale-invariant, so correlating doubled ranks gives Spearman's ρ
    with textbook tie correction and no floats anywhere."""
    wr = Window.partitionBy(part).orderBy(col)
    wt = Window.partitionBy(part, col)
    return df.withColumn(
        out,
        (2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1).cast("long"),
    )


@query(
    "stats_spearman_corr",
    oracle=f"""
    WITH spend AS (
      SELECT o_custkey, {dsum_sql('o_totalprice')} AS spend
      FROM orders GROUP BY o_custkey
    ),
    j AS (
      SELECT c.c_mktsegment AS seg, c.c_acctbal AS x, s.spend AS y
      FROM customer c JOIN spend s ON s.o_custkey = c.c_custkey
    ),
    r AS (
      SELECT seg,
             2 * RANK() OVER (PARTITION BY seg ORDER BY x)
               + COUNT(*) OVER (PARTITION BY seg, x) - 1 AS dx,
             2 * RANK() OVER (PARTITION BY seg ORDER BY y)
               + COUNT(*) OVER (PARTITION BY seg, y) - 1 AS dy
      FROM j
    ),
    m AS (
      SELECT seg, COUNT(*) AS n,
             SUM(dx) AS sx, SUM(dy) AS sy, SUM(dx * dy) AS sxy,
             SUM(dx * dx) AS sxx, SUM(dy * dy) AS syy
      FROM r GROUP BY seg
    )
    SELECT seg, CAST(n AS BIGINT) AS n_cust,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / NULLIF(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                               * CAST(n * syy - sy * sy AS DOUBLE)), 0.0),
                 6) AS spearman_rho
    FROM m
    """,
)
def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between account balance and lifetime
    spend, per market segment — the monotone-association measure that
    is robust to the heavy right tail Pearson chokes on.

    Ranks use the textbook average-tie convention, carried as DOUBLED
    ranks (2·rank + ties − 1) so every rank is an exact integer; all
    five moment sums are exact int64 and the single double division
    happens once per segment. Degenerate (constant-variable) segments
    yield NULL, not NaN, in both engines.

    Scale: one groupBy(custkey) over orders, two partitioned rank
    windows (segments are the partitions), and a 5-row reduction —
    ranks shuffle as (segment, value) pairs only."""
    spend = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
            .cast("double")
            .alias("y")
        )
    )
    j = (
        table(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey"),
            F.col("c_mktsegment").alias("seg"),
            F.col("c_acctbal").alias("x"),
        )
        .join(spend, F.col("c_custkey") == F.col("o_custkey"))
    )
    r = _dual_rank(_dual_rank(j, "seg", "x", "dx"), "seg", "y", "dy")
    m = r.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    return _pearson_from_int_sums(m, "spearman_rho").select(
        "seg",
        F.col("n").cast("long").alias("n_cust"),
        "spearman_rho",
    )


@query(
    "stats_anova_f",
    oracle=f"""
    WITH g AS (
      SELECT o_orderpriority AS pri,
             COUNT(*) AS n_g,
             {dsum_sql('o_totalprice')} / COUNT(*) AS m_g,
             {dsum_sql('o_totalprice * o_totalprice')} AS ssq_g
      FROM orders GROUP BY o_orderpriority
    ),
    grand AS (
      SELECT COUNT(*) AS n, {dsum_sql('o_totalprice')} / COUNT(*) AS m
      FROM orders
    ),
    terms AS (
      SELECT g.n_g,
             CAST(ROUND(g.n_g * (g.m_g - grand.m) * (g.m_g - grand.m), 6)
                  AS DECIMAL(38,6)) AS tb,
             CAST(ROUND(g.ssq_g - g.n_g * g.m_g * g.m_g, 6)
                  AS DECIMAL(38,6)) AS tw
      FROM g CROSS JOIN grand
    ),
    red AS (
      SELECT COUNT(*) AS k, SUM(n_g) AS n,
             CAST(SUM(tb) AS DOUBLE) AS ssb,
             CAST(SUM(tw) AS DOUBLE) AS ssw
      FROM terms
    )
    SELECT CAST(k AS BIGINT) AS k_groups, CAST(n AS BIGINT) AS n_total,
           ROUND((ssb / (k - 1)) / NULLIF(ssw / (n - k), 0.0), 6) AS f_stat,
           ROUND(ssb / NULLIF(ssb + ssw, 0.0), 6) AS eta_sq
    FROM red
    """,
)
def stats_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across order priorities: does mean order value
    differ between the k=5 priority groups?  F = (SSB/(k−1)) /
    (SSW/(n−k)) plus the effect size η² = SSB/(SSB+SSW) — the k-group
    generalization of ``stats_ttest_welch``.

    Group moments come from decimal-exact sums; SSB uses the centered
    form Σ n_g·(m_g − m)² (no catastrophic 1e15-scale cancellation
    against the raw second moment), and the five per-group terms are
    rounded then decimal-summed so the k-row reduction is
    order-independent in both engines.

    Scale: two aggregates over orders (per-group + grand) and a 5-row
    reduction — map-side partial aggregation does all the work."""
    dec = "decimal(28,6)"
    o = table(spark, sf_dir, "orders")
    cnt = F.count(F.lit(1))
    sx = F.sum(F.col("o_totalprice").cast(dec)).cast("double")
    sxx = F.sum(
        (F.col("o_totalprice") * F.col("o_totalprice")).cast(dec)
    ).cast("double")
    g = o.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        cnt.alias("n_g"), (sx / cnt).alias("m_g"), sxx.alias("ssq_g")
    )
    grand = o.agg(cnt.alias("n"), (sx / cnt).alias("m"))
    dm = F.col("m_g") - F.col("m")
    terms = g.crossJoin(F.broadcast(grand)).select(
        "n_g",
        F.round(F.col("n_g") * dm * dm, 6).cast("decimal(38,6)").alias("tb"),
        F.round(
            F.col("ssq_g") - F.col("n_g") * F.col("m_g") * F.col("m_g"), 6
        )
        .cast("decimal(38,6)")
        .alias("tw"),
    )
    red = terms.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n"),
        F.sum("tb").cast("double").alias("ssb"),
        F.sum("tw").cast("double").alias("ssw"),
    )
    ssb, ssw, k, n = F.col("ssb"), F.col("ssw"), F.col("k"), F.col("n")
    msw = ssw / (n - k)
    return red.select(
        k.cast("long").alias("k_groups"),
        n.cast("long").alias("n_total"),
        F.round(F.when(msw != 0.0, (ssb / (k - 1)) / msw), 6).alias("f_stat"),
        F.round(
            F.when((ssb + ssw) != 0.0, ssb / (ssb + ssw)), 6
        ).alias("eta_sq"),
    )


@query(
    "stats_mutual_information",
    oracle="""
    WITH joint AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
             COUNT(*) AS cxy
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    mx AS (SELECT seg, SUM(cxy) AS cx FROM joint GROUP BY seg),
    my AS (SELECT pri, SUM(cxy) AS cy FROM joint GROUP BY pri),
    tot AS (SELECT SUM(cxy) AS n FROM joint),
    mi AS (
      SELECT CAST(SUM(CAST(ROUND(
               (CAST(j.cxy AS DOUBLE) / t.n)
               * ln(CAST(j.cxy AS DOUBLE) * t.n
                    / (CAST(mx.cx AS DOUBLE) * my.cy)), 12)
             AS DECIMAL(28,12))) AS DOUBLE) AS mi
      FROM joint j
      JOIN mx ON mx.seg = j.seg
      JOIN my ON my.pri = j.pri
      CROSS JOIN tot t
    ),
    hx AS (
      SELECT CAST(SUM(CAST(ROUND(
               -(CAST(cx AS DOUBLE) / t.n) * ln(CAST(cx AS DOUBLE) / t.n),
               12) AS DECIMAL(28,12))) AS DOUBLE) AS h_seg
      FROM mx CROSS JOIN tot t
    ),
    hy AS (
      SELECT CAST(SUM(CAST(ROUND(
               -(CAST(cy AS DOUBLE) / t.n) * ln(CAST(cy AS DOUBLE) / t.n),
               12) AS DECIMAL(28,12))) AS DOUBLE) AS h_pri
      FROM my CROSS JOIN tot t
    )
    SELECT CAST(t.n AS BIGINT) AS n_orders,
           ROUND(mi.mi, 6) AS mi_nats,
           ROUND(hx.h_seg, 6) AS h_seg,
           ROUND(hy.h_pri, 6) AS h_pri,
           ROUND(mi.mi / NULLIF(sqrt(hx.h_seg * hy.h_pri), 0.0), 6)
             AS nmi
    FROM tot t CROSS JOIN mi CROSS JOIN hx CROSS JOIN hy
    """,
)
def stats_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between customer market segment and
    order priority, with both marginal entropies and the normalized
    MI = I/√(H·H) — quantifying the dependence that
    ``stats_chi2_independence`` only tests for.

    Probabilities come from exact integer counts (every product stays
    under 2⁵³, so the doubles are exact); each of the ≤25 joint terms
    is rounded at 12 dp and decimal-summed, making the tiny reduction
    order-independent; ln on identical doubles is engine-identical
    (precedent: the Benford, PSI and survival oracles).

    Scale: one orders⋈customer join and a groupBy to a k×k cell table;
    everything after the joint counts is constant-size. Margins attach
    by BROADCAST joins, the scalar total by a broadcast 1-row cross
    join — the repo's scalar-attach idiom."""
    j = (
        table(spark, sf_dir, "orders")
        .join(
            table(spark, sf_dir, "customer"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
    )
    # r14 probe note: persisting this ≤25-row frame measured 1.5x
    # SLOWER (0.68 → 1.03 s floor) — the four consumer branches are
    # already deduplicated by runtime exchange reuse, so the persist
    # only added a cache-materialization job barrier. Left unpersisted.
    joint = j.groupBy("seg", "pri").agg(F.count(F.lit(1)).alias("cxy"))
    mx = joint.groupBy("seg").agg(F.sum("cxy").alias("cx"))
    my = joint.groupBy("pri").agg(F.sum("cxy").alias("cy"))
    tot = joint.agg(F.sum("cxy").alias("n"))

    def _dsum12(col):
        return F.sum(F.round(col, 12).cast("decimal(28,12)")).cast("double")

    nd = F.col("n").cast("double")
    mi_term = (F.col("cxy").cast("double") / nd) * F.log(
        F.col("cxy").cast("double") * nd
        / (F.col("cx").cast("double") * F.col("cy"))
    )
    mi = (
        joint.join(F.broadcast(mx), "seg")
        .join(F.broadcast(my), "pri")
        .crossJoin(F.broadcast(tot))
        .agg(_dsum12(mi_term).alias("mi"))
    )
    px = F.col("cx").cast("double") / nd
    hx = mx.crossJoin(F.broadcast(tot)).agg(_dsum12(-px * F.log(px)).alias("h_seg"))
    py = F.col("cy").cast("double") / nd
    hy = my.crossJoin(F.broadcast(tot)).agg(_dsum12(-py * F.log(py)).alias("h_pri"))
    den = F.sqrt(F.col("h_seg") * F.col("h_pri"))
    return (
        tot.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            F.col("n").cast("long").alias("n_orders"),
            F.round(F.col("mi"), 6).alias("mi_nats"),
            F.round(F.col("h_seg"), 6).alias("h_seg"),
            F.round(F.col("h_pri"), 6).alias("h_pri"),
            F.round(F.when(den != 0.0, F.col("mi") / den), 6).alias("nmi"),
        )
    )


# ---------------------------------------------------------------------------
# stats_theil_sen_trend
# ---------------------------------------------------------------------------

@query(
    "stats_theil_sen_trend",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM({_CENTS}) AS DOUBLE) / 100.0 AS rev
      FROM orders GROUP BY 1
    ),
    seq AS (
      SELECT rev, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily
    ),
    slopes AS (
      SELECT a.rn AS i, b.rn AS j,
             (b.rev - a.rev) / (b.rn - a.rn) AS slope
      FROM seq a JOIN seq b ON b.rn > a.rn
    ),
    ranked AS (
      SELECT slope, ROW_NUMBER() OVER (ORDER BY slope, i, j) AS r,
             COUNT(*) OVER () AS m
      FROM slopes
    )
    SELECT (SELECT COUNT(*) FROM seq) AS n_days,
           CAST(MAX(m) AS BIGINT) AS n_pairs,
           round(AVG(slope), 6) AS theil_sen_slope
    FROM ranked
    WHERE r = (m + 1) // 2 OR r = (m + 2) // 2
    """,
)
def stats_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of daily revenue: the exact median of all
    pairwise slopes (v_j−v_i)/(j−i) — the estimator that tolerates up
    to ~29% outliers where OLS breaks, and the magnitude complement to
    stats_mann_kendall_trend's sign-only test.

    The slope set is CALENDAR-bounded but NOT small: the fixture spans
    ~2 400 days, so days²/2 ≈ 2.9M slopes at every sf (VERDICT r9
    item 3 estimated 435 — that is the day count at sf0.001, not the
    pair count; the round-10 probe measured the real frame). At that
    size a bounded-window median is a 2.9M-row single-task sort —
    probed 3.4 s, WORSE than the kernel's 2.85 s floor — so the rank
    stays on the range-partitioned total-order kernel
    (functions/total_order.py); the two middle ranks average (even m)
    or coincide (odd m).

    What round 10 did improve is the slope CONSTRUCTION: the daily
    series packs into one sorted array (array_sort on struct(day, rev)
    = ORDER BY day; n_days joins back from the 1-row packed frame), and the pair set
    is a double posexplode fanned across 32 tasks by an explicit
    block-id repartition (i mod 32 — explicit, so AQE's byte-based
    coalescing cannot fold the compute-heavy explode onto one task).
    That replaces the previous seq-vs-seq broadcast range join and its
    three daily-subtree re-evaluations: measured floor 2.85 → 1.9 s.
    Slopes are single IEEE divisions of identical operands in both
    engines — bit-identical, so ordering needs no rounding; only the
    final median is rounded (6 dp)."""
    o = table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg((F.sum(F.expr(_CENTS)).cast("double") / 100.0).alias("rev"))
    )
    packed = daily.agg(
        F.array_sort(F.collect_list(F.struct("day", "rev"))).alias("a")
    )
    nblk = 32
    base = packed.select(
        F.size("a").alias("n_days"),
        F.explode(F.sequence(F.lit(0), F.lit(nblk - 1))).alias("blk"),
        "a",
    )
    lhs = (
        base.repartition(nblk, "blk")
        .select("n_days", "blk", "a", F.posexplode("a").alias("i", "si"))
        .filter(F.col("i") % nblk == F.col("blk"))
    )
    pairs = lhs.select(
        "i", "si", F.posexplode("a").alias("j", "sj")
    ).filter(F.col("j") > F.col("i"))
    # the kernel checkpoints this frame — keep it to the 20 bytes/row
    # the rank actually orders on (n_days rides the 1-row packed frame
    # and joins back at the end)
    slopes = pairs.select(
        "i",
        "j",
        (
            (F.col("sj.rev") - F.col("si.rev")) / (F.col("j") - F.col("i"))
        ).alias("slope"),
    )
    ranked = attach_global_order(
        slopes,
        [F.asc("slope"), F.asc("i"), F.asc("j")],
        rn="r",
        total_count="m",
    )
    lo = F.floor((F.col("m") + 1) / 2)
    hi = F.floor((F.col("m") + 2) / 2)
    n_days = packed.select(F.size("a").cast("long").alias("n_days"))
    return (
        ranked.filter((F.col("r") == lo) | (F.col("r") == hi))
        .agg(
            F.max("m").alias("n_pairs"),
            F.round(F.avg("slope"), 6).alias("theil_sen_slope"),
        )
        .crossJoin(F.broadcast(n_days))
        .select("n_days", "n_pairs", "theil_sen_slope")
    )


# ---------------------------------------------------------------------------
# stats_permutation_test
# ---------------------------------------------------------------------------

_PT_B = 32


@query(
    "stats_permutation_test",
    oracle=f"""
    WITH base AS (
      SELECT {_CENTS} AS cents,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS grp,
             o_orderkey AS k
      FROM orders
    ),
    obs AS (
      SELECT ABS(CAST(SUM(CASE WHEN grp = 1 THEN cents END) AS DOUBLE)
                 / COUNT(CASE WHEN grp = 1 THEN 1 END)
                 - CAST(SUM(CASE WHEN grp = 0 THEN cents END) AS DOUBLE)
                 / COUNT(CASE WHEN grp = 0 THEN 1 END)) / 100.0 AS t_obs
      FROM base
    ),
    draws AS (
      SELECT b.b,
             CAST((((k % 3221225473) * 2654435761 + b.b * 2246822519)
                   % 1000003) % 2 AS INT) AS g,
             cents
      FROM base CROSS JOIN (SELECT UNNEST(range(0, {_PT_B})) AS b) b
    ),
    stats AS (
      SELECT b,
             ABS(CAST(SUM(CASE WHEN g = 1 THEN cents END) AS DOUBLE)
                 / COUNT(CASE WHEN g = 1 THEN 1 END)
                 - CAST(SUM(CASE WHEN g = 0 THEN cents END) AS DOUBLE)
                 / COUNT(CASE WHEN g = 0 THEN 1 END)) / 100.0 AS t_b
      FROM draws GROUP BY b
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM base) AS n_rows,
           {_PT_B} AS n_resamples,
           round((SELECT t_obs FROM obs), 6) AS t_obs,
           CAST(SUM(CASE WHEN t_b >= (SELECT t_obs FROM obs)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
           round((1.0 + SUM(CASE WHEN t_b >= (SELECT t_obs FROM obs)
                            THEN 1 ELSE 0 END)) / (1.0 + {_PT_B}), 6)
             AS p_value
    FROM stats
    """,
)
def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization test for the urgent-vs-rest mean order value gap:
    T = |mean(urgent) − mean(rest)|, compared against {_PT_B}
    deterministic hash reassignments of the group label (the audited
    mix of o_orderkey with the resample index as the second-hash term —
    the bootstrap operator's exact machinery pointed at labels instead
    of weights; the mix reduces mod the odd prime 1000003 BEFORE the
    final mod 2 — both multipliers are odd, so a direct mod 2 would
    collapse every resample to key-parity ⊕ b and the test would be a
    single split in disguise). p = (1 + #{{T_b ≥ T_obs}})/(1 + B), the standard
    add-one randomization p-value. Bernoulli label reassignment (not a
    size-preserving permutation) — the variant that needs no global
    shuffle, which is WHY it is the cluster-scale form; stated here so
    nobody mistakes it for an exact permutation.

    Determinism: every statistic is |exact-int sum / exact count −
    exact-int sum / exact count| — two IEEE divisions and a subtract on
    identical operands in both engines, so even the ≥ comparisons are
    bit-stable.

    Scale: the ×{_PT_B} expansion is map-side (explode + combine);
    reducer state is 2·{_PT_B} partial sums. Same shape as the Poisson
    bootstrap at similarity scale."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.expr(_CENTS).alias("cents"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("grp"),
        F.col("o_orderkey").alias("k"),
    )

    def gap(df: DataFrame, grp: str, part) -> DataFrame:
        return df.groupBy(*part).agg(
            (
                F.abs(
                    F.sum(F.when(F.col(grp) == 1, F.col("cents"))).cast(
                        "double"
                    )
                    / F.count(F.when(F.col(grp) == 1, 1))
                    - F.sum(F.when(F.col(grp) == 0, F.col("cents"))).cast(
                        "double"
                    )
                    / F.count(F.when(F.col(grp) == 0, 1))
                )
                / 100.0
            ).alias("t")
        )

    obs = gap(base, "grp", [])
    n_rows = base.agg(F.count(F.lit(1)).alias("n_rows"))
    draws = base.select(
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_PT_B - 1))).alias("b"),
        F.col("k"),
    ).select(
        "b",
        "cents",
        (
            (
                ((F.col("k") % 3221225473) * 2654435761
                 + F.col("b") * 2246822519)
                % 1000003
            )
            % 2
        )
        .cast("int")
        .alias("g"),
    )
    stats = gap(draws, "g", ["b"])
    return (
        stats.crossJoin(F.broadcast(obs.select(F.col("t").alias("t_obs"))))
        .agg(
            F.lit(_PT_B).alias("n_resamples"),
            F.round(F.max("t_obs"), 6).alias("t_obs"),
            F.sum(F.when(F.col("t") >= F.col("t_obs"), 1).otherwise(0))
            .cast("long")
            .alias("n_ge"),
            F.round(
                (
                    1.0
                    + F.sum(
                        F.when(F.col("t") >= F.col("t_obs"), 1).otherwise(0)
                    )
                )
                / (1.0 + _PT_B),
                6,
            ).alias("p_value"),
        )
        .crossJoin(F.broadcast(n_rows))
        .select("n_rows", "n_resamples", "t_obs", "n_ge", "p_value")
    )


# ---------------------------------------------------------------------------
# stats_kendall_tau
# ---------------------------------------------------------------------------


@query(
    "stats_kendall_tau",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, SUM({_VCENTS}) AS x,
             COUNT(*) AS y
      FROM events GROUP BY 1
    ),
    pairs AS (
      SELECT CASE WHEN (a.x < b.x AND a.y < b.y)
                    OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END AS con,
             CASE WHEN (a.x < b.x AND a.y > b.y)
                    OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END AS dis,
             CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
             CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
      FROM daily a JOIN daily b ON a.day < b.day
    ),
    agg AS (
      SELECT CAST(SUM(con) AS BIGINT) AS c, CAST(SUM(dis) AS BIGINT) AS d,
             CAST(SUM(tx) AS BIGINT) AS n1, CAST(SUM(ty) AS BIGINT) AS n2,
             CAST(COUNT(*) AS BIGINT) AS n0
      FROM pairs
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
           c AS n_concordant, d AS n_discordant,
           n1 AS tied_pairs_x, n2 AS tied_pairs_y,
           CASE WHEN (n0 - n1) * (n0 - n2) > 0
                THEN round((c - d) / sqrt(CAST((n0 - n1) AS DOUBLE)
                                          * (n0 - n2)), 6)
                ELSE NULL END AS tau_b
    FROM agg
    """,
)
def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Kendall tau-b rank correlation between daily revenue and
    daily event volume, with full tie correction: τ_b = (C − D) /
    √((n₀−n₁)(n₀−n₂)) over all day pairs, where n₁/n₂ count tied pairs
    in each variable. The third member of the robust-association suite
    — Spearman (stats_spearman_corr) ranks then correlates, Theil-Sen
    (stats_theil_sen_trend) is the slope analogue, and Kendall is the
    concordance form whose τ has the direct probabilistic reading
    P(concordant) − P(discordant).

    Plan shape: ONE data-sized shuffle (the daily groupBy rollup, the
    same one every ts_* query starts from); the pairwise stage is a
    self-join of the DAILY frame on day < day — bounded by the
    calendar domain (≤ a few thousand rows even at 100 TB of events),
    never by corpus size, the same domain-bounded-quadratic contract
    as Theil-Sen and the ACF's triangular join. Concordance tests are
    pure integer comparisons combined map-side.

    Determinism: C, D, n₀, n₁, n₂ are exact integer counts; τ_b is one
    sqrt + one division of exact integers, rounded at 6 dp; degenerate
    all-tied variables yield NULL on both engines."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.expr("CAST(ts AS DATE)").alias("day")).agg(
        F.sum(F.expr(_VCENTS)).alias("x"), F.count(F.lit(1)).alias("y")
    )
    a = daily.select(
        F.col("day").alias("da"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = daily.select(
        F.col("day").alias("db"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    xa, xb, ya, yb = (F.col(c) for c in ("xa", "xb", "ya", "yb"))
    pairs = a.join(b, F.col("da") < F.col("db")).select(
        F.when(
            ((xa < xb) & (ya < yb)) | ((xa > xb) & (ya > yb)), 1
        )
        .otherwise(0)
        .alias("con"),
        F.when(
            ((xa < xb) & (ya > yb)) | ((xa > xb) & (ya < yb)), 1
        )
        .otherwise(0)
        .alias("dis"),
        F.when(xa == xb, 1).otherwise(0).alias("tx"),
        F.when(ya == yb, 1).otherwise(0).alias("ty"),
    )
    agg = pairs.agg(
        F.sum("con").alias("c"),
        F.sum("dis").alias("d"),
        F.sum("tx").alias("n1"),
        F.sum("ty").alias("n2"),
        F.count(F.lit(1)).alias("n0"),
    )
    n_days = daily.agg(F.count(F.lit(1)).alias("n_days"))
    denom = (F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n2"))
    return agg.crossJoin(F.broadcast(n_days)).select(
        "n_days",
        F.col("c").alias("n_concordant"),
        F.col("d").alias("n_discordant"),
        F.col("n1").alias("tied_pairs_x"),
        F.col("n2").alias("tied_pairs_y"),
        F.when(
            denom > 0,
            F.round(
                (F.col("c") - F.col("d"))
                / F.sqrt(
                    (F.col("n0") - F.col("n1")).cast("double")
                    * (F.col("n0") - F.col("n2"))
                ),
                6,
            ),
        ).alias("tau_b"),
    )


_BCENTS = cents_sql("c_acctbal")


# ---------------------------------------------------------------------------
# stats_kruskal_wallis
# ---------------------------------------------------------------------------


@query(
    "stats_kruskal_wallis",
    oracle=f"""
    WITH base AS (
      SELECT c_mktsegment AS seg, {_BCENTS} AS v FROM customer
    ),
    gs AS (SELECT seg, v, COUNT(*) AS cnt_gs FROM base GROUP BY seg, v),
    h AS (SELECT v, SUM(cnt_gs) AS cnt FROM gs GROUP BY v),
    r AS (
      SELECT v, cnt,
             SUM(cnt) OVER (ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
      FROM h
    ),
    grp AS (
      SELECT gs.seg, SUM(gs.cnt_gs) AS n_i,
             SUM(CAST(gs.cnt_gs AS DECIMAL(38,0))
                 * (2 * r.cum - r.cnt + 1)) AS s2
      FROM gs JOIN r ON r.v = gs.v
      GROUP BY gs.seg
    ),
    gm AS (
      SELECT CAST(SUM(n_i) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(CAST(round((CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
                                 / (4.0 * n_i), 6) AS DECIMAL(38,8)))
                  AS DOUBLE) AS sr
      FROM grp
    ),
    ties AS (
      SELECT CAST(SUM(CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt)
                  AS DOUBLE) AS tsum
      FROM h
    ),
    hv AS (
      SELECT n, k,
             ((12.0 / (n * (n + 1.0))) * sr) - (3.0 * (n + 1)) AS hraw,
             1.0 - ties.tsum
                   / CAST(CAST(n AS DECIMAL(38,0)) * n * n - n AS DOUBLE)
               AS corr
      FROM gm CROSS JOIN ties
    )
    SELECT n AS n_total, k AS n_groups, round(hraw, 6) AS h,
           CASE WHEN corr > 0 THEN round(hraw / corr, 6) END
             AS h_tie_corrected
    FROM hv
    """,
)
def stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test for a location shift of account balance
    across the five market segments: H = 12/(N(N+1)) Σ nᵢR̄ᵢ² − 3(N+1)
    over global midranks, with the tie correction H/C,
    C = 1 − Σ(t³−t)/(N³−N). The k-group rank test — the nonparametric
    complement to stats_anova_f (no normality assumption) and the
    k-group generalization of stats_rank_sum_u, closing the classical
    hypothesis-test suite.

    Scale shape: ranks are average ranks over the VALUE HISTOGRAM
    (distinct integer cents — domain-bounded), computed from one
    cumulative count via the total-order kernel; per-group rank sums
    come from the (value, group) frame joined to the histogram. The
    only row-sized shuffle is the initial (value, group) groupBy.

    Determinism: 2×midranks are exact integers in 38-digit decimals;
    per-group Σnᵢ R̄ᵢ² terms are mirrored double expressions of exact
    sums rounded at 6 dp and decimal-summed over the ≤k groups; H and
    the tie correction combine exact counts with identical
    parenthesization; degenerate all-tied data yields NULL."""
    c = table(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_mktsegment").alias("seg"), F.expr(_BCENTS).alias("v")
    )
    # persist the (seg, value) and value-histogram frames (r14): gs
    # feeds the histogram and the per-group rank sums, h feeds the
    # prefix-sum kernel and the tie term — without barriers the
    # customer scan + groupBy re-evaluates once per branch
    gs = base.groupBy("seg", "v").agg(F.count(F.lit(1)).alias("cnt_gs")).persist()
    h = gs.groupBy("v").agg(F.sum("cnt_gs").alias("cnt")).persist()
    r = attach_global_order(h, [F.asc("v")], cumsums=[("cnt", "cum")])
    avg2 = 2 * F.col("cum") - F.col("cnt") + 1
    grp = (
        gs.join(r.select("v", avg2.alias("avg2")), "v")
        .groupBy("seg")
        .agg(
            F.sum("cnt_gs").alias("n_i"),
            F.sum(F.col("cnt_gs").cast(_DEC38) * F.col("avg2")).alias("s2"),
        )
    )
    s2d = F.col("s2").cast("double")
    glob = grp.agg(
        F.sum("n_i").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(
            F.round((s2d * s2d) / (4.0 * F.col("n_i")), 6).cast(
                "decimal(38,8)"
            )
        )
        .cast("double")
        .alias("sr"),
    )
    cd = F.col("cnt").cast(_DEC38)
    ties = h.agg(
        F.sum(cd * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("double")
        .alias("tsum")
    )
    n = F.col("n")
    hraw = ((12.0 / (n * (n + 1.0))) * F.col("sr")) - (3.0 * (n + 1))
    corr = 1.0 - F.col("tsum") / (
        n.cast(_DEC38) * n * n - n
    ).cast("double")
    hv = glob.crossJoin(F.broadcast(ties)).select(
        "n", "k", hraw.alias("hraw"), corr.alias("corr")
    )
    return hv.select(
        F.col("n").alias("n_total"),
        F.col("k").alias("n_groups"),
        F.round(F.col("hraw"), 6).alias("h"),
        F.when(
            F.col("corr") > 0, F.round(F.col("hraw") / F.col("corr"), 6)
        ).alias("h_tie_corrected"),
    )


# ---------------------------------------------------------------------------
# stats_levene_bf
# ---------------------------------------------------------------------------


@query(
    "stats_levene_bf",
    oracle=f"""
    WITH base AS (
      SELECT c_mktsegment AS seg, {_BCENTS} AS v, c_custkey FROM customer
    ),
    rk AS (
      SELECT seg, v,
             ROW_NUMBER() OVER (PARTITION BY seg
                                ORDER BY v, c_custkey) AS rn,
             COUNT(*) OVER (PARTITION BY seg) AS n_g
      FROM base
    ),
    med AS (
      SELECT seg,
             SUM(CASE WHEN rn = (n_g + 1) // 2 THEN v ELSE 0 END)
             + SUM(CASE WHEN rn = n_g // 2 + 1 THEN v ELSE 0 END) AS m2
      FROM rk GROUP BY seg
    ),
    z AS (
      SELECT b.seg, ABS(2 * b.v - m.m2) AS z
      FROM base b JOIN med m ON m.seg = b.seg
    ),
    grp AS (
      SELECT seg, COUNT(*) AS n_i,
             SUM(CAST(z AS DECIMAL(38,0))) AS s_i,
             SUM(CAST(z AS DECIMAL(38,0)) * z) AS ssq_i
      FROM z GROUP BY seg
    ),
    gm AS (
      SELECT CAST(SUM(n_i) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(s_i) AS DOUBLE) AS s,
             CAST(SUM(ssq_i) AS DOUBLE) AS ssq,
             CAST(SUM(CAST(round((CAST(s_i AS DOUBLE) * CAST(s_i AS DOUBLE))
                                 / n_i, 6) AS DECIMAL(38,8))) AS DOUBLE)
               AS st
      FROM grp
    )
    SELECT n AS n_total, k AS n_groups,
           CASE WHEN ssq - st > 0 AND k > 1
                THEN round(((st - s * (s / n)) / (k - 1))
                           / ((ssq - st) / (n - k)), 6)
                END AS f_stat
    FROM gm
    """,
)
def stats_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test across market
    segments: a one-way ANOVA F computed on the absolute deviations
    from each group's MEDIAN, z = |v − med_i| — the robust Levene
    variant (median centers resist the outliers that break the
    mean-centered original). This is the pre-check for
    stats_anova_f's equal-variance assumption; a large F here says
    segment variances differ and the pooled ANOVA denominator lies.

    Exactness trick: work on 2× the deviations — the doubled median
    of integer cents is v_lo + v_hi (an exact integer whether the
    group is odd or even), so z = |2v − m2| stays integral and every
    ANOVA moment (Σz, Σz², per-group sums) is an exact decimal; F is
    a mirrored float combination rounded at 6 dp. Scaling z by 2
    scales both numerator and denominator by 4 — F is unchanged.

    Scale: per-group medians use a window PARTITIONED by segment (one
    shuffle on the group key, parallel across groups); deviations are
    a broadcast join of k medians; the ANOVA reduction is one
    groupBy. At 100 TB the only data-sized cost is the group-key
    shuffle every grouped rank pays."""
    c = table(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_mktsegment").alias("seg"),
        F.expr(_BCENTS).alias("v"),
        "c_custkey",
    )
    wr = Window.partitionBy("seg").orderBy("v", "c_custkey")
    wn = Window.partitionBy("seg")
    rk = base.select(
        "seg",
        "v",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n_g"),
    )
    med = rk.groupBy("seg").agg(
        (
            F.sum(
                F.when(
                    F.col("rn") == ((F.col("n_g") + 1) / 2).cast("bigint"),
                    F.col("v"),
                ).otherwise(0)
            )
            + F.sum(
                F.when(
                    F.col("rn")
                    == (F.col("n_g") / 2).cast("bigint") + 1,
                    F.col("v"),
                ).otherwise(0)
            )
        ).alias("m2")
    )
    z = base.join(F.broadcast(med), "seg").select(
        "seg", F.abs(2 * F.col("v") - F.col("m2")).alias("z")
    )
    zd = F.col("z").cast(_DEC38)
    grp = z.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n_i"),
        F.sum(zd).alias("s_i"),
        F.sum(zd * F.col("z")).alias("ssq_i"),
    )
    sid = F.col("s_i").cast("double")
    gm = grp.agg(
        F.sum("n_i").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("s_i").cast("double").alias("s"),
        F.sum("ssq_i").cast("double").alias("ssq"),
        F.sum(
            F.round((sid * sid) / F.col("n_i"), 6).cast("decimal(38,8)")
        )
        .cast("double")
        .alias("st"),
    )
    n, k = F.col("n"), F.col("k")
    f_stat = ((F.col("st") - F.col("s") * (F.col("s") / n)) / (k - 1)) / (
        (F.col("ssq") - F.col("st")) / (n - k)
    )
    return gm.select(
        n.alias("n_total"),
        k.alias("n_groups"),
        F.when(
            (F.col("ssq") - F.col("st") > 0) & (k > 1), F.round(f_stat, 6)
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# stats_wilcoxon_signed_rank
# ---------------------------------------------------------------------------

_WX_LAG = 14


@query(
    "stats_wilcoxon_signed_rank",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, SUM({_VCENTS}) AS v
      FROM events GROUP BY 1
    ),
    pairs AS (
      SELECT b.v - a.v AS d
      FROM daily a
      JOIN daily b ON b.day = a.day + CAST('{_WX_LAG} days' AS INTERVAL)
      WHERE b.v <> a.v
    ),
    h AS (SELECT ABS(d) AS ad, COUNT(*) AS cnt,
                 SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS npos
          FROM pairs GROUP BY ABS(d)),
    r AS (
      SELECT ad, cnt, npos,
             SUM(cnt) OVER (ORDER BY ad
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
      FROM h
    ),
    agg AS (
      SELECT SUM(CAST(npos AS DECIMAL(38,0)) * (2 * cum - cnt + 1))
               AS w2pos,
             SUM(CAST(cnt AS DECIMAL(38,0))) AS n,
             SUM(CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt) AS tsum
      FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           round(CAST(w2pos AS DOUBLE) / 2.0, 6) AS w_plus,
           round(CAST(n * (n + 1) AS DOUBLE) / 2.0
                 - CAST(w2pos AS DOUBLE) / 2.0, 6) AS w_minus,
           CASE WHEN n >= 2 AND
                     (CAST(n * (n + 1) AS DOUBLE) * (2 * CAST(n AS DOUBLE) + 1)
                      - CAST(tsum AS DOUBLE) / 2.0) > 0
                THEN round((CAST(w2pos AS DOUBLE) / 2.0
                            - CAST(n * (n + 1) AS DOUBLE) / 4.0)
                           / sqrt((CAST(n * (n + 1) AS DOUBLE)
                                   * (2 * CAST(n AS DOUBLE) + 1)
                                   - CAST(tsum AS DOUBLE) / 2.0) / 24.0),
                           6)
                END AS z_score
    FROM agg
    """,
)
def stats_wilcoxon_signed_rank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Wilcoxon signed-rank test for a paired location shift: each
    day's revenue pairs with the revenue 14 days later (calendar
    alignment — a missing partner day drops the pair), zero diffs are
    discarded (the standard treatment), |diffs| take midranks over
    their histogram, and W⁺ sums the ranks of positive diffs. The
    tie-corrected normal approximation
    z = (W⁺ − n(n+1)/4) / √(n(n+1)(2n+1)/24 − Σ(t³−t)/48) is the
    two-week-shift significance readout — the PAIRED complement to
    the two-sample rank-sum test (stats_rank_sum_u), with pairing
    removing the day-of-week variance both days share.

    Scale: the daily rollup is the only data-sized shuffle; the lag
    join, |diff| histogram, and midrank cumulative all run on the
    calendar-bounded daily frame via the total-order kernel.

    Determinism: diffs are exact integer cents; 2×midranks
    (2·cum − cnt + 1) are exact integers so W⁺ halves once; the z
    combines exact decimal sums with mirrored parenthesization,
    rounded at 6 dp; a degenerate all-tied frame yields NULL."""
    ev = table(spark, sf_dir, "events")
    # persist (r14): both sides of the lag self-join read this
    # calendar-bounded frame — one events scan + groupBy, not two
    daily = ev.groupBy(F.expr("CAST(ts AS DATE)").alias("day")).agg(
        F.sum(F.expr(_VCENTS)).alias("v")
    ).persist()
    a = daily.select(F.col("day").alias("da"), F.col("v").alias("va"))
    b = daily.select(F.col("day").alias("db"), F.col("v").alias("vb"))
    pairs = a.join(
        b, F.col("db") == F.date_add(F.col("da"), _WX_LAG)
    ).filter(F.col("vb") != F.col("va")).select(
        (F.col("vb") - F.col("va")).alias("d")
    )
    h = pairs.groupBy(F.abs(F.col("d")).alias("ad")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).alias("npos"),
    )
    r = attach_global_order(h, [F.asc("ad")], cumsums=[("cnt", "cum")])
    avg2 = 2 * F.col("cum") - F.col("cnt") + 1
    cd = F.col("cnt").cast(_DEC38)
    agg = r.agg(
        F.sum(F.col("npos").cast(_DEC38) * avg2).alias("w2pos"),
        F.sum(cd).alias("n"),
        F.sum(cd * F.col("cnt") * F.col("cnt") - F.col("cnt")).alias(
            "tsum"
        ),
    )
    n = F.col("n")
    nd = n.cast("double")
    w2 = F.col("w2pos").cast("double")
    var_num = (n * (n + 1)).cast("double") * (2 * nd + 1) - F.col(
        "tsum"
    ).cast("double") / 2.0
    z = (w2 / 2.0 - (n * (n + 1)).cast("double") / 4.0) / F.sqrt(
        var_num / 24.0
    )
    return agg.select(
        n.cast("long").alias("n_pairs"),
        F.round(w2 / 2.0, 6).alias("w_plus"),
        F.round(
            (n * (n + 1)).cast("double") / 2.0 - w2 / 2.0, 6
        ).alias("w_minus"),
        F.when((n >= 2) & (var_num > 0), F.round(z, 6)).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# stats_friedman
# ---------------------------------------------------------------------------


@query(
    "stats_friedman",
    oracle=f"""
    WITH cells AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             SUM({_VCENTS}) AS v
      FROM events GROUP BY 1, 2
    ),
    days AS (SELECT DISTINCT day FROM cells),
    types AS (SELECT DISTINCT event_type FROM cells),
    grid AS (
      SELECT d.day, t.event_type, COALESCE(c.v, 0) AS v
      FROM days d CROSS JOIN types t
      LEFT JOIN cells c ON c.day = d.day AND c.event_type = t.event_type
    ),
    dv AS (SELECT day, v, COUNT(*) AS cl FROM grid GROUP BY day, v),
    mr AS (
      SELECT day, v,
             2 * SUM(cl) OVER (PARTITION BY day ORDER BY v
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - cl + 1 AS mid2
      FROM dv
    ),
    ranked AS (
      SELECT g.event_type, g.day, m.mid2
      FROM grid g JOIN mr m ON m.day = g.day AND m.v = g.v
    ),
    pt AS (
      SELECT event_type, SUM(CAST(mid2 AS DECIMAL(38,0))) AS r2
      FROM ranked GROUP BY event_type
    ),
    gl AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM days) AS b,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM types) AS k,
             (SELECT SUM(CAST(mid2 AS DECIMAL(38,0)) * mid2)
              FROM ranked) AS ssq2
    ),
    num AS (
      SELECT gl.b, gl.k, gl.ssq2,
             SUM((pt.r2 - gl.b * (gl.k + 1))
                 * (pt.r2 - gl.b * (gl.k + 1))) AS s2
      FROM pt CROSS JOIN gl
      GROUP BY gl.b, gl.k, gl.ssq2
    )
    SELECT b AS n_blocks, k AS n_treatments,
           CAST(k - 1 AS BIGINT) AS df,
           CASE WHEN ssq2 - b * k * (k + 1) * (k + 1) > 0
                THEN round(CAST((k - 1) * s2 AS DOUBLE)
                           / CAST(ssq2 - b * k * (k + 1) * (k + 1)
                                  AS DOUBLE), 6)
                END AS chi2
    FROM num
    """,
)
def stats_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test: do the event types differ in revenue once the
    day-to-day level is blocked out? Each calendar day is a block;
    the k event types take within-block midranks of their daily
    revenue (absent combinations rank as zero revenue — the complete
    block the test requires); the tie-general statistic
    χ² = (k−1)·Σ_j(R_j − b(k+1)/2)² / (Σr² − bk(k+1)²/4) follows a
    χ²(k−1) under the null. The BLOCKED member of the rank-test
    suite: Kruskal-Wallis pools all days into one ranking and a
    day-level shock inflates its variance; Friedman ranks within each
    day, so only the type ORDERING matters.

    Exactness: with doubled midranks (2·cum − cnt + 1, exact
    integers), both numerator and denominator scale by 4 and cancel:
    χ² = (k−1)·Σ(R2_j − b(k+1))² / (Σ mid2² − b·k·(k+1)²) is ONE
    division of exact 38-digit-decimal integers, rounded at 6 dp
    (all-tied blocks make the denominator 0 → NULL on both engines).

    Scale: one (day, type) rollup is the only data-sized shuffle; the
    grid fill, within-day midranks (windows PARTITIONED by day — k
    rows per partition), and the k-row treatment reduction all run on
    the calendar×type-bounded frame."""
    ev = table(spark, sf_dir, "events")
    # r14 probe note: persisting cells/grid/ranked measured 1.2x
    # SLOWER (1.05 → 1.26 s floor) — the branch tree is already
    # deduplicated by runtime exchange reuse, so the persists only
    # added cache-materialization job barriers. Left unpersisted.
    cells = ev.groupBy(
        F.expr("CAST(ts AS DATE)").alias("day"), "event_type"
    ).agg(F.sum(F.expr(_VCENTS)).alias("v"))
    days = cells.select("day").distinct()
    types = cells.select("event_type").distinct()
    grid = (
        days.crossJoin(F.broadcast(types))
        .join(cells, ["day", "event_type"], "left")
        .withColumn("v", F.coalesce("v", F.lit(0)))
    )
    dv = grid.groupBy("day", "v").agg(F.count(F.lit(1)).alias("cl"))
    wd = Window.partitionBy("day").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    mr = dv.select(
        "day",
        "v",
        (2 * F.sum("cl").over(wd) - F.col("cl") + 1).alias("mid2"),
    )
    ranked = grid.join(mr, ["day", "v"]).select("event_type", "mid2")
    pt = ranked.groupBy("event_type").agg(
        F.sum(F.col("mid2").cast(_DEC38)).alias("r2")
    )
    gl = (
        days.agg(F.count(F.lit(1)).cast("long").alias("b"))
        .crossJoin(types.agg(F.count(F.lit(1)).cast("long").alias("k")))
        .crossJoin(
            ranked.agg(
                F.sum(F.col("mid2").cast(_DEC38) * F.col("mid2")).alias(
                    "ssq2"
                )
            )
        )
    )
    dev = F.col("r2") - F.col("b") * (F.col("k") + 1)
    num = pt.crossJoin(F.broadcast(gl)).groupBy("b", "k", "ssq2").agg(
        F.sum(dev * dev).alias("s2")
    )
    denom = F.col("ssq2") - F.col("b") * F.col("k") * (F.col("k") + 1) * (
        F.col("k") + 1
    )
    return num.select(
        F.col("b").alias("n_blocks"),
        F.col("k").alias("n_treatments"),
        (F.col("k") - 1).cast("long").alias("df"),
        F.when(
            denom > 0,
            F.round(
                ((F.col("k") - 1) * F.col("s2")).cast("double")
                / denom.cast("double"),
                6,
            ),
        ).alias("chi2"),
    )


# --------------------------------------------------------------------------
# stats_fleiss_kappa
# --------------------------------------------------------------------------

#: three deterministic binary raters over lineitem rows — discount,
#: tax and quantity each vote "flagged" independently, giving the
#: 3-rater agreement table Fleiss' kappa scores.
_FLEISS_R1 = "CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END"
_FLEISS_R2 = "CASE WHEN l_tax >= 0.04 THEN 1 ELSE 0 END"
_FLEISS_R3 = "CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END"


@query(
    "stats_fleiss_kappa",
    oracle=f"""
    WITH votes AS (
      SELECT ({_FLEISS_R1}) + ({_FLEISS_R2}) + ({_FLEISS_R3}) AS k
      FROM lineitem
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(k) AS BIGINT) AS sk,
             CAST(SUM(k * k + (3 - k) * (3 - k)) AS BIGINT) AS s2
      FROM votes
    )
    SELECT n, sk AS n_flag_votes,
           round((s2 - 3 * n) * 1.0 / (6 * n), 6) AS p_bar,
           round((sk * 1.0 / (3 * n)) * (sk * 1.0 / (3 * n))
                 + (1.0 - sk * 1.0 / (3 * n))
                   * (1.0 - sk * 1.0 / (3 * n)), 6) AS p_e,
           round(((s2 - 3 * n) * 1.0 / (6 * n)
                  - ((sk * 1.0 / (3 * n)) * (sk * 1.0 / (3 * n))
                     + (1.0 - sk * 1.0 / (3 * n))
                       * (1.0 - sk * 1.0 / (3 * n))))
                 / (1.0 - ((sk * 1.0 / (3 * n)) * (sk * 1.0 / (3 * n))
                           + (1.0 - sk * 1.0 / (3 * n))
                             * (1.0 - sk * 1.0 / (3 * n)))), 6)
             AS fleiss_kappa
    FROM s
    """,
)
def stats_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa for three deterministic binary raters voting per
    lineitem row (discount / tax / quantity flags): per-item agreement
    P_i = (Σ_j n_ij² − r)/(r(r−1)) with r = 3 collapses to exact
    integer sums (Σk, Σ[k² + (3−k)²]), chance agreement P_e comes from
    the pooled category proportions, and kappa = (P̄ − P_e)/(1 − P_e)
    — the multi-rater generalization of ml_cohens_kappa, the score an
    annotation pipeline with >2 labelers reports.

    Determinism: every input to the final expression is an exact
    int64 sum from ONE map-side-combined aggregation; the kappa
    expression is mirrored verbatim. Scale: single scan, 1-row
    aggregate."""
    li = table(spark, sf_dir, "lineitem")
    k = (F.expr(_FLEISS_R1) + F.expr(_FLEISS_R2) + F.expr(_FLEISS_R3)).alias(
        "k"
    )
    s = li.select(k).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sk"),
        F.sum(F.col("k") * F.col("k") + (3 - F.col("k")) * (3 - F.col("k"))).alias(
            "s2"
        ),
    )
    n = F.col("n").cast("double")
    p1 = F.col("sk") * F.lit(1.0) / (F.lit(3.0) * n)
    p_bar = (F.col("s2") - 3 * F.col("n")) * F.lit(1.0) / (F.lit(6.0) * n)
    p_e = p1 * p1 + (F.lit(1.0) - p1) * (F.lit(1.0) - p1)
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.col("sk").cast("long").alias("n_flag_votes"),
        F.round(p_bar, 6).alias("p_bar"),
        F.round(p_e, 6).alias("p_e"),
        F.round((p_bar - p_e) / (F.lit(1.0) - p_e), 6).alias("fleiss_kappa"),
    )


# --------------------------------------------------------------------------
# stats_krippendorff_alpha
# --------------------------------------------------------------------------


@query(
    "stats_krippendorff_alpha",
    oracle=f"""
    WITH votes AS (
      SELECT ({_FLEISS_R1}) + ({_FLEISS_R2}) + ({_FLEISS_R3}) AS k
      FROM lineitem
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(k) AS BIGINT) AS n1,
             CAST(SUM(k * (3 - k)) AS BIGINT) AS dis
      FROM votes
    )
    SELECT n, n1 AS n_flag_votes,
           round(dis * 1.0 / (3 * n), 6) AS d_obs,
           round(2.0 * n1 * (3 * n - n1)
                 / (CAST(3 * n AS DOUBLE) * (3 * n - 1)), 6) AS d_exp,
           round(1.0 - (dis * 1.0 / (3 * n))
                 / (2.0 * n1 * (3 * n - n1)
                    / (CAST(3 * n AS DOUBLE) * (3 * n - 1))), 6)
             AS kripp_alpha
    FROM s
    """,
)
def stats_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (nominal data, 3 raters per item, no
    missing votes) for the same three deterministic raters
    stats_fleiss_kappa scores: α = 1 − D_o/D_e with observed
    disagreement D_o = Σ k(3−k)/(3N) (disagreeing rater pairs per
    item over the 3 pairs) and expected disagreement from the pooled
    vote margins WITH the finite-sample correction M(M−1) — the
    difference from Fleiss' π-style chance term, and the reason
    content-analysis work reports α when vote counts are small.

    Determinism: two exact int64 sums; the α expression is mirrored
    verbatim and rounded 6 dp. Scale: single scan, 1-row aggregate —
    the agreement tier (Cohen → Fleiss → Krippendorff → Cochran) all
    run on one combiner-reduced pass each."""
    li = table(spark, sf_dir, "lineitem")
    k = (F.expr(_FLEISS_R1) + F.expr(_FLEISS_R2) + F.expr(_FLEISS_R3)).alias(
        "k"
    )
    s = li.select(k).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("n1"),
        F.sum(F.col("k") * (3 - F.col("k"))).alias("dis"),
    )
    n = F.col("n")
    m = (3 * n).cast("double")
    d_obs = F.col("dis") * F.lit(1.0) / (3 * n)
    d_exp = (
        F.lit(2.0)
        * F.col("n1")
        * (3 * n - F.col("n1"))
        / (m * (3 * n - 1))
    )
    return s.select(
        n.cast("long").alias("n"),
        F.col("n1").cast("long").alias("n_flag_votes"),
        F.round(d_obs, 6).alias("d_obs"),
        F.round(d_exp, 6).alias("d_exp"),
        F.round(F.lit(1.0) - d_obs / d_exp, 6).alias("kripp_alpha"),
    )


# --------------------------------------------------------------------------
# stats_cochran_q
# --------------------------------------------------------------------------


@query(
    "stats_cochran_q",
    oracle=f"""
    WITH votes AS (
      SELECT {_FLEISS_R1} AS r1, {_FLEISS_R2} AS r2, {_FLEISS_R3} AS r3
      FROM lineitem
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(r1) AS BIGINT) AS c1,
             CAST(SUM(r2) AS BIGINT) AS c2,
             CAST(SUM(r3) AS BIGINT) AS c3,
             CAST(SUM(r1 + r2 + r3) AS BIGINT) AS sr,
             CAST(SUM((r1 + r2 + r3) * (r1 + r2 + r3)) AS BIGINT) AS sr2
      FROM votes
    )
    SELECT n, c1, c2, c3,
           round(2.0 * (3.0 * (c1 * c1 + c2 * c2 + c3 * c3)
                        - CAST(sr AS DOUBLE) * sr)
                 / (3.0 * sr - sr2), 6) AS cochran_q,
           CAST(2 AS INT) AS df
    FROM s
    """,
)
def stats_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q for the three binary flags as k = 3 matched
    "treatments" over the same lineitem blocks: Q = (k−1)(kΣCⱼ² −
    (ΣCⱼ)²)/(kΣRᵢ − ΣRᵢ²) — the k-sample generalization of McNemar's
    test (``ml_mcnemar_paired``), asking whether the three flag rates
    differ at all before any pairwise comparison is run. χ² with k−1 =
    2 df under H₀.

    Determinism: every term is an exact int64 sum from one
    combiner-reduced pass; the Q expression is mirrored (the ΣRᵢ²
    cross-term stays integer: (r1+r2+r3)² ≤ 9). Scale: single scan,
    1-row aggregate."""
    li = table(spark, sf_dir, "lineitem")
    s = li.select(
        F.expr(_FLEISS_R1).alias("r1"),
        F.expr(_FLEISS_R2).alias("r2"),
        F.expr(_FLEISS_R3).alias("r3"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r1").alias("c1"),
        F.sum("r2").alias("c2"),
        F.sum("r3").alias("c3"),
        F.sum(F.col("r1") + F.col("r2") + F.col("r3")).alias("sr"),
        F.sum(
            (F.col("r1") + F.col("r2") + F.col("r3"))
            * (F.col("r1") + F.col("r2") + F.col("r3"))
        ).alias("sr2"),
    )
    q = (
        F.lit(2.0)
        * (
            F.lit(3.0)
            * (
                F.col("c1") * F.col("c1")
                + F.col("c2") * F.col("c2")
                + F.col("c3") * F.col("c3")
            )
            - F.col("sr").cast("double") * F.col("sr")
        )
        / (F.lit(3.0) * F.col("sr") - F.col("sr2"))
    )
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.col("c1").cast("long").alias("c1"),
        F.col("c2").cast("long").alias("c2"),
        F.col("c3").cast("long").alias("c3"),
        F.round(q, 6).alias("cochran_q"),
        F.lit(2).cast("int").alias("df"),
    )
