"""Privacy operators: anonymization, disclosure audits and
differential-privacy release mechanisms.

L-diversity (``anon_l_diversity``) is the privacy audit k-anonymity
alone can't give.

Parity strategy as usual: exact integer counting everywhere possible,
decimal-routed sums for money, one final double expression rounded at
6 dp.

- ``anon_ldp_frequency``: local-differential-privacy frequency
  estimation by k-ary randomized response (ε = ln 3) with a
  deterministic integer-hash coin and the exact closed-form debiasing
  the integer parameters admit — the LDP member of the privacy tier
  next to k-anonymity / l-diversity.

- ``anon_dp_geometric_histogram``: ε = ln 3 central-DP count release
  via the truncated two-sided geometric mechanism with an exact
  integer inverse-CDF on a deterministic hash coin — the central
  sibling of anon_ldp_frequency.

- ``anon_t_closeness``: t-closeness audit (Li et al. 2007) of the
  account-balance distribution inside each quasi-identifier class via
  the ordered-attribute Earth-Mover's Distance — the release gate one
  step past k-anonymity (anon_k_anonymity_report) and l-diversity
  (anon_l_diversity): a class can be k-anonymous and diverse yet still
  leak because its sensitive DISTRIBUTION diverges from the global one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_sample_spark.functions.determinism import _DEC38
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table


#: k-anonymity thresholds to report (the privacy-review standard asks)
_KANON_KS = (2, 5, 10)


@query(
    "anon_k_anonymity_report",
    oracle=f"""
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 100) AS BIGINT) AS bal_band,
             COUNT(*) AS cnt
      FROM customer
      GROUP BY c_nationkey, c_mktsegment, CAST(FLOOR(c_acctbal / 100) AS BIGINT)
    ),
    ks AS (SELECT UNNEST([{", ".join(map(str, _KANON_KS))}]) AS k)
    SELECT k AS k_threshold,
           (SELECT COUNT(*) FROM classes) AS n_classes,
           (SELECT MIN(cnt) FROM classes) AS min_class_size,
           COUNT(CASE WHEN cnt < k THEN 1 END) AS n_classes_below,
           COALESCE(CAST(SUM(CASE WHEN cnt < k THEN cnt END) AS BIGINT), 0)
             AS n_rows_at_risk
    FROM ks CROSS JOIN classes
    GROUP BY k
    """,
)
def anon_k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: equivalence classes over the quasi-identifier
    tuple (nation, market segment, account-balance band of 100) and,
    per privacy threshold k ∈ {2, 5, 10}, how many classes fall below k
    and how many ROWS sit in them — the re-identification risk report a
    privacy review demands before any dataset release (a row alone in
    its QI class is linkable by anyone holding those attributes).

    Everything is exact integer counting; the balance band floors a
    2-dp value at integer-safe distance from band edges. Scale: one
    partial-agg shuffle on the QI tuple, then a 3-row broadcast of the
    thresholds over the (bounded: |nations|·|segments|·|bands|) class
    frame."""
    c = table(spark, sf_dir, "customer")
    classes = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 100).cast("bigint").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    totals = classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("cnt").alias("min_class_size"),
    )
    ks = spark.createDataFrame([(k,) for k in _KANON_KS], "k int")
    return (
        F.broadcast(ks)
        .crossJoin(classes)
        .groupBy(F.col("k").alias("k_threshold"))
        .agg(
            F.count(F.when(F.col("cnt") < F.col("k"), 1)).alias(
                "n_classes_below"
            ),
            F.coalesce(
                F.sum(F.when(F.col("cnt") < F.col("k"), F.col("cnt"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_rows_at_risk"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "k_threshold",
            "n_classes",
            "min_class_size",
            "n_classes_below",
            "n_rows_at_risk",
        )
    )


#: l-diversity thresholds: a QI class whose sensitive attribute shows
#: fewer than l distinct values leaks that attribute even when k-anon
#: passes (homogeneity attack).
_LDIV_LS = (2, 3)


@query(
    "anon_l_diversity",
    oracle=f"""
    WITH classes AS (
      SELECT c_nationkey,
             CAST(FLOOR(c_acctbal / 500) AS BIGINT) AS bal_band,
             COUNT(*) AS cnt,
             COUNT(DISTINCT c_mktsegment) AS n_sensitive
      FROM customer
      GROUP BY c_nationkey, CAST(FLOOR(c_acctbal / 500) AS BIGINT)
    ),
    ls AS (SELECT UNNEST([{", ".join(map(str, _LDIV_LS))}]) AS l)
    SELECT l AS l_threshold,
           (SELECT COUNT(*) FROM classes) AS n_classes,
           (SELECT MIN(n_sensitive) FROM classes) AS min_diversity,
           COUNT(CASE WHEN n_sensitive < l THEN 1 END) AS n_classes_below,
           COALESCE(CAST(SUM(CASE WHEN n_sensitive < l THEN cnt END)
                         AS BIGINT), 0) AS n_rows_at_risk
    FROM ls CROSS JOIN classes
    GROUP BY l
    """,
)
def anon_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit over QI classes (nation, balance band of 500)
    with market segment as the SENSITIVE attribute: a class can satisfy
    k-anonymity yet still leak — if all 10 people in it share one
    segment, knowing the QI reveals the segment (homogeneity attack).
    Reports, per l ∈ {2, 3}, the classes whose sensitive attribute has
    fewer than l distinct values and the rows inside them.

    Exact integer counting throughout; COUNT(DISTINCT) per class is the
    only two-phase aggregate. Complements anon_k_anonymity_report —
    same report shape, orthogonal privacy property. Scale: one shuffle
    on the QI tuple, thresholds broadcast over the bounded class
    frame."""
    c = table(spark, sf_dir, "customer")
    classes = c.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 500).cast("bigint").alias("bal_band"),
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count_distinct("c_mktsegment").alias("n_sensitive"),
    )
    totals = classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("n_sensitive").alias("min_diversity"),
    )
    ls = spark.createDataFrame([(v,) for v in _LDIV_LS], "l int")
    return (
        F.broadcast(ls)
        .crossJoin(classes)
        .groupBy(F.col("l").alias("l_threshold"))
        .agg(
            F.count(F.when(F.col("n_sensitive") < F.col("l"), 1)).alias(
                "n_classes_below"
            ),
            F.coalesce(
                F.sum(F.when(F.col("n_sensitive") < F.col("l"), F.col("cnt"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_rows_at_risk"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "l_threshold",
            "n_classes",
            "min_diversity",
            "n_classes_below",
            "n_rows_at_risk",
        )
    )


# ---------------------------------------------------------------------------
# anon_ldp_frequency
# ---------------------------------------------------------------------------

#: fixed alphabet of the randomized response (sorted event types);
#: index order is part of the mechanism's definition in BOTH engines
_LDP_CATS = ("click", "error", "purchase", "signup", "view")
_LDP_D = len(_LDP_CATS)
#: ε = ln 3 ⇒ keep-probability p = e^ε/(e^ε+d−1) = 3/7 — the integer
#: threshold u·7 < 3·M makes the coin exact (no float compare)
_LDP_M = 1000003

_LDP_CASE_IDX = "CASE event_type " + " ".join(
    f"WHEN '{c}' THEN {i}" for i, c in enumerate(_LDP_CATS)
) + " END"
_LDP_CASE_CAT = "CASE r " + " ".join(
    f"WHEN {i} THEN '{c}'" for i, c in enumerate(_LDP_CATS)
) + " END"


@query(
    "anon_ldp_frequency",
    oracle=f"""
    WITH base AS (
      SELECT {_LDP_CASE_IDX} AS t,
             ((event_id % 3221225473) * 2654435761) % {_LDP_M} AS u
      FROM events
    ),
    reported AS (
      SELECT CASE WHEN u * 7 < 3 * {_LDP_M} THEN t
                  WHEN u % {_LDP_D - 1} < t THEN u % {_LDP_D - 1}
                  ELSE u % {_LDP_D - 1} + 1 END AS r
      FROM base
    ),
    obs AS (
      SELECT {_LDP_CASE_CAT} AS event_type, COUNT(*) AS observed_n
      FROM reported GROUP BY r
    ),
    tru AS (
      SELECT event_type, COUNT(*) AS true_n FROM events GROUP BY event_type
    ),
    tot AS (SELECT COUNT(*) AS n FROM events)
    SELECT o.event_type, t.true_n, o.observed_n,
           round((7 * o.observed_n - (SELECT n FROM tot)) / 2.0, 2)
             AS estimated_n
    FROM obs o JOIN tru t USING (event_type)
    """,
)
def anon_ldp_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-differential-privacy frequency release: k-ary randomized
    response over event_type at ε = ln 3 — each event keeps its true
    category with probability 3/7, else reports one of the other 4
    uniformly — then the unbiased frequency estimator
    n̂_c = (obs_c − N·q)/(p − q), which the integer parameters reduce
    to (7·obs_c − N)/2 exactly. true_n rides along so the release
    error is inspectable at fixture scale.

    Determinism: the coin is the repo's audited multiplicative hash of
    event_id (a scanned site of the ansi-edges overflow sweep); the
    keep/flip decision is the INTEGER comparison u·7 < 3M and the flip
    target u mod (d−1) skip-mapped over the alphabet — no float enters
    until the single final division by 2.

    Scale (r14 reshape, guide §1.2): ONE map-side-combined groupBy on
    (true category, reported category) — ≤ d² = 25 groups — feeds the
    observed rollup, the true rollup AND the total, replacing three
    separate passes over events; no shuffle carries more than
    (category pair, count). The mechanism itself is embarrassingly
    map-only, exactly how LDP collection behaves on-device at fleet
    scale."""
    ev = table(spark, sf_dir, "events")
    t = F.expr(_LDP_CASE_IDX)
    u = ((F.col("event_id") % 3221225473) * 2654435761) % _LDP_M
    base = ev.select("event_type", t.alias("t"), u.alias("u"))
    r = (
        F.when(F.col("u") * 7 < 3 * _LDP_M, F.col("t"))
        .when(F.col("u") % (_LDP_D - 1) < F.col("t"), F.col("u") % (_LDP_D - 1))
        .otherwise(F.col("u") % (_LDP_D - 1) + 1)
    )
    cnt = (
        base.select("event_type", r.alias("r"))
        .groupBy("event_type", "r")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    obs = (
        cnt.groupBy("r")
        .agg(F.sum("c").alias("observed_n"))
        .select(F.expr(_LDP_CASE_CAT).alias("event_type"), "observed_n")
    )
    tru = cnt.groupBy("event_type").agg(F.sum("c").alias("true_n"))
    tot = cnt.agg(F.sum("c").alias("n"))
    return (
        obs.join(tru, "event_type")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "true_n",
            "observed_n",
            F.round((7 * F.col("observed_n") - F.col("n")) / 2.0, 2).alias(
                "estimated_n"
            ),
        )
    )


# ---------------------------------------------------------------------------
# anon_dp_geometric_histogram
# ---------------------------------------------------------------------------

#: ε = ln 3 ⇒ α = e^−ε = 1/3; the truncated (|k| ≤ 3) two-sided
#: geometric puts mass {27, 9, 9, 3, 3, 1, 1}/54 on {0, ±1, ±2, ±3}
#: (the untruncated tail's 1/54 folds into k = 0 — documented bias,
#: standard for bounded-noise count release). Thresholds are exact
#: 54ths, so the coin comparison is pure integer arithmetic.
_DP_M = 1000003


@query(
    "anon_dp_geometric_histogram",
    oracle=f"""
    WITH tru AS (
      SELECT event_type, COUNT(*) AS true_n FROM events GROUP BY event_type
    ),
    coin AS (
      SELECT event_type, true_n,
             CAST(('0x' || substr(sha256(event_type), 1, 12)) AS BIGINT)
               % {_DP_M} AS u
      FROM tru
    ),
    noised AS (
      SELECT event_type, true_n,
             CASE WHEN 54 * u < 28 * {_DP_M} THEN 0
                  WHEN 54 * u < 37 * {_DP_M} THEN 1
                  WHEN 54 * u < 46 * {_DP_M} THEN -1
                  WHEN 54 * u < 49 * {_DP_M} THEN 2
                  WHEN 54 * u < 52 * {_DP_M} THEN -2
                  WHEN 54 * u < 53 * {_DP_M} THEN 3
                  ELSE -3 END AS noise_k
      FROM coin
    )
    SELECT event_type, true_n, noise_k,
           GREATEST(true_n + noise_k, 0) AS released_n
    FROM noised
    """,
)
def anon_dp_geometric_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Central-DP histogram release at ε = ln 3: per-event-type counts
    plus truncated two-sided geometric noise (the discrete Laplace a
    count release actually uses — integer noise for integer counts),
    clamped at zero. The companion of anon_ldp_frequency from the
    trusted-curator side of the privacy spectrum.

    The noise draw is an exact integer inverse-CDF: the mechanism's
    probabilities at α = 1/3 truncated to |k| ≤ 3 are exact 54ths
    ({{27+1, 9, 9, 3, 3, 1, 1}}/54 with the tail folded into k = 0), so
    ``54·u < c·M`` comparisons on a sha256-derived coin decide the draw
    with no float anywhere. Deterministic across engines and runs —
    the release is replayable, which is what makes it hash-checkable
    (a production system would swap the coin for a sealed RNG; the
    MECHANISM — sensitivity-1 counts + geometric noise + clamp — is
    what this operator demonstrates).

    Scale: one map-side-combined groupBy to |event_types| rows; the
    noise is per-CATEGORY, so everything after the count is constant
    work."""
    ev = table(spark, sf_dir, "events")
    tru = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("true_n"))
    u = (
        F.conv(F.substring(F.sha2(F.col("event_type"), 256), 1, 12), 16, 10)
        .cast("bigint")
        % _DP_M
    )
    m = _DP_M
    noise = (
        F.when(54 * u < 28 * m, 0)
        .when(54 * u < 37 * m, 1)
        .when(54 * u < 46 * m, -1)
        .when(54 * u < 49 * m, 2)
        .when(54 * u < 52 * m, -2)
        .when(54 * u < 53 * m, 3)
        .otherwise(-3)
    )
    return tru.select(
        "event_type",
        "true_n",
        noise.alias("noise_k"),
        F.greatest(F.col("true_n") + noise, F.lit(0)).alias("released_n"),
    )


# ---------------------------------------------------------------------------
# anon_t_closeness
# ---------------------------------------------------------------------------


@query(
    "anon_t_closeness",
    oracle="""
    WITH base AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS b
      FROM customer
    ),
    cb AS (
      SELECT c_nationkey, c_mktsegment, b, COUNT(*) AS cc
      FROM base GROUP BY 1, 2, 3
    ),
    cls AS (
      SELECT c_nationkey, c_mktsegment, SUM(cc) AS n_c
      FROM cb GROUP BY 1, 2
    ),
    gb AS (SELECT b, SUM(cc) AS g FROM cb GROUP BY b),
    tot AS (SELECT CAST(SUM(g) AS BIGINT) AS n,
                   COUNT(*) AS m FROM gb),
    grid AS (
      SELECT cls.c_nationkey, cls.c_mktsegment, cls.n_c, gb.b, gb.g,
             COALESCE(cb.cc, 0) AS cc
      FROM cls CROSS JOIN gb
      LEFT JOIN cb ON cb.c_nationkey = cls.c_nationkey
                  AND cb.c_mktsegment = cls.c_mktsegment
                  AND cb.b = gb.b
    ),
    cum AS (
      SELECT c_nationkey, c_mktsegment, n_c,
             SUM(CAST(cc AS DECIMAL(38,0)) * (SELECT n FROM tot)
                 - CAST(g AS DECIMAL(38,0)) * n_c)
               OVER (PARTITION BY c_nationkey, c_mktsegment
                     ORDER BY b
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumdiff
      FROM grid
    )
    SELECT c_nationkey, c_mktsegment, CAST(MAX(n_c) AS BIGINT) AS n_rows,
           round(CAST(SUM(ABS(cumdiff)) AS DOUBLE)
                 / CAST((CAST((SELECT m FROM tot) - 1 AS DECIMAL(38,0)))
                        * MAX(n_c) * (SELECT n FROM tot) AS DOUBLE),
                 6) AS t_closeness
    FROM cum GROUP BY c_nationkey, c_mktsegment
    """,
)
def anon_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit: per quasi-identifier class (nation, market
    segment), the Earth-Mover's Distance between the class's
    account-balance distribution and the GLOBAL one over the m ordered
    1000-unit balance bands — Li et al.'s ordered-attribute EMD,
    t = (1/(m-1)) * sum_i |sum_{j<=i} (p_j - q_j)|. The disclosure a class
    with t near 1 makes is exactly what k-anonymity and l-diversity
    certify nothing about: an attacker learns the class's skewed
    balance profile even without re-identifying anyone.

    Exactness: multiply the cumulative differences through by n_c·n so
    every term is an integer — cum_i = sum_{j<=i} (cc_j*n - g_j*n_c) in
    38-digit decimals (int64-unsafe beyond ~10^9 rows, so the wide
    accumulator from the start), and t = Σ|cum_i| / ((m−1)·n_c·n) is
    ONE division of exact integers, rounded 6 dp.

    Scale: one groupBy on (QI, band) — the only data-sized shuffle —
    then everything operates on the bounded classes×bands grid
    (|nations|·|segments|·m rows) with broadcast band totals; the
    per-class cumulative window partitions on the class key."""
    c = table(spark, sf_dir, "customer")
    base = c.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("b"),
    )
    cb = base.groupBy("c_nationkey", "c_mktsegment", "b").agg(
        F.count(F.lit(1)).alias("cc")
    )
    cls = cb.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("cc").alias("n_c")
    )
    gb = cb.groupBy("b").agg(F.sum("cc").alias("g"))
    tot = gb.agg(
        F.sum("g").cast("long").alias("n"), F.count(F.lit(1)).alias("m")
    )
    grid = (
        cls.crossJoin(F.broadcast(gb))
        .join(cb, ["c_nationkey", "c_mktsegment", "b"], "left")
        .withColumn("cc", F.coalesce("cc", F.lit(0)))
        .crossJoin(F.broadcast(tot))
    )
    w = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.withColumn(
        "cumdiff",
        F.sum(
            F.col("cc").cast(_DEC38) * F.col("n")
            - F.col("g").cast(_DEC38) * F.col("n_c")
        ).over(w),
    )
    return cum.groupBy("c_nationkey", "c_mktsegment").agg(
        F.max("n_c").cast("long").alias("n_rows"),
        F.round(
            F.sum(F.abs("cumdiff")).cast("double")
            / (
                (F.max("m") - 1).cast(_DEC38)
                * F.max("n_c")
                * F.max("n")
            ).cast("double"),
            6,
        ).alias("t_closeness"),
    )
