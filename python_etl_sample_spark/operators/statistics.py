"""Statistical aggregates beyond agg_stats: exact quantiles,
deterministic mode, higher moments (skewness/kurtosis), ordered string
aggregation, z-score outlier detection, and stratified sampling.

Engine-parity ground rules (functions/determinism.py):

- l_quantity is integer-valued (≤ ~51), so its powers up to x⁴ are
  exact BIGINTs whose sums stay far inside int64 — the higher moments
  use plain integer sums, the strongest possible cross-engine base.
- Interpolated quantiles follow the shared definition (linear at rank
  q·(n-1)) in Spark's ``percentile`` and DuckDB's ``quantile_cont``;
  outputs are rounded to 6 dp so the last-ulp of the interpolation
  arithmetic can never reach the hash.
- Mode is NOT Spark's ``mode()`` (tie order undefined) — both engines
  rank (count DESC, value ASC) and take row 1, so ties are law, not
  luck.
- Derived ratios (z-scores, skew/kurt) combine exact sums in double
  with the association mirrored textually in the oracle, rounded 6 dp.

- ``sample_balanced_downsample``: exact class-balanced downsampling —
  keep the m = min-class-count hash-first rows of EACH label so a
  skewed binary target trains on a 50:50 sample, via one stacked
  total-order kernel pass (no per-class single-task window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_sample_spark.functions.determinism import dsum, dsum_sql
from python_etl_sample_spark.functions.total_order import (
    attach_global_order,
    ntile_from_rank,
)
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table


@query(
    "agg_percentile_exact",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25,
           ROUND(quantile_cont(l_quantity, 0.50), 6) AS p50,
           ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75,
           ROUND(quantile_cont(l_quantity, 0.99), 6) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles of quantity per return flag —
    the ground truth agg_approx_quantile's sketch is graded against.

    Scale: exact percentile must see every value — Spark's
    ``percentile`` buffers each group's values on the reducer, which is
    fine for bounded-cardinality numeric domains (qty has ~50 distinct
    values; the digest is a counting map, not the row set). For
    unbounded domains at 100 TB, approx_percentile (agg_approx_quantile)
    is the path; this operator is its accuracy oracle."""
    li = table(spark, sf_dir, "lineitem")
    pct = F.expr("percentile(l_quantity, array(0.25, 0.50, 0.75, 0.99))")
    return (
        li.groupBy("l_returnflag")
        .agg(pct.alias("p"))
        .select(
            "l_returnflag",
            F.round(F.col("p")[0], 6).alias("p25"),
            F.round(F.col("p")[1], 6).alias("p50"),
            F.round(F.col("p")[2], 6).alias("p75"),
            F.round(F.col("p")[3], 6).alias("p99"),
        )
    )


@query(
    "agg_mode_deterministic",
    oracle="""
    WITH counts AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    ), ranked AS (
      SELECT o_orderstatus, o_orderpriority, cnt,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                ORDER BY cnt DESC, o_orderpriority) AS rn
      FROM counts
    )
    SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt
    FROM ranked WHERE rn = 1
    """,
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent order priority per status, with the tie broken
    lexicographically — a deterministic MODE().

    Built-in ``mode()`` leaves tie order engine-defined, so both sides
    rank (count DESC, value ASC) explicitly instead. Scale: the rank
    runs over the ~25-row count table, not the raw rows; the heavy step
    is the map-side-combined groupBy."""
    o = table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("cnt"), F.asc("o_orderpriority")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            "cnt",
        )
    )


def _moments_sql() -> dict[str, str]:
    q = "CAST(l_quantity AS BIGINT)"
    return {
        "n": "CAST(COUNT(*) AS DOUBLE)",
        "s1": f"CAST(SUM({q}) AS DOUBLE)",
        "s2": f"CAST(SUM({q} * {q}) AS DOUBLE)",
        "s3": f"CAST(SUM({q} * {q} * {q}) AS DOUBLE)",
        "s4": f"CAST(SUM({q} * {q} * {q} * {q}) AS DOUBLE)",
    }


_SKEW_KURT_SQL = """
    WITH sums AS (
      SELECT l_returnflag, {n} AS n, {s1} AS s1, {s2} AS s2, {s3} AS s3, {s4} AS s4
      FROM lineitem GROUP BY l_returnflag
    ), mom AS (
      SELECT l_returnflag, n, s1 / n AS mu,
             s2 / n - (s1 / n) * (s1 / n) AS m2,
             s3 / n - 3.0 * (s1 / n) * (s2 / n)
                  + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
             s4 / n - 4.0 * (s1 / n) * (s3 / n)
                  + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
                  - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
      FROM sums
    )
    SELECT l_returnflag, ROUND(mu, 6) AS mean_qty,
           ROUND(m3 / (SQRT(m2) * SQRT(m2) * SQRT(m2)), 6) AS skewness,
           ROUND(m4 / (m2 * m2) - 3.0, 6) AS kurtosis_excess
    FROM mom
""".format(**_moments_sql())


@query("agg_skew_kurt", oracle=_SKEW_KURT_SQL)
def agg_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and excess kurtosis of quantity per return flag, from
    EXACT integer power sums (qty is integer-valued, Σx⁴ ≪ 2⁶³).

    Why not F.skewness/F.kurtosis: their single-pass float accumulation
    is partition-order-dependent — two runs of the same engine can
    disagree in the last bits, let alone two engines. Four exact int64
    sums are order-free; the central-moment algebra then runs in double
    with every association mirrored in the oracle text. Scale: one
    map-side-combined aggregate, four extra longs of state per group."""
    li = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q).cast("double").alias("s1"),
        F.sum(q * q).cast("double").alias("s2"),
        F.sum(q * q * q).cast("double").alias("s3"),
        F.sum(q * q * q * q).cast("double").alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    mu = s1 / n
    m2 = s2 / n - mu * mu
    m3 = s3 / n - F.lit(3.0) * mu * (s2 / n) + F.lit(2.0) * mu * mu * mu
    m4 = (
        s4 / n
        - F.lit(4.0) * mu * (s3 / n)
        + F.lit(6.0) * mu * mu * (s2 / n)
        - F.lit(3.0) * mu * mu * mu * mu
    )
    return sums.select(
        "l_returnflag",
        F.round(mu, 6).alias("mean_qty"),
        F.round(m3 / (F.sqrt(m2) * F.sqrt(m2) * F.sqrt(m2)), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - F.lit(3.0), 6).alias("kurtosis_excess"),
    )


@query(
    "agg_listagg_ordered",
    oracle="""
    SELECT n.n_regionkey, r.r_name, COUNT(*) AS n_nations,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_regionkey, r.r_name
    """,
)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg): nation names
    per region as one comma-joined, name-ordered string.

    collect_list's arrival order is partition-dependent, so the value
    is sorted BEFORE joining — array_sort's binary ordering equals the
    oracle's ORDER BY on these ASCII names. Scale: collect_list is safe
    only for bounded groups (≤ ~25 here); unbounded text aggregation at
    100 TB should stay relational instead (see text_pack_sequences)."""
    n = table(spark, sf_dir, "nation")
    r = F.broadcast(table(spark, sf_dir, "region"))
    return (
        n.join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_regionkey", "r_name")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            ),
        )
    )


# z = (x - μ) / σ with μ, σ from exact decimal sums; the one-row stats
# frame broadcasts into the filter. Σx² uses the IEEE square (identical
# in both engines) cast once to decimal — the defined transform dsum
# applies to any double.
_ZSCORE_SQL = f"""
    WITH stats AS (
      SELECT event_type,
             COUNT(*) AS n,
             {dsum_sql('value')} AS s1,
             {dsum_sql('value * value')} AS s2
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           ROUND((e.value - s.s1 / s.n) /
                 SQRT(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n)), 6) AS zscore
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE ABS((e.value - s.s1 / s.n) /
              SQRT(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n))) > 3.0
"""


@query("stats_zscore_outliers", oracle=_ZSCORE_SQL)
def stats_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outliers (|z| > 3) — the numeric-column
    anomaly screen of a data-quality pipeline.

    Scale: the per-type stats are ONE map-side-combined aggregate (a
    handful of rows) broadcast back onto the events scan — the raw
    table is read once and never shuffled. The filter and the emitted
    score share one expression, so the boundary row set is exactly the
    rounded-score set in both engines."""
    ev = table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("s1"),
        dsum(F.col("value") * F.col("value")).alias("s2"),
    )
    mu = F.col("s1") / F.col("n")
    sigma = F.sqrt(F.col("s2") / F.col("n") - mu * mu)
    z = (F.col("value") - mu) / sigma
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 3.0)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(z, 6).alias("zscore"),
        )
    )


@query(
    "sample_stratified",
    oracle=f"""
    WITH sampled AS (
      SELECT c_mktsegment, c_acctbal
      FROM customer
      WHERE (c_custkey % 1000003) * 31 % 100 <
            CASE c_mktsegment WHEN 'BUILDING' THEN 20
                              WHEN 'AUTOMOBILE' THEN 10
                              ELSE 5 END
    )
    SELECT c_mktsegment, COUNT(*) AS n_sampled,
           {dsum_sql('c_acctbal')} AS bal_sampled
    FROM sampled GROUP BY c_mktsegment
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-segment rates (20/10/5%)
    applied through the same key-derived modular hash as sample_split —
    reproducible across engines, partitionings, and reruns, unlike
    rand(seed).

    Scale: a map-only filter (the rate CASE folds to a constant per
    row) followed by one small aggregate; nothing shuffles but the
    per-segment partial counts."""
    c = table(spark, sf_dir, "customer")
    bucket = (F.col("c_custkey") % 1000003) * 31 % 100
    rate = (
        F.when(F.col("c_mktsegment") == "BUILDING", 20)
        .when(F.col("c_mktsegment") == "AUTOMOBILE", 10)
        .otherwise(5)
    )
    return (
        c.filter(bucket < rate)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            dsum("c_acctbal").alias("bal_sampled"),
        )
    )


_MAD_SQL = """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ), dev AS (
      SELECT e.event_type, m.med, ABS(e.value - m.med) AS d
      FROM events e JOIN med m ON e.event_type = m.event_type
    ), mad AS (
      SELECT event_type, ANY_VALUE(med) AS med,
             quantile_cont(d, 0.5) AS mad, COUNT(*) AS n
      FROM dev GROUP BY event_type
    )
    SELECT v.event_type, ROUND(v.med, 6) AS median_value,
           ROUND(v.mad, 6) AS mad,
           COUNT(*) FILTER (WHERE dev.d > 3.0 * 1.4826 * v.mad) AS n_outliers
    FROM mad v JOIN dev ON dev.event_type = v.event_type
    GROUP BY v.event_type, v.med, v.mad
"""


@query("ts_mad_outliers", oracle=_MAD_SQL)
def ts_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen: per event type, the median / MAD scale
    estimate and how many events exceed 3 robust sigmas (1.4826·MAD) —
    the screen that, unlike stats_zscore_outliers, is not itself
    dragged by the outliers it hunts.

    Parity: both engines use interpolated medians (percentile /
    quantile_cont share the linear-at-rank-q·(n-1) definition; verified
    bit-compatible by agg_percentile_exact) and the threshold compare
    runs on identically-derived doubles. Scale: two aggregate passes
    over events with the tiny per-type frames broadcast back — exact
    medians buffer per-group value multisets on reducers, so at 100 TB
    swap in approx_percentile the same way agg_approx_quantile pairs
    with agg_percentile_exact."""
    ev = table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("d")
    )
    mad = dev.groupBy("event_type").agg(
        F.first("med").alias("med2"),
        F.expr("percentile(d, 0.5)").alias("mad"),
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med2", "mad")
        .agg(
            F.count(F.when(F.col("d") > 3.0 * 1.4826 * F.col("mad"), 1)).alias(
                "n_outliers"
            )
        )
        .select(
            "event_type",
            F.round(F.col("med2"), 6).alias("median_value"),
            F.round(F.col("mad"), 6).alias("mad"),
            "n_outliers",
        )
    )


@query(
    "sample_reservoir_per_key",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY (event_id % 100000) * 2654435761 % 1000003, event_id
             ) AS rk
      FROM events
    )
    SELECT user_id, COUNT(*) AS n_sampled,
           {dsum_sql('value')} AS value_sampled
    FROM ranked WHERE rk <= 10 GROUP BY user_id
    """,
)
def sample_reservoir_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic bounded per-key sample — at most 10 events per
    user, chosen by a key-derived hash order: the reproducible stand-in
    for per-key reservoir sampling that training-data subsampling needs
    (cap any one user's contribution to the corpus). A true reservoir
    is arrival-order-dependent; ranking by a pure function of the row
    key gives the same sample on any engine, partitioning, or rerun —
    and the same 2654435761 multiplicative hash as the A/B splitter,
    masked so the product provably fits int64 in both engines.

    Scale: one window shuffle on user_id (the natural key), rank
    truncated at 10 so state per key is constant; no driver
    involvement. This is the exact pattern used to down-weight
    over-represented domains in LLM corpus mixes."""
    ev = table(spark, sf_dir, "events")
    hkey = (F.col("event_id") % 100000) * 2654435761 % 1000003
    w = Window.partitionBy("user_id").orderBy(hkey.asc(), F.col("event_id").asc())
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            dsum("value").alias("value_sampled"),
        )
    )


@query(
    "agg_equi_depth_histogram",
    oracle=f"""
    WITH bucketed AS (
      SELECT l_extendedprice,
             NTILE(8) OVER (
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
             ) AS bucket
      FROM lineitem
    )
    SELECT bucket, COUNT(*) AS n_rows,
           MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi,
           {dsum_sql('l_extendedprice')} AS price_sum
    FROM bucketed GROUP BY bucket
    """,
)
def agg_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram: 8 buckets of (as near as possible) equal
    row count over the price distribution, each with its bounds and
    mass — the histogram shape CBO statistics and data-profiling UIs
    want (equi-WIDTH histograms starve on skew). NTILE over a TOTAL
    order (price, then the primary key) makes boundary assignment of
    tied prices identical in both engines.

    Scale: Spark's own NTILE over a partitionless window is a
    SINGLE-TASK global sort (the "No Partition Defined" plan), so the
    bucket is instead derived arithmetically from the range-partitioned
    exact global rank (functions/total_order.py) plus the total count —
    ntile_from_rank reproduces SQL NTILE's first-(n mod k)-buckets-
    larger split bit-for-bit. One range shuffle, fully parallel. The
    approximate tier for one-pass profiling remains approx_percentile
    boundaries + a bucketing pass (see agg_approx_quantile)."""
    li = table(spark, sf_dir, "lineitem")
    ranked = attach_global_order(
        li.select("l_extendedprice", "l_orderkey", "l_linenumber"),
        [
            F.asc("l_extendedprice"),
            F.asc("l_orderkey"),
            F.asc("l_linenumber"),
        ],
        rn="__rank",
        # total row count from the kernel's partition-totals frame —
        # a separate count() here costs a full extra pass over the
        # cached frame plus its own broadcast (plan audit r14)
        total_count="__n",
    )
    return (
        ranked
        .withColumn(
            "bucket", ntile_from_rank(F.col("__rank"), F.col("__n"), 8)
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
            dsum("l_extendedprice").alias("price_sum"),
        )
    )


_WEIGHTED_MEDIAN_SQL = """
    WITH w AS (
      SELECT l_returnflag AS flag, l_extendedprice AS x,
             CAST(l_quantity AS BIGINT) AS wt
      FROM lineitem
    ), ranked AS (
      SELECT flag, x, wt,
             SUM(wt) OVER (PARTITION BY flag
                           ORDER BY x, wt
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cum,
             SUM(wt) OVER (PARTITION BY flag) AS tot
      FROM w
    )
    SELECT flag,
           MIN(x) FILTER (WHERE cum * 2 >= tot) AS weighted_median,
           CAST(MAX(tot) AS BIGINT) AS total_weight
    FROM ranked GROUP BY flag
"""


@query("agg_weighted_percentile", oracle=_WEIGHTED_MEDIAN_SQL)
def agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median per group: the smallest value whose cumulative
    weight reaches half the group's total — quantity-weighted price
    here, the estimator used whenever rows represent unequal masses
    (tokens per doc, bytes per file, shares per trade). Built-in
    percentile functions are unweighted; the standard formulation is a
    cumulative-weight window over the value order, which both engines
    express identically (ties broken by (x, wt) total order; integer
    weights so ``cum*2 >= tot`` needs no float comparison).

    Scale: one window shuffle on the group key with an ordered
    running sum, then a group-all aggregate — same shape as win_running.
    At 100 TB the window partitions by flag (3 groups → salt or
    pre-aggregate equal (flag, x) rows first; the (x, wt) pre-combine
    collapses ties and shrinks the sorted frame)."""
    li = table(spark, sf_dir, "lineitem")
    w = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("x"),
        F.col("l_quantity").cast("bigint").alias("wt"),
    )
    win_cum = (
        Window.partitionBy("flag")
        .orderBy("x", "wt")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    win_tot = Window.partitionBy("flag")
    ranked = w.select(
        "flag",
        "x",
        F.sum("wt").over(win_cum).alias("cum"),
        F.sum("wt").over(win_tot).alias("tot"),
    )
    return (
        ranked.groupBy("flag")
        .agg(
            F.min(F.when(F.col("cum") * 2 >= F.col("tot"), F.col("x"))).alias(
                "weighted_median"
            ),
            F.max("tot").cast("bigint").alias("total_weight"),
        )
    )


@query(
    "sample_weighted_priority",
    oracle=f"""
    WITH keyed AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY o_orderpriority
               ORDER BY ln(((o_orderkey % 100000) * 2654435761 % 1000003 + 1)
                           / 1000004.0) / o_totalprice DESC,
                        o_orderkey
             ) AS rk
      FROM orders
    )
    SELECT o_orderpriority, COUNT(*) AS n_sampled,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           {dsum_sql('o_totalprice')} AS weight_sampled
    FROM keyed WHERE rk <= 20 GROUP BY o_orderpriority
    """,
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, 20 orders per priority
    class, selection probability proportional to o_totalprice — the
    Efraimidis-Spirakis scheme (rank by u^(1/w), here by its log
    ln(u)/w) with u derived from the key, not a RNG: the same masked
    2654435761 multiplicative hash as the A/B splitter and the uniform
    reservoir, so the sample is identical on any engine, partitioning,
    or rerun. This is how a corpus pipeline up-weights high-quality
    sources while staying reproducible.

    The hashed output includes SUM(o_orderkey) so the driver hash is
    sensitive to the sample's exact membership, not just its size.

    Scale: one window shuffle on the group key with rank truncated at
    k — constant state per key, no driver involvement; at 100 TB the
    rank window becomes a per-partition top-k + merge exactly like
    topk_per_group."""
    o = table(spark, sf_dir, "orders")
    u = (
        (F.col("o_orderkey") % 100000) * 2654435761 % 1000003 + 1
    ) / 1000004.0
    es_key = F.log(u) / F.col("o_totalprice")
    w = Window.partitionBy("o_orderpriority").orderBy(
        es_key.desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("o_orderkey").alias("key_sum"),
            dsum("o_totalprice").alias("weight_sampled"),
        )
    )


_YPOS = "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END"


# ---------------------------------------------------------------------------
# sample_balanced_downsample
# ---------------------------------------------------------------------------

#: sampling-order hash — the repo's audited masked multiplicative
#: shape: (key % p) * 2654435761 stays inside int64 (operators/
#: inference.py); the final small modulus decorrelates from key order
_BAL_HASH = "((o_orderkey % 3221225473) * 2654435761) % 1000003"


@query(
    "sample_balanced_downsample",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey, {_YPOS} AS label, {_BAL_HASH} AS h FROM orders
    ),
    cls AS (SELECT label, COUNT(*) AS n_l FROM base GROUP BY label),
    m_t AS (SELECT MIN(n_l) AS m FROM cls),
    r AS (
      SELECT o_orderkey, label,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY h, o_orderkey) AS rn
      FROM base
    )
    SELECT o_orderkey, CAST(label AS INT) AS label
    FROM r CROSS JOIN m_t
    WHERE rn <= m
    """,
)
def sample_balanced_downsample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact class-balanced downsampling of the urgent/high binary
    target: every class keeps its m hash-first rows, where m is the
    minority-class count — the 50:50 training sample that keeps a
    classifier from collapsing onto the majority class, with the
    masked multiplicative hash making the kept set reproducible
    across runs, engines, and partitionings (no RNG state).

    Scale shape: the per-class rank comes from ONE stacked pass of
    the range-partitioned total-order kernel over (label, hash, key)
    — classes are contiguous under that order, so per-class rank =
    global rank − class offset (the RFM stacked-metric pattern,
    marketing.py). A per-class window would funnel each class through
    one task; the kernel keeps both classes range-partitioned. Class
    counts are a 2-row broadcast.

    Determinism: the hash is the repo's int64-audited multiplicative
    mix with the key as tie-break; ranks and the m cut are exact
    integers."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.expr(_YPOS).alias("label"),
        F.expr(_BAL_HASH).alias("h"),
    )
    ranked = attach_global_order(
        base,
        [F.asc("label"), F.asc("h"), F.asc("o_orderkey")],
        rn="__grn",
    )
    cls = base.groupBy("label").agg(F.count(F.lit(1)).alias("n_l"))
    below = cls.select(
        F.col("label").alias("blabel"), F.col("n_l").alias("bn")
    )
    # exclusive prefix + global min over the 2-row class frame via
    # joins (window-free: the frame is the label domain, a constant)
    offsets = (
        cls.join(below, F.col("blabel") < F.col("label"), "left")
        .groupBy("label", "n_l")
        .agg(F.coalesce(F.sum("bn"), F.lit(0)).alias("off"))
        .crossJoin(F.broadcast(cls.agg(F.min("n_l").alias("m"))))
        .select("label", "off", "m")
    )
    return (
        ranked.join(F.broadcast(offsets), "label")
        .filter(F.col("__grn") - F.col("off") <= F.col("m"))
        .select("o_orderkey", F.col("label").cast("int").alias("label"))
    )
