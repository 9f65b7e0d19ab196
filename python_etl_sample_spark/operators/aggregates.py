"""Aggregations — SURVEY.md §2.4 ops #22-32.

Scale notes: every groupBy here lowers to HashAggregateExec with
map-side partial aggregation before the shuffle (verified via
.explain), so data motion is #groups × #partitions, not #rows. Rollup/
cube/grouping-sets expand in the optimizer; pivot with an explicit
value list avoids the extra distinct-scan job.

Determinism: all double sums go through exact decimal accumulation
(functions/determinism.dsum) so parallel accumulation order cannot
change the hash; variance/correlation are computed from those exact
moment sums with the same closed formula in both engines.

- ``agg_percentile_cont``: SQL-standard PERCENTILE_CONT linear
  interpolation at q ∈ {25, 50, 75, 90, 99}% over the total-order
  kernel — the interpolated complement to the rank-exact
  agg_percentile_exact (the two standard quantile definitions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_etl_sample_spark.functions.determinism import (
    _CENTS,
    _LCENTS,
    davg,
    davg_big,
    davg_big_sql,
    davg_sql,
    dsum,
    dsum_big,
    dsum_big_sql,
    dsum_sql,
)
from python_etl_sample_spark.functions.total_order import attach_global_order
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table


@query(
    "agg_global",
    oracle=f"""
    SELECT COUNT(*) AS cnt,
           {dsum_sql('l_quantity')} AS sum_qty,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price,
           {davg_sql('l_quantity')} AS avg_qty
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#22 no-key aggregate over lineitem."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum("l_quantity").alias("sum_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        davg("l_quantity").alias("avg_qty"),
    )


@query(
    "agg_groupby",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_big_sql('l_quantity')} AS sum_qty,
           {dsum_big_sql('l_extendedprice')} AS sum_base_price,
           {dsum_big_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {dsum_big_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {davg_big_sql('l_quantity')} AS avg_qty,
           {davg_big_sql('l_extendedprice')} AS avg_price,
           {davg_big_sql('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#23 flagship: TPC-H-Q1-style pricing summary (hash agg by key).

    Emits RAW money sums (~2.8e10 at sf1 — past the plain decimal→
    double cast's 9e9 engine-identity bound, the first wild sighting of
    the determinism.py domain edge), so both sides use the _big
    helpers: bit-identical to the plain form at the graded scales,
    engine-identical up to ~9.2e12."""
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    charge = disc_price * (F.lit(1) + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum_big("l_quantity").alias("sum_qty"),
            dsum_big("l_extendedprice").alias("sum_base_price"),
            dsum_big(disc_price).alias("sum_disc_price"),
            dsum_big(charge).alias("sum_charge"),
            davg_big("l_quantity").alias("avg_qty"),
            davg_big("l_extendedprice").alias("avg_price"),
            davg_big("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "agg_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT l_partkey) AS n_part,
           CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_dist_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#24 count(DISTINCT) + sum(DISTINCT) — Catalyst's
    RewriteDistinctAggregates expands the multi-distinct correctly."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.sum_distinct(F.col("l_quantity").cast("decimal(28,6)"))
        .cast("double")
        .alias("sum_dist_qty"),
    )


@query(
    "agg_approx_distinct",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users, TRUE AS approx_ok
    FROM events
    GROUP BY event_type
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#25 HLL approximate distinct users per event type — the 100 TB
    path for cardinality (no exact-distinct shuffle of the full key
    set). Hash-checked: the HLL sketch value itself is engine-specific,
    so the emitted columns are the exact count plus ``approx_ok`` =
    "the sketch landed within 25% of the exact count" — value-checkable
    in both engines while still exercising the sketch (the raw sketch
    estimate stays out of the hashed output). The margin is deliberately
    wide (25× the configured 1% rsd): it still catches a broken sketch
    (off by 2×, or zero) but no plausible accuracy drift across Spark
    upgrades turns two individually-correct engines into a graded hash
    mismatch (round-2 ADVICE)."""
    ev = table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        F.countDistinct("user_id").alias("n_users"),
    )
    return agg.select(
        "event_type",
        "n_users",
        (
            F.abs(F.col("approx_users") - F.col("n_users"))
            <= 0.25 * F.col("n_users")
        ).alias("approx_ok"),
    )


@query(
    "agg_having",
    oracle=f"""
    SELECT o_custkey, COUNT(*) AS n_orders, {dsum_sql('o_totalprice')} AS total_spend
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 12
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#26 post-aggregation filter (HAVING)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("total_spend"))
        .filter(F.col("n_orders") >= 12)
    )


_STATS_MOMENTS_SQL = """
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS syy,
           CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sxy
    FROM lineitem GROUP BY l_returnflag
"""


@query(
    "agg_stats",
    oracle=f"""
    WITH m AS ({_STATS_MOMENTS_SQL})
    SELECT l_returnflag, n,
           round(sqrt((sxx - sx*sx/n) / (n - 1)), 6) AS std_price,
           round((sxx - sx*sx/n) / (n - 1), 2) AS var_price,
           round(((sxy - sx*sy/n) / (n - 1)) / (sqrt((sxx - sx*sx/n) / (n - 1)) * sqrt((syy - sy*sy/n) / (n - 1))), 9) AS corr_price_qty,
           round((sxy - sx*sy/n) / (n - 1), 2) AS covar_price_qty
    FROM m
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#27 stddev / variance / correlation / covariance.

    Built from exact decimal moment sums + one closed-form double
    expression, identical in both engines — native stddev/corr would
    differ in final bits between parallel and serial accumulation.

    The moment sums exceed double precision (17 sig digits), and the
    decimal→double cast rounds differently per engine by ≤1 ulp
    (~1e-16 relative), so the derived statistics are rounded at levels
    that dwarf that error (var/covar to 2 dp, std to 6 dp, corr to 9 dp).
    """
    li = table(spark, sf_dir, "lineitem")
    x, y = F.col("l_extendedprice"), F.col("l_quantity")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast("decimal(28,6)")).cast("double").alias("sx"),
        F.sum((x * x).cast("decimal(38,4)")).cast("double").alias("sxx"),
        F.sum(y.cast("decimal(28,6)")).cast("double").alias("sy"),
        F.sum((y * y).cast("decimal(38,4)")).cast("double").alias("syy"),
        F.sum((x * y).cast("decimal(38,4)")).cast("double").alias("sxy"),
    )
    n = F.col("n")
    var_x = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - F.lit(1))
    var_y = (F.col("syy") - F.col("sy") * F.col("sy") / n) / (n - F.lit(1))
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - F.lit(1))
    return m.select(
        "l_returnflag",
        "n",
        F.round(F.sqrt(var_x), 6).alias("std_price"),
        F.round(var_x, 2).alias("var_price"),
        F.round(cov / (F.sqrt(var_x) * F.sqrt(var_y)), 9).alias("corr_price_qty"),
        F.round(cov, 2).alias("covar_price_qty"),
    )


@query(
    "agg_collect",
    oracle="""
    SELECT r.r_name, array_to_string(list_sort(list(n.n_name)), ',') AS nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#28 per-group collected list, sorted for determinism, serialized
    to a string so the value-hash is representation-stable."""
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("nations"))
    )


@query(
    "agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           COUNT(*) AS cnt, {dsum_sql('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#29 hierarchical subtotals with grouping_id disambiguation."""
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("cnt"),
        dsum("l_quantity").alias("sum_qty"),
    ).select("l_returnflag", "l_linestatus", "gid", "cnt", "sum_qty")


@query(
    "agg_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           COUNT(*) AS cnt, {dsum_sql('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#30 cross-dimensional subtotals."""
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("cnt"),
        dsum("l_extendedprice").alias("sum_price"),
    ).select("l_returnflag", "l_linestatus", "gid", "cnt", "sum_price")


@query(
    "agg_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           COUNT(*) AS cnt, {dsum_sql('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#31 explicit grouping sets via the SQL entry point (SURVEY §3.2
    entry point 3): temp view + spark.sql share Catalyst with the
    DataFrame path."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               grouping_id(l_returnflag, l_linestatus) AS gid,
               COUNT(*) AS cnt, {_spark_dsum_sql('l_quantity')} AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


def _spark_dsum_sql(expr: str) -> str:
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(28,6))) AS DOUBLE)"


@query(
    "pivot",
    oracle="""
    SELECT user_id % 10 AS user_decile,
           COUNT(*) FILTER (WHERE event_type = 'click') AS click,
           COUNT(*) FILTER (WHERE event_type = 'error') AS error,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
           COUNT(*) FILTER (WHERE event_type = 'view') AS view
    FROM events
    GROUP BY user_id % 10
    """,
)
def pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#32 pivot with an explicit value list (avoids the extra
    distinct-discovery job — the 100 TB-safe form)."""
    ev = table(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.withColumn("user_decile", F.col("user_id") % 10)
        .groupBy("user_decile")
        .pivot("event_type", kinds)
        .count()
    )
    # absent cells are NULL in Spark's pivot but 0 under FILTER aggregation
    return out.select(
        "user_decile", *[F.coalesce(F.col(k), F.lit(0)).alias(k) for k in kinds]
    )


@query(
    "agg_approx_quantile",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.95), 6) AS p95,
           TRUE AS approx_ok
    FROM events
    GROUP BY event_type
    """,
)
def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile family: exact p50/p95 per event type (linear
    interpolation — identical definition and IEEE ops in both engines,
    verified bit-equal before rounding) alongside the at-scale sketch.

    The hashed columns are the exact percentiles; ``approx_ok`` asserts
    ``approx_percentile`` (the 100 TB path — a mergeable KLL-style
    sketch, no global sort) lands within 10% of the exact median, the
    same pattern ``agg_approx_distinct`` uses to make a sketch query
    value-checkable. The margin is wide on purpose: at accuracy 10000
    the sketch is near-exact today, and the slack absorbs any
    accuracy-parameter drift across Spark upgrades without turning two
    individually-correct engines into a hash mismatch (round-2
    ADVICE)."""
    ev = table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
        F.approx_percentile("value", F.lit(0.5), F.lit(10000)).alias("ap50"),
    )
    return agg.select(
        "event_type",
        "p50",
        "p95",
        (F.abs(F.col("ap50") - F.col("p50")) <= 0.10 * F.abs(F.col("p50"))).alias(
            "approx_ok"
        ),
    )


#: (numerator, denominator) quantile fractions — integer arithmetic so
#: rank = ceil(q·n) is exact in both engines (0.9·n in doubles rounds
#: unpredictably at ulp boundaries; (n·qn + qd − 1) div qd never does)
_QUANTILES = ((25, 100), (50, 100), (75, 100), (90, 100), (99, 100))


@query(
    "agg_exact_quantiles_global",
    oracle=f"""
    WITH r AS (
      SELECT {_CENTS} AS cents,
             ROW_NUMBER() OVER (
               ORDER BY round(o_totalprice * 100), o_orderkey) AS rn
      FROM orders
    ),
    n AS (SELECT COUNT(*) AS c FROM orders),
    q AS (
      SELECT UNNEST([{','.join(str(qn) for qn, _ in _QUANTILES)}]) AS qn
    ),
    t AS (
      SELECT qn, (c * qn + 99) // 100 AS target, c
      FROM q CROSS JOIN n
    )
    SELECT t.qn / 100.0 AS quantile,
           CAST(t.target AS BIGINT) AS rank,
           CAST(t.c AS BIGINT) AS n_rows,
           round(r.cents / 100.0, 2) AS value
    FROM t JOIN r ON r.rn = t.target
    """,
)
def agg_exact_quantiles_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global quantiles (P25/P50/P75/P90/P99) of order value by
    the inverse-CDF (type-1) definition — value at rank ⌈q·n⌉ under the
    (cents, orderkey) total order. approx_percentile trades error
    bounds for one pass; this is the exact tier, and unlike a
    partitionless window it runs on the range-partitioned total-order
    kernel (functions/total_order.py): one range shuffle, a broadcast
    of 5 target ranks, no single-task stage anywhere.

    The target rank is pure integer arithmetic ((n·qn + 99) div 100),
    never ceil of a float — 0.9·n in binary floats rounds
    unpredictably at ulp boundaries and would shift the selected rank
    by one on exact multiples."""
    o = table(spark, sf_dir, "orders")
    cents = F.expr(_CENTS)
    ranked = attach_global_order(
        o.select(cents.alias("cents"), "o_orderkey"),
        [F.asc("cents"), F.asc("o_orderkey")],
        rn="rn",
        # total row count from the kernel's partition-totals frame —
        # a separate count() here costs a full extra pass over the
        # cached frame plus its own broadcast (plan audit r14)
        total_count="c",
    )
    qs = spark.createDataFrame([(qn,) for qn, _ in _QUANTILES], "qn int")
    return (
        ranked.crossJoin(F.broadcast(qs))
        .filter(F.col("rn") == F.expr("(c * qn + 99) div 100"))
        .select(
            (F.col("qn") / 100.0).alias("quantile"),
            F.col("rn").cast("bigint").alias("rank"),
            F.col("c").cast("bigint").alias("n_rows"),
            F.round(F.col("cents") / 100.0, 2).alias("value"),
        )
    )


@query(
    "agg_skew_salted_distinct",
    oracle=f"""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS total_value
    FROM events GROUP BY event_type
    """,
)
def agg_skew_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) over hot keys via salted two-phase
    aggregation: events has only 5 event_type values, so a naive
    distinct-aggregate funnels every row of a hot key through one
    reducer. Salting by user_id % 16 splits each hot key into 16
    sub-aggregations; because the salt is a pure function of the
    DISTINCT column, every user lands in exactly one bucket and the
    per-bucket distinct counts SUM to the exact global distinct — no
    overlap, no approximation. The decimal partial sums re-aggregate
    exactly (decimal addition is associative), so the result is
    bit-identical to the direct single-phase oracle.

    Scale: phase 1 shuffles on (event_type, salt) — 16× the reduce
    parallelism on the hottest key; phase 2 merges 16 rows per key.
    This is THE rewrite for exact-distinct over skewed keys at 100 TB;
    for unbounded cardinality swap phase 1's countDistinct for an HLL
    sketch (sketch_hll_mergeable) and the shape is unchanged."""
    ev = table(spark, sf_dir, "events")
    phase1 = ev.groupBy(
        "event_type", (F.col("user_id") % 16).alias("salt")
    ).agg(
        F.countDistinct("user_id").alias("d"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(28,6)")).alias("s"),
    )
    return phase1.groupBy("event_type").agg(
        F.sum("d").alias("n_users"),
        F.sum("n").alias("n_events"),
        F.sum("s").cast("double").alias("total_value"),
    )


@query(
    "agg_theil_index",
    oracle=f"""
    WITH cust AS (
      SELECT c.c_nationkey AS nation, o.o_custkey AS k,
             {dsum_sql('o.o_totalprice')} AS x
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    g AS (
      SELECT nation, COUNT(*) AS ng, {dsum_sql('x')} AS xg
      FROM cust GROUP BY nation
    ),
    tot AS (SELECT CAST(SUM(ng) AS BIGINT) AS n, {dsum_sql('xg')} AS xt FROM g)
    SELECT c.nation,
           MAX(g.ng) AS n_customers,
           ROUND(SUM((c.x / g.xg) * ln((c.x / g.xg) * g.ng)), 6)
             AS theil_within,
           ROUND(MAX((g.xg / t.xt) * ln((g.xg / t.xt) * (t.n / g.ng))), 6)
             AS between_term,
           ROUND(MAX(g.xg / t.xt), 6) AS revenue_share
    FROM cust c
    JOIN g ON g.nation = c.nation
    CROSS JOIN tot t
    GROUP BY c.nation
    """,
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of customer revenue, decomposed by
    nation: within-nation T_g = Σ (x/X_g)·ln((x/X_g)·n_g) plus each
    nation's between-group term (X_g/X)·ln((X_g/X)·(n/n_g)) — total
    inequality = Σ share·T_g + Σ between, the additive decomposition
    Gini (stats_gini_lorenz) famously lacks, which is why Theil is the
    concentration diagnostic for partitioned data.

    Customer revenues are decimal-exact; every ln argument is a ratio
    of exact sums times an exact count (PMI/PSI ln-parity surface);
    the per-nation rollup sums ≤customers terms, rounded at 6 dp.
    Scale: one custkey aggregate (co-partitioned with the orders
    scan), one nation aggregate, two broadcast scalar attaches."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    cust = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nation"), F.col("o_custkey").alias("k")
        )
        .agg(dsum("o_totalprice").alias("x"))
    )
    g = cust.groupBy("nation").agg(
        F.count(F.lit(1)).alias("ng"), dsum("x").alias("xg")
    )
    tot = g.agg(
        F.sum("ng").cast("bigint").alias("n"), dsum("xg").alias("xt")
    )
    return (
        cust.join(F.broadcast(g), "nation")
        .crossJoin(F.broadcast(tot))
        .groupBy("nation")
        .agg(
            F.max("ng").alias("n_customers"),
            F.round(
                F.sum(
                    (F.col("x") / F.col("xg"))
                    * F.log((F.col("x") / F.col("xg")) * F.col("ng"))
                ),
                6,
            ).alias("theil_within"),
            F.round(
                F.max(
                    (F.col("xg") / F.col("xt"))
                    * F.log(
                        (F.col("xg") / F.col("xt"))
                        * (F.col("n") / F.col("ng"))
                    )
                ),
                6,
            ).alias("between_term"),
            F.round(F.max(F.col("xg") / F.col("xt")), 6).alias("revenue_share"),
        )
    )


# ---------------------------------------------------------------------------
# agg_percentile_cont
# ---------------------------------------------------------------------------

_PCTS = ((25, "0.25"), (50, "0.5"), (75, "0.75"), (90, "0.9"), (99, "0.99"))


@query(
    "agg_percentile_cont",
    oracle=f"""
    WITH v AS (
      SELECT {_LCENTS} AS cents, l_orderkey, l_linenumber FROM lineitem
    ),
    r AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents, l_orderkey, l_linenumber)
               AS rn,
             COUNT(*) OVER () AS n
      FROM v
    ),
    qs AS (SELECT UNNEST([{", ".join(p for _, p in _PCTS)}]) AS q,
                  UNNEST([{", ".join(str(t) for t, _ in _PCTS)}]) AS pct),
    hit AS (
      SELECT qs.pct, qs.q, r.n,
             1.0 + (r.n - 1) * qs.q AS pos,
             MAX(CASE WHEN r.rn = CAST(floor(1.0 + (r.n - 1) * qs.q)
                                       AS BIGINT)
                      THEN r.cents END) AS v_lo,
             MAX(CASE WHEN r.rn = CAST(ceil(1.0 + (r.n - 1) * qs.q)
                                       AS BIGINT)
                      THEN r.cents END) AS v_hi
      FROM r CROSS JOIN qs
      GROUP BY qs.pct, qs.q, r.n
    )
    SELECT pct, CAST(n AS BIGINT) AS n_rows,
           round((CAST(v_lo AS DOUBLE)
                  + (pos - floor(pos)) * (v_hi - v_lo)) / 100.0, 6)
             AS percentile_cont
    FROM hit
    """,
)
def agg_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard PERCENTILE_CONT: linear interpolation at position
    1 + (n−1)·q between the two bracketing order statistics of
    extended price, at the 25/50/75/90/99th percentiles — the
    interpolated quantile definition (the one NumPy, DuckDB
    quantile_cont, and warehouse PERCENTILE_CONT implement), closing
    the family next to the rank-exact agg_percentile_exact and the
    approximate agg_approx_quantile.

    Scale: the total order comes from the range-partitioned kernel
    (no single-task sort); each quantile needs exactly the rows whose
    global rank equals ⌊pos⌋ or ⌈pos⌉ — a broadcast join of the
    5-row quantile frame against rank-filtered rows, so nothing
    beyond the kernel's range shuffle is data-sized.

    Determinism: ranks are exact under the (cents, orderkey,
    linenumber) total order; pos = 1+(n−1)·q is the same IEEE double
    in both engines (identical operands, identical ops), so the
    bracketing ranks agree; the interpolation is one mirrored float
    expression of two exact integers, rounded at 6 dp."""
    li = table(spark, sf_dir, "lineitem")
    v = li.select(
        F.expr(_LCENTS).alias("cents"), "l_orderkey", "l_linenumber"
    )
    r = attach_global_order(
        v,
        [F.asc("cents"), F.asc("l_orderkey"), F.asc("l_linenumber")],
        rn="rn",
        total_count="n",
    )
    qs = spark.createDataFrame(
        [(pct, float(q)) for pct, q in _PCTS], "pct int, q double"
    )
    pos = 1.0 + (F.col("n") - 1) * F.col("q")
    hit = (
        r.crossJoin(F.broadcast(qs))
        .filter(
            (F.col("rn") == F.floor(pos).cast("bigint"))
            | (F.col("rn") == F.ceil(pos).cast("bigint"))
        )
        .groupBy("pct", "q", "n")
        .agg(
            F.max(
                F.when(
                    F.col("rn") == F.floor(pos).cast("bigint"),
                    F.col("cents"),
                )
            ).alias("v_lo"),
            F.max(
                F.when(
                    F.col("rn") == F.ceil(pos).cast("bigint"),
                    F.col("cents"),
                )
            ).alias("v_hi"),
        )
    )
    ppos = 1.0 + (F.col("n") - 1) * F.col("q")
    return hit.select(
        "pct",
        F.col("n").cast("long").alias("n_rows"),
        F.round(
            (
                F.col("v_lo").cast("double")
                + (ppos - F.floor(ppos)) * (F.col("v_hi") - F.col("v_lo"))
            )
            / 100.0,
            6,
        ).alias("percentile_cont"),
    )
