"""SQL-surface extensions round 4: conditional aggregation (FILTER),
arg-extremum aggregation (max_by/min_by), boolean/bitwise aggregates,
multi-distinct aggregation, and OLS regression from exact power sums.

These round out the aggregate surface a warehouse user expects beyond
SURVEY §2.4: every one is a single map-side-combined groupBy whose
whole-stage-codegen plan shuffles only partial states — the shapes that
stay cheap at 100 TB.

Determinism ground rules follow functions/determinism.py: float sums go
through decimal(28,6); arg-extrema carry an explicit lexicographic
tie-break mirrored in the oracle's window ORDER BY; regression outputs
are derived in double from exact sums and rounded to 6 dp.

Engine-parity ground rules follow functions/determinism.py: integer
ratios stay integer until one mirrored float division; libm outputs are
rounded (9 dp) before any cross-row aggregation; array folds use the
index-ordered textual mirror pair (_dot/_dot_sql) that the similarity
tier verified.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_sample_spark.functions.determinism import (
    dsum,
    dsum_big,
    dsum_big_sql,
    dsum_sql,
)
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table


@query(
    "agg_filter_clause",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           {dsum_sql('o_totalprice')} AS total_all,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
                FILTER (WHERE o_orderstatus = 'F'), 0) AS DOUBLE) AS total_finished
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation — the SQL FILTER clause — computing
    status-sliced counts and sums in ONE pass over orders.

    The naive alternative (one groupBy per predicate + join) reads the
    table k times and shuffles k times; conditional aggregation is the
    canonical one-pass rewrite and Catalyst keeps it inside a single
    whole-stage-codegen'd partial aggregate. The filtered decimal sum
    coalesces to 0 so a group with no finished orders hashes identically
    in both engines (Spark's sum-of-empty is NULL, same as DuckDB)."""
    o = table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(28,6)")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
        dsum("o_totalprice").alias("total_all"),
        F.coalesce(
            F.sum(F.when(F.col("o_orderstatus") == "F", dec)), F.lit(0).cast("decimal(28,6)")
        )
        .cast("double")
        .alias("total_finished"),
    )


@query(
    "agg_minmax_by",
    oracle="""
    WITH ranked AS (
      SELECT c_mktsegment, c_name, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey DESC) AS rtop,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal ASC, c_custkey ASC) AS rbot
      FROM customer
    )
    SELECT c_mktsegment,
           MAX(CASE WHEN rtop = 1 THEN c_name END) AS richest_name,
           MAX(CASE WHEN rtop = 1 THEN c_acctbal END) AS richest_bal,
           MAX(CASE WHEN rbot = 1 THEN c_name END) AS poorest_name,
           MAX(CASE WHEN rbot = 1 THEN c_acctbal END) AS poorest_bal
    FROM ranked GROUP BY c_mktsegment
    """,
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-extremum aggregation: the richest and poorest customer per
    market segment via ``max_by``/``min_by`` over a (balance, key)
    struct — the struct's lexicographic order IS the tie-break, so the
    answer is deterministic even under duplicate balances.

    The oracle mirrors the same order with ROW_NUMBER windows (DuckDB's
    two-argument arg_max can't take a composite ordering). Scale:
    max_by keeps one (arg, key) pair of state per group and combines
    map-side — no sort, no window, no second pass; the window-based
    oracle formulation is the shape to AVOID at 100 TB."""
    c = table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.expr(
                "max_by(struct(c_name AS name, c_acctbal AS bal),"
                " struct(c_acctbal, c_custkey))"
            ).alias("top"),
            F.expr(
                "min_by(struct(c_name AS name, c_acctbal AS bal),"
                " struct(c_acctbal, c_custkey))"
            ).alias("bot"),
        )
        .select(
            "c_mktsegment",
            F.col("top.name").alias("richest_name"),
            F.col("top.bal").alias("richest_bal"),
            F.col("bot.name").alias("poorest_name"),
            F.col("bot.bal").alias("poorest_bal"),
        )
    )


@query(
    "agg_bool_bit",
    oracle="""
    SELECT l_returnflag,
           bool_and(l_discount <= 0.06) AS all_low_discount,
           bool_or(l_quantity >= 50.0) AS any_full_quantity,
           bit_and(CAST(l_quantity AS BIGINT)) AS qty_bit_and,
           bit_or(CAST(l_quantity AS BIGINT)) AS qty_bit_or,
           bit_xor(CAST(l_quantity AS BIGINT)) AS qty_bit_xor
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_bool_bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean and bitwise aggregates (BOOL_AND/BOOL_OR,
    BIT_AND/BIT_OR/BIT_XOR) per return flag.

    All five are commutative-associative single-value states — the
    cheapest aggregates there are (map-side combine reduces each
    partition to 5 scalars per group). bit_xor over int64 doubles as a
    cheap order-insensitive checksum — the same primitive the driver's
    value-hash and this repo's dedup fingerprints build on."""
    li = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_discount") <= 0.06).alias("all_low_discount"),
        F.bool_or(F.col("l_quantity") >= 50.0).alias("any_full_quantity"),
        F.bit_and(q).alias("qty_bit_and"),
        F.bit_or(q).alias("qty_bit_or"),
        F.bit_xor(q).alias("qty_bit_xor"),
    )


@query(
    "agg_count_distinct_multi",
    oracle="""
    SELECT l_linestatus,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(DISTINCT (l_partkey, l_suppkey)) AS n_part_supp_pairs
    FROM lineitem GROUP BY l_linestatus
    """,
)
def agg_count_distinct_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Several COUNT(DISTINCT ...) over different keys in one query —
    the shape that forces Catalyst's Expand rewrite: the input is
    replicated once per distinct clause, each replica aggregated on its
    own key, then the partials merge back.

    Scale note: Expand multiplies shuffle volume by the number of
    distinct clauses — at 100 TB prefer one approx_distinct sketch per
    key (agg_approx_distinct) unless exact counts are contractual. The
    exact pair-count here is the referential-integrity check for the
    part×supplier bridge."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_partkey", "l_suppkey").alias("n_part_supp_pairs"),
    )


# OLS of y' = l_extendedprice/1000 on x = l_quantity, from exact sums.
# The /1000 keeps every decimal(28,6) sum under ~1e9 at sf0.1 — inside
# the decimal→double exactness bound (determinism.py) — and is itself a
# single IEEE division performed identically by both engines.
_OLS_SQL = f"""
    WITH sums AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sxx,
             {dsum_sql('l_extendedprice / 1000')} AS sy,
             {dsum_sql('(l_extendedprice / 1000) * (l_extendedprice / 1000)')} AS syy,
             {dsum_sql('l_quantity * (l_extendedprice / 1000)')} AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope_kusd_per_qty,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
             AS intercept_kusd,
           ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM sums
"""


@query("agg_regression_ols", oracle=_OLS_SQL)
def agg_regression_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS regression (slope / intercept / R²) of line price
    on quantity — REGR_SLOPE/REGR_INTERCEPT/REGR_R2 semantics, computed
    from exact sums instead of the builtins.

    Why not F.regr_slope: like skewness, its streaming float moments are
    partition-order-dependent. Five exact sums (integer x power sums as
    int64; y routed through decimal(28,6)) are order-free, then the
    closed-form normal equations run in double with the association
    mirrored textually in the oracle. Scale: one map-side-combined
    aggregate carrying 6 numbers of state per group — regression over
    100 TB for the price of a COUNT(*)."""
    li = table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("bigint")
    y = F.col("l_extendedprice") / 1000
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(x * x).cast("double").alias("sxx"),
        dsum(y).alias("sy"),
        dsum(y * y).alias("syy"),
        dsum(F.col("l_quantity") * y).alias("sxy"),
    )
    n, sx, sxx, sy, syy, sxy = (
        F.col(c) for c in ("n", "sx", "sxx", "sy", "syy", "sxy")
    )
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return sums.select(
        "l_returnflag",
        F.round(slope, 6).alias("slope_kusd_per_qty"),
        F.round((sy - slope * sx) / n, 6).alias("intercept_kusd"),
        F.round(
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    )


@query(
    "set_intersect_except_all",
    oracle="""
    WITH a AS (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'),
         r AS (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'),
         ia AS (SELECT l_partkey FROM a INTERSECT ALL SELECT l_partkey FROM r),
         ea AS (SELECT l_partkey FROM a EXCEPT ALL SELECT l_partkey FROM r)
    SELECT (SELECT COUNT(*) FROM ia) AS n_intersect_all,
           (SELECT COUNT(DISTINCT l_partkey) FROM ia) AS n_distinct_intersect,
           (SELECT COUNT(*) FROM ea) AS n_except_all,
           (SELECT COUNT(DISTINCT l_partkey) FROM ea) AS n_distinct_except
    """,
)
def set_intersect_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set operations — INTERSECT ALL / EXCEPT ALL — between
    the part-key bags of returned ('A') and refused ('R') lineitems,
    completing the §2.7 family's distinct-only variants with the
    duplicate-preserving semantics SQL defines for bags: INTERSECT ALL
    keeps min(multiplicity), EXCEPT ALL subtracts multiplicities.

    Spark compiles intersectAll/exceptAll to an aggregate of per-side
    counts + a generator replaying min/difference counts — one shuffle
    on the value, no join explosion. The summary row pins all four
    cardinalities so multiplicity handling (the part distinct-ops can't
    see) is what's checked."""
    li = table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select("l_partkey")
    r = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    ia = a.intersectAll(r)
    ea = a.exceptAll(r)
    ia_counts = ia.agg(
        F.count(F.lit(1)).alias("n_intersect_all"),
        F.countDistinct("l_partkey").alias("n_distinct_intersect"),
    )
    ea_counts = ea.agg(
        F.count(F.lit(1)).alias("n_except_all"),
        F.countDistinct("l_partkey").alias("n_distinct_except"),
    )
    return ia_counts.crossJoin(ea_counts)


@query(
    "fn_try_safe",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(TRY_CAST(o_orderstatus AS INTEGER)) AS n_status_numeric,
           COUNT(TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER))
             AS n_prio_numeric,
           COUNT(o_totalprice / NULLIF(o_orderkey % 3, 0)) AS n_div_ok,
           {DIV_SUM} AS div_sum
    FROM orders
    """.replace(
        "{DIV_SUM}",
        dsum_big_sql("o_totalprice / NULLIF(o_orderkey % 3, 0)"),
    ),
)
def fn_try_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression family: ``try_cast`` of non-numeric and
    numeric strings, ``try_divide`` with a key-derived zero divisor —
    NULL instead of job-killing exceptions, the ANSI-mode survival kit
    for dirty data (a malformed row must quarantine, not fail a 100 TB
    job; compare scan_corrupt_records for the reader-level analog).

    DuckDB lacks try_divide, so the oracle spells the same semantics as
    ``x / NULLIF(d, 0)`` — which is exactly the rewrite try_divide
    performs. All counts skip NULLs by SQL's COUNT(expr) definition, so
    the two engines count the same survivors; the surviving quotient
    sum goes through decimal as usual."""
    o = table(spark, sf_dir, "orders")
    div = F.try_divide(F.col("o_totalprice"), F.col("o_orderkey") % 3)
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.try_to_number(F.col("o_orderstatus"), F.lit("9"))).alias(
            "n_status_numeric"
        ),
        F.count(
            F.try_to_number(F.substring("o_orderpriority", 1, 1), F.lit("9"))
        ).alias("n_prio_numeric"),
        F.count(div).alias("n_div_ok"),
        # div_sum is ~1.9e11 at sf1 — past the plain decimal→double
        # cast's engine-identity bound; _big form on both sides
        dsum_big(div).alias("div_sum"),
    )


@query(
    "agg_grouping_id",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           GROUPING(o_orderstatus) AS g_status,
           GROUPING(o_orderpriority) AS g_priority,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING flags: subtotal rows labeled 'ALL' and the
    per-column grouping indicator that lets consumers tell a real NULL
    key from a subtotal row — the piece agg_rollup (#29) omits and
    every BI layer on top of rollups needs.

    The flags come from the Expand node's grouping-id bitmask — zero
    extra cost over the plain rollup. Both engines emit identical
    0/1 flags; the COALESCE label makes subtotal rows self-describing
    in the hashed output."""
    o = table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "g_status",
            "g_priority",
            "n_orders",
        )
    )


_SQL_FRONTEND = """
    SELECT n.n_name AS nation,
           COUNT(DISTINCT c.c_custkey) AS n_customers,
           COUNT(o.o_orderkey) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
             AS total_revenue
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY n.n_name
"""


@query("api_sql_frontend", oracle=_SQL_FRONTEND)
def api_sql_frontend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front end as a first-class API surface: the SAME text a
    DuckDB user would write runs verbatim through ``spark.sql`` over
    registered temp views — one string, two engines, one hash. This is
    the "switch engines without rewriting queries" property the
    engine's users get: every other operator demonstrates the DataFrame
    API; this one proves the ANSI-SQL path parses, plans, and answers
    identically (the oracle IS the query text).

    Scale: identical Catalyst plan to the DataFrame formulation —
    spark.sql and the DataFrame API meet at the same logical plan, so
    nothing is lost (or gained) by choosing SQL."""
    from python_etl_sample_spark.sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_FRONTEND)


#: synthetic resource-hold length for the interval-merge op (its own
#: constant — events_max_concurrent's 15-min sweep is a different query)
_IVL_HOLD_S = 10 * 60


@query(
    "fn_intervals_overlap_merge",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, ts AS s, ts + INTERVAL {_IVL_HOLD_S} SECOND AS e,
             event_id
      FROM events
    ),
    marked AS (
      SELECT user_id, s, e, event_id,
             CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING) >= s
                  THEN 0 ELSE 1 END AS is_new
      FROM iv
    ),
    islands AS (
      SELECT user_id, s, e,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY s, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS island
      FROM marked
    ),
    merged AS (
      SELECT user_id, island, MIN(s) AS ms, MAX(e) AS me, COUNT(*) AS n_raw
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           COUNT(*) AS n_merged,
           CAST(SUM(n_raw) AS BIGINT) AS n_raw,
           CAST(SUM(date_diff('second', ms, me)) AS BIGINT) AS covered_s
    FROM merged GROUP BY user_id
    """,
)
def fn_intervals_overlap_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union per key (gaps-and-islands over RANGES): each
    event holds a resource for 10 minutes; overlapping holds merge, and
    the per-user report counts merged intervals and total covered
    seconds — the classic uptime/billing/utilization primitive that
    naive per-second expansion (600× blow-up) or a range self-join
    (O(n·k)) gets catastrophically wrong.

    The rewrite: an interval starts a new island iff the running MAX of
    previous interval ends (user-partitioned, (start, event_id) order)
    does not reach its start; islands number by running sum of the
    marks; coverage is Σ(island end − island start) in exact epoch
    seconds — both windows share the (start, event_id) TOTAL order (the
    engine tie-break law), so tied starts island identically in both
    engines. One user_id shuffle serves the mark window, the island
    numbering, and (partial-agg) both rollups."""
    ev = table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr(f"INTERVAL {_IVL_HOLD_S} SECOND")).alias("e"),
        "event_id",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.select(
        "user_id",
        "s",
        "e",
        "event_id",
        F.when(F.max("e").over(w_prev) >= F.col("s"), 0)
        .otherwise(1)
        .alias("is_new"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = marked.withColumn("island", F.sum("is_new").over(w_run))
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("ms"),
        F.max("e").alias("me"),
        F.count(F.lit(1)).alias("n_raw"),
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_merged"),
        F.sum("n_raw").cast("bigint").alias("n_raw"),
        F.sum(
            F.unix_timestamp("me") - F.unix_timestamp("ms")
        ).cast("bigint").alias("covered_s"),
    )


#: recursive-CTE hierarchy walk — {idiv} is '//' (DuckDB) / 'div'
#: (Spark SQL); the synthetic forest is parent(k) = k div 7 for k ≥ 7
#: (keys < 7 are roots — the explicit k ≥ 7 recursion guard matters:
#: key 0 would otherwise be its own parent, an infinite cycle BOTH
#: engines faithfully looped on when first written). parent(k) < k for
#: every recursing k, so depth is bounded by log7(max key) and the
#: recursion provably terminates.
_RECURSIVE_TMPL = """
    WITH RECURSIVE chain AS (
      SELECT p_partkey AS node, 0 AS depth
      FROM part WHERE p_partkey < 7
      UNION ALL
      SELECT p.p_partkey AS node, c.depth + 1 AS depth
      FROM part p JOIN chain c ON p.p_partkey {idiv} 7 = c.node
      WHERE p.p_partkey >= 7
    )
    SELECT depth,
           COUNT(*) AS n_parts,
           MIN(node) AS min_key,
           MAX(node) AS max_key,
           CAST(SUM(node) AS BIGINT) AS key_sum
    FROM chain GROUP BY depth
"""


@query(
    "api_sql_recursive_cte",
    oracle=_RECURSIVE_TMPL.format(idiv="//"),
)
def api_sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE — new in Spark 4): transitive
    closure over a synthetic assembly forest (parent(k) = k div 7, the
    bill-of-materials / org-chart shape), rolled up as parts per depth
    with key checksums so the hash pins EVERY node's depth, not just
    counts. The same query text runs on both engines modulo the
    integer-division token — checking Spark's brand-new recursion
    operator against DuckDB's mature one.

    Termination is structural (parent key strictly decreases), not a
    row-limit guard. Scale: each recursion step is one equi-join of the
    frontier against the part scan + union — the same per-level
    frontier shape as graph_bfs_hops, planned by Catalyst's
    UnionLoop; depth is logarithmic in the key domain (≤8 levels at
    10^7 parts)."""
    from python_etl_sample_spark.sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_TMPL.format(idiv="div"))


@query(
    "api_sql_registered_udf",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT)
             AS total_tokens
    FROM documents GROUP BY lang
    """,
)
def api_sql_registered_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-extensible SQL: a vectorized pandas UDF registered into the
    SQL function catalog (`spark.udf.register`) and invoked from SQL
    TEXT — the extensibility path a warehouse user takes when the
    built-in function library runs out. The UDF counts whitespace
    tokens as (number of \\s+ runs) + 1, the exact cardinality of
    Java's split — the same twin the JVM-side text operators use — so
    the SQL-invoked Python result hash-matches the DuckDB oracle.

    Scale: registration is metadata; execution is the same Arrow-batch
    path as udf_scalar_pandas (#67) — the SQL front-end changes WHO can
    call the function, not how it runs. The aggregate on top is
    JVM-side; only the per-row token count crosses the Arrow boundary."""
    import os

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def ws_tokens(s: pd.Series) -> pd.Series:
        # len(re.split('\s+', x)) == count of \s+ runs + 1, exactly
        return (s.str.count(r"\s+") + 1).astype("int32")

    spark.udf.register("ws_tokens", ws_tokens)
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    view = f"docs_udf_{tag}"
    table(spark, sf_dir, "documents").createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(ws_tokens(text)) AS BIGINT) AS total_tokens
        FROM {view} GROUP BY lang
        """
    )
