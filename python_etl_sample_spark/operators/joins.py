"""Joins — SURVEY.md §2.3 ops #12-21.

Scale notes (the 100 TB posture of each shape):
- Dimension tables (region/nation/supplier) get explicit
  ``F.broadcast`` hints → broadcast-hash join, no shuffle of the fact
  side. Fact⋈fact joins (lineitem⋈orders) are left to Catalyst, which
  picks sort-merge with AQE skew-split — correct at any scale.
- The theta/range joins keep an equi conjunct (brand / user_id) so the
  planner hashes on it and the inequality is a post-join filter —
  a pure inequality join would be a broadcast nested loop, which does
  not survive 100 TB on the big side.
- The as-of join is the union+window emulation: one shuffle on
  (user_id) + an ordered window scan — the scalable pattern (no
  per-row subquery, no driver loop).

The runtime Bloom-filter join (``join_bloom_runtime``) is the
shuffle-join analogue of partition pruning: the dimension's filtered
keys prune fact rows *before* the fact side shuffles — at 100 TB that
is the difference between shuffling 100 TB and shuffling the 2% that
survives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_sample_spark.functions.determinism import (
    dsum,
    dsum_big,
    dsum_big_sql,
    dsum_sql,
)
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.scratch import stage_once
from python_etl_sample_spark.session import scoped_confs
from python_etl_sample_spark.sources import table


@query(
    "join_inner",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_custkey, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderstatus = 'F'
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#12 equi inner join orders⋈customer."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    c = table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "join_outer",
    oracle="""
    WITH cs AS (SELECT c_custkey, c_name FROM customer WHERE c_acctbal < 0),
         os AS (SELECT o_orderkey, o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT 'left' AS join_kind, cs.c_custkey, cs.c_name, os.o_orderkey
    FROM cs LEFT JOIN os ON cs.c_custkey = os.o_custkey
    UNION ALL
    SELECT 'right' AS join_kind, cs.c_custkey, cs.c_name, os.o_orderkey
    FROM cs RIGHT JOIN os ON cs.c_custkey = os.o_custkey
    UNION ALL
    SELECT 'full' AS join_kind, cs.c_custkey, cs.c_name, os.o_orderkey
    FROM cs FULL JOIN os ON cs.c_custkey = os.o_custkey
    """,
)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#13 left/right/full outer joins, one tagged union."""
    cs = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select("c_custkey", "c_name")
    )
    os_ = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_custkey")
    )
    cond = cs.c_custkey == os_.o_custkey
    parts = [
        cs.join(os_, cond, how).select(
            F.lit(tag).alias("join_kind"), "c_custkey", "c_name", "o_orderkey"
        )
        for tag, how in [("left", "left"), ("right", "right"), ("full", "full")]
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "join_broadcast",
    oracle="""
    SELECT r.r_name, COUNT(*) AS n_cust
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#14 explicit broadcast of small dims: the fact table never
    shuffles for the join (BroadcastHashJoin in the plan)."""
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    r = F.broadcast(table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#15 left-semi: customers with at least one urgent order."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#16 left-anti: customers with no urgent orders (non-empty at every
    sf: ≈e⁻² of customers qualify)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "join_theta",
    oracle="""
    SELECT a.p_brand, COUNT(*) AS n_pairs,
           CAST(SUM(b.p_size - a.p_size) AS BIGINT) AS total_gap
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size < b.p_size AND b.p_size - a.p_size <= 2
    GROUP BY a.p_brand
    """,
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#17 theta join: same-brand part pairs within a size band. The
    equi conjunct (brand) keeps it a hash join; the inequalities are
    residual filters — tractable at any scale."""
    a = table(spark, sf_dir, "part").alias("a")
    b = table(spark, sf_dir, "part").alias("b")
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_size") < F.col("b.p_size"))
            & (F.col("b.p_size") - F.col("a.p_size") <= 2),
        )
        .groupBy(F.col("a.p_brand").alias("p_brand"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("b.p_size") - F.col("a.p_size")).alias("total_gap"),
        )
    )


@query(
    "join_range",
    oracle="""
    SELECT s.user_id, COUNT(*) AS n_purchases_30m
    FROM events s JOIN events p
      ON s.user_id = p.user_id
     AND p.event_type = 'purchase'
     AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 30 MINUTE
    WHERE s.event_type = 'signup'
    GROUP BY s.user_id
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#18 interval/range join: purchases within 30 min after a signup,
    per user. Equi conjunct on user_id → hash join + time-range
    residual (the scalable interval-join shape)."""
    ev = table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("s_user"), F.col("ts").alias("s_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    return (
        s.join(
            p,
            (F.col("s_user") == F.col("p_user"))
            & (F.col("p_ts") > F.col("s_ts"))
            & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .groupBy(F.col("s_user").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_purchases_30m"))
    )


def _asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase events (user_id, ts, event_id, …) with last_click_ts, the
    user's latest click at or before the purchase.

    Spark has no batch ASOF JOIN; the scalable emulation is
    union-the-streams + ``last(click_ts, ignorenulls)`` over a
    (user_id)-partitioned, ts-ordered window — one shuffle, no
    per-row subquery. Click rows sort before purchase rows at equal ts
    (side tag ascending) to match DuckDB's inclusive ``p.ts >= c.ts``."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(0).alias("side"),
        F.lit(None).cast("bigint").alias("event_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        "event_id",
        F.lit(None).cast("timestamp_ntz").alias("click_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = clicks.unionByName(purchases).withColumn(
        "last_click_ts", F.last("click_ts", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("side") == 1)


@query(
    "join_asof",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts AS purchase_ts, c.ts AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#19 as-of join: each purchase matched to the user's latest click
    at-or-before it (the window emulation of ``_asof_last_click``)."""
    return _asof_last_click(spark, sf_dir).select(
        "event_id", "user_id", F.col("ts").alias("purchase_ts"), "last_click_ts"
    )


@query(
    "join_multiway",
    oracle=f"""
    SELECT n.n_name, COUNT(*) AS n_items,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY n.n_name
    """,
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#20 4-table star join: revenue per nation. Facts sort-merge on
    their keys; nation is broadcast."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_items"), dsum(revenue).alias("revenue"))
    )


@query(
    "self_join",
    oracle="""
    SELECT a.l_orderkey, COUNT(*) AS n_pairs
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
    GROUP BY a.l_orderkey
    """,
)
def self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#21 self-join on orderkey with linenumber ordering (distinct
    line pairs per order)."""
    a = table(spark, sf_dir, "lineitem").alias("a")
    b = table(spark, sf_dir, "lineitem").alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_linenumber") < F.col("b.l_linenumber")),
        )
        .groupBy(F.col("a.l_orderkey").alias("l_orderkey"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "join_null_safe",
    oracle="""
    WITH c AS (
      SELECT c_custkey,
             CASE WHEN c_acctbal < 0 THEN NULL ELSE c_nationkey END AS nk
      FROM customer
    ), s AS (
      SELECT s_suppkey,
             CASE WHEN s_acctbal < 0 THEN NULL ELSE s_nationkey END AS nk
      FROM supplier
    )
    SELECT nationkey, (nationkey IS NULL) AS is_null_block,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(c_custkey) AS BIGINT) AS sum_custkey,
           CAST(SUM(s_suppkey) AS BIGINT) AS sum_suppkey
    FROM (
      SELECT c.c_custkey, s.s_suppkey, c.nk AS nationkey
      FROM c JOIN s ON c.nk IS NOT DISTINCT FROM s.nk
    )
    GROUP BY nationkey
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#12b null-safe equality join (<=> / IS NOT DISTINCT FROM):
    NULL keys match each other instead of vanishing — the semantics
    ETL key-reconciliation needs for sentinel rows.

    r14 contract reshape: the NULL×NULL block is a cross product
    (|neg-balance customers| × |neg-balance suppliers| — quadratic in
    data, ~61M pairs at sf1), so the query reports the per-key rollup
    of the joined frame (pair count + exact key checksums, NULL key
    kept as its own row) rather than collecting the block; membership
    of every pair is still pinned through the aggregate hash. The
    NULL-key hot spot is also the scale story: a production null-safe
    join salts or segregates the sentinel key, exactly because it
    degenerates to a single-reducer cross product otherwise."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, F.lit(None).cast("int"))
        .otherwise(F.col("c_nationkey"))
        .alias("c_nk"),
    )
    s = table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.when(F.col("s_acctbal") < 0, F.lit(None).cast("int"))
        .otherwise(F.col("s_nationkey"))
        .alias("s_nk"),
    )
    joined = c.join(s, c.c_nk.eqNullSafe(s.s_nk)).select(
        "c_custkey", "s_suppkey", F.col("c_nk").alias("nationkey")
    )
    return (
        joined.groupBy("nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("c_custkey").cast("long").alias("sum_custkey"),
            F.sum("s_suppkey").cast("long").alias("sum_suppkey"),
        )
        .select(
            "nationkey",
            F.col("nationkey").isNull().alias("is_null_block"),
            "n_pairs",
            "sum_custkey",
            "sum_suppkey",
        )
    )


@query(
    "join_interval_overlap",
    oracle="""
    WITH iv AS (
      SELECT event_id, event_type,
             epoch(ts) AS s,
             epoch(ts) + value * 60 AS e
      FROM events
    ),
    cells AS MATERIALIZED (
      -- r14: the plain theta form (type equality + interval
      -- inequalities) planned as a per-type cross product in DuckDB —
      -- ~2e11 filtered pairs at sf1. Mirror the same 1-h grid
      -- bucketing the Spark plan uses; identical emission rule, so
      -- identical rows at every scale.
      SELECT iv.event_id, iv.event_type, iv.s, iv.e, u.c AS cell
      FROM iv, UNNEST(generate_series(CAST(floor(iv.s / 3600) AS BIGINT),
                                      CAST(floor(iv.e / 3600) AS BIGINT))) AS u(c)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           {SUM_OVERLAP} AS sum_overlap_s,
           MAX(overlap_s) AS max_overlap_s,
           CAST(MIN(event_a) AS BIGINT) AS first_event_a
    FROM (
      SELECT a.event_id AS event_a, b.event_id AS event_b,
             a.event_type AS event_type,
             round(least(a.e, b.e) - greatest(a.s, b.s), 6) AS overlap_s
      FROM cells a JOIN cells b
        ON a.cell = b.cell
       AND a.event_type = b.event_type
       AND a.event_id < b.event_id
       AND a.s < b.e AND b.s < a.e
       AND CAST(floor(greatest(a.s, b.s) / 3600) AS BIGINT) = a.cell
    )
    GROUP BY event_type
    """.replace("{SUM_OVERLAP}", dsum_big_sql("overlap_s")),
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self join: each event spans [ts, ts + value
    minutes]; emit every same-type pair of events whose spans overlap,
    with the overlap length in seconds — the temporal-join family
    (concurrent-session detection, downtime correlation) the events
    table exists for.

    The oracle mirrors the same grid bucketing (since r14 — DuckDB
    planned the obvious theta form as a per-type cross product, ~2e11
    filtered pairs at sf1); the Spark plan is the
    **grid-bucketed interval join** — the shape that survives scale
    where a theta join degrades to a cartesian: time is cut into
    fixed-width cells (1 h; interval length is bounded by max(value)
    minutes << cell width, so each interval touches ≤ 2 cells), each
    interval is replicated to the cells it touches (explode over a
    2-element sequence — bounded fan-out), and candidates meet in an
    EQUI join on (cell, event_type) with the overlap predicate applied
    inside the matched bucket. Each overlapping pair is emitted exactly
    once, without a distinct: only the cell containing
    greatest(a.start, b.start) reports the pair (overlapping intervals
    always co-occupy that cell, any shared earlier cell is skipped).

    Epoch seconds come from one integer-microsecond division in both
    engines (unix_micros/1e6 vs epoch()), so the doubles are
    bit-identical and overlap_s is hash-stable at 6 dp.
    """
    cell_w = 3600  # seconds; fixture max interval = max(value) min ≈ 20 min
    ev = table(spark, sf_dir, "events")
    iv = ev.select(
        "event_id",
        "event_type",
        (F.unix_micros(F.expr("cast(ts as timestamp)")) / F.lit(1_000_000.0)).alias("s"),
        (
            F.unix_micros(F.expr("cast(ts as timestamp)")) / F.lit(1_000_000.0)
            + F.col("value") * 60
        ).alias("e"),
    )
    cells = iv.withColumn(
        "cell",
        F.explode(
            F.sequence(
                F.floor(F.col("s") / cell_w).cast("long"),
                F.floor(F.col("e") / cell_w).cast("long"),
            )
        ),
    )
    a = cells.alias("a")
    b = cells.alias("b")
    pair_cell_ok = (
        F.floor(F.greatest(F.col("a.s"), F.col("b.s")) / cell_w).cast("long")
        == F.col("a.cell")
    )
    pairs = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.event_id") < F.col("b.event_id"))
            & (F.col("a.s") < F.col("b.e"))
            & (F.col("b.s") < F.col("a.e")),
        )
        .filter(pair_cell_ok)
        .select(
            F.col("a.event_id").alias("event_a"),
            F.col("b.event_id").alias("event_b"),
            F.col("a.event_type").alias("event_type"),
            F.round(
                F.least(F.col("a.e"), F.col("b.e"))
                - F.greatest(F.col("a.s"), F.col("b.s")),
                6,
            ).alias("overlap_s"),
        )
    )
    # r14 contract reshape: the pair frame's cardinality is quadratic
    # in event density (235M rows at sf1) — a frame downstream
    # operators consume distributed, never a result a driver collects.
    # The query therefore reports the per-type rollup of the FULL pair
    # frame (count + exact-decimal overlap mass + max + min id), which
    # still pins every pair's membership and overlap value through the
    # aggregate hash while keeping the answer bounded at |event_types|.
    return pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        dsum_big("overlap_s").alias("sum_overlap_s"),
        F.max("overlap_s").alias("max_overlap_s"),
        F.min("event_a").cast("long").alias("first_event_a"),
    )


#: as-of staleness tolerance: a click older than this is too stale to
#: credit (the point-in-time feature-join contract — serving a feature
#: computed too long before the request is a correctness bug)
_ASOF_TOL_S = 24 * 3600


@query(
    "join_asof_tolerance",
    oracle=f"""
    SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
           CASE WHEN c.ts IS NOT NULL
                 AND date_diff('second', c.ts, p.ts) <= {_ASOF_TOL_S}
                THEN c.ts END AS click_ts_within,
           CASE WHEN c.ts IS NOT NULL
                 AND date_diff('second', c.ts, p.ts) <= {_ASOF_TOL_S}
                THEN 1 ELSE 0 END AS matched
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH STALENESS TOLERANCE: each purchase matched to
    the user's latest click at-or-before it, but only credited when
    that click is at most 24 h old — the point-in-time feature-join
    contract (a feature computed long before the request must not be
    served as fresh). Purchases whose nearest click is older keep a
    NULL match and matched = 0, so the tolerance actually filters.

    The oracle is DuckDB's NATIVE ASOF JOIN plus the tolerance CASE —
    the strongest available cross-check for Spark's emulation (union
    the streams, last(click_ts, ignorenulls) over a user-partitioned
    (ts, side) window, then the same tolerance gate). One shuffle on
    user_id; no per-row subquery; a user's history sorts within one
    task — the standard as-of contract."""
    fresh = (
        F.col("last_click_ts").isNotNull()
        & (
            F.unix_timestamp("ts") - F.unix_timestamp("last_click_ts")
            <= _ASOF_TOL_S
        )
    )
    return _asof_last_click(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.when(fresh, F.col("last_click_ts")).alias("click_ts_within"),
        F.when(fresh, F.lit(1)).otherwise(F.lit(0)).alias("matched"),
    )


#: Conf keys toggled (and restored) around the Bloom-join execution.
_BLOOM_CONFS = {
    # fact side must take the shuffle path for a runtime filter to matter
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    # at sf0.1 the fact scan is far below the 10 GiB default that gates
    # injection on real clusters; 0 makes the tiny fixture eligible
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
}


def bloom_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy plan: urgent-orders revenue by return flag, shuffle-join
    shaped so InjectRuntimeFilter puts a Bloom filter on the fact scan."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
    )


@query(
    "join_bloom_runtime",
    oracle=f"""
    SELECT l.l_returnflag, COUNT(*) AS n_items,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY l.l_returnflag
    """,
)
def join_bloom_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle join with a runtime row-level Bloom filter: the selective
    dimension (urgent orders, ~20%) builds a Bloom filter over its join
    keys (`bloom_filter_agg` in the plan), and Catalyst injects a
    `might_contain` predicate into the FACT side — fact rows that
    cannot match are dropped before the
    shuffle, which at 100 TB is the difference between shuffling the
    whole fact table and shuffling the surviving fraction. This is the
    shuffle-join analogue of dynamic partition pruning (which needs a
    partitioned layout; the Bloom filter needs nothing).

    The injection gate (`applicationSideScanSizeThreshold`, 10 GiB on
    real clusters) is lowered for the fixture and restored after an
    eager execution, so the toggles never leak into other queries'
    plans; tests/test_plans.py pins `bloom_filter_agg` + `might_contain`
    in the optimized plan."""
    with scoped_confs(spark, _BLOOM_CONFS):
        # eager: the plan must optimize (and so inject the filter) while
        # the confs are in force
        return bloom_join_frame(spark, sf_dir).localCheckpoint(eager=True)


@query(
    "join_hinted_strategies",
    oracle=f"""
    WITH agg AS (
      SELECT s.s_nationkey, COUNT(*) AS n_items,
             {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY s.s_nationkey
    )
    SELECT strat.strategy, a.s_nationkey, a.n_items, a.revenue
    FROM agg a
    CROSS JOIN (VALUES ('broadcast'), ('merge'), ('shuffle_hash'))
      AS strat(strategy)
    """,
)
def join_hinted_strategies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit physical-join-strategy control: the same
    revenue-per-supplier-nation join planned three ways — BROADCAST,
    MERGE (sort-merge), and SHUFFLE_HASH — via join hints, unioned with
    a strategy label. All three branches MUST produce identical values
    (the oracle is one aggregate × three labels); what differs is the
    plan, and tests/test_plans.py pins that all three operators appear
    simultaneously — proof the hints survive optimization rather than
    collapsing to whatever AQE would pick.

    Why it's a first-class operator: at 100 TB the optimizer's
    size-based choice is sometimes wrong in ways only the user can know
    (a dimension that fits memory AFTER pruned columns, a fact pair
    where sort order will be reused downstream) — hint pass-through is
    the escape hatch every warehouse engine must expose.

    Scale note: the three-way union here is a demonstration; a real
    query picks one. Each branch shuffles/broadcasts independently —
    Spark does not share the scan across union branches without
    explicit caching, which is the correct trade for a plan demo."""
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier")

    def branch(hint: str) -> DataFrame:
        return (
            li.join(sup.hint(hint), li.l_suppkey == sup.s_suppkey)
            .groupBy("s_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                dsum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).alias("revenue"),
            )
            .select(F.lit(hint).alias("strategy"), "*")
        )

    return (
        branch("broadcast")
        .unionAll(branch("merge"))
        .unionAll(branch("shuffle_hash"))
    )


@query(
    "join_dpp_partitioned",
    oracle=f"""
    SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
           COUNT(*) AS n_items,
           {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    WHERE month(l_shipdate) BETWEEN 4 AND 6
    GROUP BY strftime(l_shipdate, '%Y-%m')
    """,
    tags=("staged",),
)
def join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: Q2 revenue by ship month, computed as
    a join between a hive-partitioned fact (lineitem laid out by
    ship_month — the staged sink) and a filtered month dimension. At
    plan time the pruning predicate is unknown (it depends on the dim's
    surviving rows); at runtime Spark evaluates the dim subquery first
    (`dynamicpruning#...` / SubqueryAdaptiveBroadcast in the plan,
    reusing the join's own broadcast) and prunes fact DIRECTORIES
    before the scan — only ~1/4 of the partitions are read.

    This is the layout-based twin of join_bloom_runtime: DPP prunes
    whole partitions when the join key IS the partition key; the Bloom
    filter prunes rows when there is no helpful layout. A 100 TB
    warehouse wants both: date-partitioned facts make every
    date-dim-filtered join scan only the matching directories.
    tests/test_plans.py pins the dynamicpruning subquery on the fact
    scan and that the pruned scan reads fewer partitions than exist.

    Warm-up tag ``staged``: the month-partitioned fact is staged once
    per process, so bench's timed pass measures the DPP join, not the
    sink."""
    li = table(spark, sf_dir, "lineitem")

    def _write(path: str) -> None:
        (
            li.withColumn(
                "ship_month", F.date_format("l_shipdate", "yyyy-MM")
            )
            # cluster rows by partition key first: one file per month
            # directory instead of (input tasks × months) small files —
            # the write discipline any partitioned 100 TB sink needs
            .repartition("ship_month")
            .write.mode("overwrite")
            .partitionBy("ship_month")
            .parquet(path)
        )

    path = stage_once("dpp/lineitem_by_month", sf_dir, _write)
    fact = spark.read.parquet(path)
    # month dimension: distinct months with a derived quarter attribute,
    # filtered to Q2 — the selective dim whose survivors drive the prune
    dim = (
        li.select(
            F.date_format("l_shipdate", "yyyy-MM").alias("ship_month")
        )
        .distinct()
        .filter(F.expr("int(substr(ship_month, 6, 2))").between(4, 6))
    )
    return (
        fact.join(dim, "ship_month")
        .groupBy("ship_month")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
    )
