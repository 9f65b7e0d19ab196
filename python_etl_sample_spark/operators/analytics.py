"""Composite analytical queries + distribution-strategy demos.

The first three are TPC-H-shaped business queries adapted to the
reduced fixture columns (FIXTURES.md — no shippriority/comment etc.),
exercising multi-join + filter + agg + top-k pipelines end to end: the
workload the engine exists for.

The last three demonstrate — with hash-checked results equal to their
naive forms — the three distribution strategies that decide whether a
join survives 100 TB: broadcast (in joins.py), salting for skew, and
bucketed co-location that removes the shuffle entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_sample_spark.functions.determinism import dsum, dsum_sql
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table

_REVENUE = "l_extendedprice * (1 - l_discount)"


@query(
    "q_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           {dsum_sql(_REVENUE)} AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped: top-10 unshipped BUILDING orders by revenue."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp_ntz")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp_ntz")
    )
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@query(
    "q_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name, {dsum_sql(_REVENUE)} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND c.c_nationkey = s.s_nationkey
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped: revenue where customer and supplier share the
    nation, ASIA, 2 years. Facts sort-merge; dims broadcast."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    r = F.broadcast(table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(revenue).alias("revenue"))
    )


@query(
    "q_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {dsum_sql(_REVENUE)} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-shaped: top-20 customers by returned-item revenue in
    one quarter."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "sample_split",
    oracle=f"""
    WITH tagged AS (
      SELECT o_totalprice,
             CASE WHEN (o_orderkey % 1000003) * 31 % 100 < 80 THEN 'train'
                  WHEN (o_orderkey % 1000003) * 31 % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM orders
    )
    SELECT split, COUNT(*) AS n, {dsum_sql('o_totalprice')} AS total_price
    FROM tagged GROUP BY split
    """,
)
def sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test split (80/10/10) — the
    reproducible sampling a training-data pipeline needs. Key-derived
    modular hashing (not rand(seed), whose draws depend on
    partitioning) → identical assignment in any engine, at any
    parallelism, on any day."""
    o = table(spark, sf_dir, "orders")
    bucket = (F.col("o_orderkey") % 1000003) * 31 % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        o.select("o_totalprice", split.alias("split"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("total_price"))
    )


@query(
    "join_skew_salted",
    oracle=f"""
    SELECT l.l_returnflag, COUNT(*) AS n_items, {dsum_sql('l.l_extendedprice')} AS total
    FROM lineitem l
    GROUP BY l.l_returnflag
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation demo with a hash-checked result: join the fact
    table to a 3-row dimension on an extremely skewed key
    (l_returnflag — 3 values over the whole table) by SALTING: the dim
    replicates ×8, the fact side derives salt = l_orderkey % 8, and the
    join key becomes (flag, salt) — no reducer sees more than ~1/8 of a
    hot key. The oracle is the unsalted equivalent, proving salting
    changes the distribution, not the answer."""
    li = table(spark, sf_dir, "lineitem")
    n_salt = 8
    dim = (
        li.select("l_returnflag")
        .distinct()
        .withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)])))
        .withColumnRenamed("l_returnflag", "flag")
    )
    fact = li.select(
        "l_returnflag", "l_extendedprice", (F.col("l_orderkey") % n_salt).alias("salt")
    )
    joined = fact.join(
        F.broadcast(dim),
        (fact.l_returnflag == dim.flag) & (fact.salt == dim.salt),
    )
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"), dsum("l_extendedprice").alias("total")
    )


@query(
    "join_bucketed",
    oracle="""
    SELECT l.l_orderkey, COUNT(*) AS n_lines, o.o_totalprice
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY l.l_orderkey, o.o_totalprice
    """,
    tags=("staged",),
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join: lineitem and orders both bucketed
    by the join key into 8 buckets (saveAsTable + bucketBy). The join
    and the following groupBy on the same key then require ZERO
    exchanges (asserted in tests/test_plans.py) — at 100 TB this is THE
    difference between a nightly job and an interactive one for
    repeatedly-joined fact tables."""
    import os

    from python_etl_sample_spark.scratch import scratch_path

    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    li_tbl, o_tbl = f"b_lineitem_{sf_tag}", f"b_orders_{sf_tag}"

    def ensure_bucketed(tbl: str, src_name: str, cols: list[str], key: str) -> None:
        if spark.catalog.tableExists(tbl):
            return
        # external table under per-process scratch (scratch_path keys by
        # sf_dir hash + pid, so concurrent runs never race): the data
        # location is pinned inside the repo regardless of the session's
        # warehouse dir, and stale data from a previous registration is
        # cleared before re-registering
        import shutil

        path = scratch_path(f"bucketed/{tbl}", sf_dir)
        shutil.rmtree(path, ignore_errors=True)
        table(spark, sf_dir, src_name).select(*cols).write.bucketBy(8, key).sortBy(
            key
        ).mode("overwrite").option("path", path).saveAsTable(tbl)

    ensure_bucketed(
        li_tbl, "lineitem", ["l_orderkey", "l_linenumber", "l_extendedprice"], "l_orderkey"
    )
    ensure_bucketed(
        o_tbl, "orders", ["o_orderkey", "o_totalprice", "o_orderstatus"], "o_orderkey"
    )

    li = spark.table(li_tbl)
    o = spark.table(o_tbl).filter(F.col("o_orderstatus") == "F")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_totalprice")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .select("l_orderkey", "n_lines", "o_totalprice")
    )


@query(
    "ts_gap_fill",
    oracle="""
    WITH hourly AS (
      SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT (CAST(floor(epoch(min(ts))) AS BIGINT) // 3600) AS h0,
             (CAST(floor(epoch(max(ts))) AS BIGINT) // 3600) AS h1
      FROM events
    ), grid AS (
      SELECT t.event_type, gs.hr
      FROM (SELECT DISTINCT event_type FROM events) t,
           bounds, UNNEST(generate_series(bounds.h0, bounds.h1)) AS gs(hr)
    )
    SELECT g.event_type, g.hr, CAST(COALESCE(h.n, 0) AS BIGINT) AS n
    FROM grid g LEFT JOIN hourly h
      ON g.event_type = h.event_type AND g.hr = h.hr
    """,
)
def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill — the hypertable-style densification every
    monitoring/feature pipeline needs: hourly counts per event type with
    MISSING hours materialized as zero rows, so downstream windows and
    joins see a complete grid.

    Shape: one partial-agg groupBy for the observed hours; the dense
    hour axis comes from ``sequence()`` over the global [min, max] hour
    (a 1-row broadcast — never a big-side cross product), exploded per
    event type; a left join zero-fills. At 100 TB the grid is
    #types × #hours (tiny by construction) while the fact side
    aggregates before joining — the join touches pre-aggregated rows
    only. Hours are exchanged as epoch-hour bigints to keep the grid
    arithmetic engine-exact."""
    ev = table(spark, sf_dir, "events")
    hr = F.expr("unix_timestamp(cast(ts as timestamp)) div 3600")
    hourly = ev.groupBy(F.col("event_type"), hr.alias("hr")).agg(
        F.count(F.lit(1)).alias("n")
    )
    bounds = ev.agg(
        F.expr("unix_timestamp(cast(min(ts) as timestamp)) div 3600").alias("h0"),
        F.expr("unix_timestamp(cast(max(ts) as timestamp)) div 3600").alias("h1"),
    )
    types = ev.select("event_type").distinct()
    grid = types.join(F.broadcast(bounds)).select(
        "event_type", F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("hr")
    )
    return grid.join(hourly, ["event_type", "hr"], "left").select(
        "event_type", "hr", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )


@query(
    "events_funnel",
    oracle="""
    WITH s AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), v AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'view' AND e.ts > s.t1
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.ts > v.t2
      GROUP BY e.user_id
    )
    SELECT 1 AS step_no, 'signup' AS step,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM s) AS n_users
    UNION ALL SELECT 2, 'view', (SELECT CAST(COUNT(*) AS BIGINT) FROM v)
    UNION ALL SELECT 3, 'purchase', (SELECT CAST(COUNT(*) AS BIGINT) FROM p)
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis — the product-analytics staple: how many
    users progressed signup → view → purchase IN TIME ORDER. Each step's
    timestamp must strictly follow the previous step's earliest
    qualifying timestamp (min-after semantics), so a user whose only
    views precede their signup does not convert.

    Shape: three conditional min-aggregations chained by equi joins on
    user_id — not a per-user ordered window, so no single partition ever
    sorts a whole user history. Each phase filters to one event type
    BEFORE joining (the join input shrinks to step survivors), shuffles
    only (user_id, ts) pairs, and the per-step survivor sets fit memory
    at any corpus size since they only ever shrink. The final step
    counts are one-row aggregates unioned JVM-side.
    """
    ev = table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def step(df: DataFrame, no: int, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(no).alias("step_no"), F.lit(name).alias("step"), "n_users"
        )

    return step(s, 1, "signup").unionAll(step(v, 2, "view")).unionAll(
        step(p, 3, "purchase")
    )


@query(
    "etl_scd2_history",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), changes AS (
      SELECT user_id, event_type AS state, ts AS valid_from, event_id
      FROM ordered WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id, state, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from, event_id) AS valid_to,
           LEAD(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from, event_id) IS NULL AS is_current
    FROM changes
    """,
)
def etl_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build — the warehouse pattern
    for turning an event stream into validity intervals: collapse each
    user's event history into change-points (rows where the event type
    differs from the previous one), then stitch [valid_from, valid_to)
    ranges with the next change's timestamp; the open interval is the
    current state. Ties on ts break on event_id in BOTH windows so the
    history is deterministic at any parallelism.

    Scale: one shuffle on user_id; both windows sort within the same
    partitioning, so the lag-detect and lead-stitch phases reuse one
    exchange (the change-point filter shrinks rows between them). The
    compressed history is what downstream point-in-time joins
    (join_asof) consume."""
    ev = table(spark, sf_dir, "events")
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w_lag))
        .filter(
            F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type"))
        )
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            "event_id",
        )
    )
    w_lead = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return changes.select(
        "user_id",
        "state",
        "valid_from",
        F.lead("valid_from").over(w_lead).alias("valid_to"),
        F.lead("valid_from").over(w_lead).isNull().alias("is_current"),
    )


@query(
    "attribution_last_touch",
    oracle="""
    WITH t AS (
      SELECT user_id, event_id, event_type, ts,
             LAST_VALUE(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ts
      FROM events WHERE event_type IN ('click', 'purchase')
    )
    SELECT user_id, event_id, last_click_ts IS NOT NULL AS attributed,
           date_diff('microsecond', last_click_ts, ts) AS latency_us
    FROM t WHERE event_type = 'purchase'
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution — for every purchase, find the same
    user's most recent STRICTLY PRIOR click (ignore-nulls last_value
    over a ROWS … 1 PRECEDING frame) and report whether the purchase is
    attributed plus the click→purchase latency in microseconds — the
    fixtures' native resolution, where timestampdiff (full units
    elapsed) and DuckDB's date_diff (boundaries crossed) coincide
    exactly; at coarser units the two engines' semantics diverge on
    sub-unit fractions. Unattributed purchases surface with NULL
    latency rather than dropping, so conversion accounting stays
    complete.

    Scale: events filter to the two relevant types BEFORE the shuffle;
    one exchange on user_id, one sort, map-side projection after — the
    same shape at any fan-in. The frame is running state, not a
    re-scan per row."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("last_click_ts", last_click)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.col("last_click_ts").isNotNull().alias("attributed"),
            F.expr("timestampdiff(MICROSECOND, last_click_ts, ts)")
            .cast("bigint")
            .alias("latency_us"),
        )
    )


@query(
    "join_point_in_time_scd2",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), changes AS (
      SELECT user_id, event_type AS state, ts AS valid_from, event_id
      FROM ordered WHERE prev_type IS NULL OR event_type <> prev_type
    ), hist AS (
      SELECT user_id, state, valid_from,
             LEAD(valid_from) OVER (PARTITION BY user_id
                                    ORDER BY valid_from, event_id) AS valid_to
      FROM changes
    ), probes AS (
      SELECT user_id, event_id, ts - INTERVAL 30 MINUTE AS t
      FROM events WHERE event_type = 'purchase'
    )
    SELECT COALESCE(h.state, 'no_state_yet') AS state_at_probe,
           COUNT(*) AS n_probes,
           COUNT(DISTINCT p.user_id) AS n_users
    FROM probes p
    LEFT JOIN hist h
      ON h.user_id = p.user_id
     AND h.valid_from <= p.t
     AND (h.valid_to > p.t OR h.valid_to IS NULL)
    GROUP BY 1
    """,
)
def join_point_in_time_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join against SCD2 history — THE feature-store
    correctness primitive: for every purchase, the user's state as of
    30 minutes BEFORE the purchase (feature leakage guard: a feature
    computed at serving time must only see state already valid then).
    Reuses etl_scd2_history's stitched intervals and probes them with
    a half-open [valid_from, valid_to) containment join; probes before
    a user's first state surface as 'no_state_yet' rather than
    silently dropping.

    Scale: history is the COMPRESSED change-point frame (≪ events);
    the join is an equi join on user_id with a range residual — both
    sides hash-partition on the key, and each user's interval list is
    small (bounded by their change count), so the residual scan is
    per-user-local. This is the batch twin of what join_asof does for
    ordered streams."""
    hist = etl_scd2_history(spark, sf_dir).select(
        "user_id", "state", "valid_from", "valid_to"
    )
    ev = table(spark, sf_dir, "events")
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        (F.col("ts") - F.expr("INTERVAL 30 MINUTES")).alias("t"),
    )
    p, h = probes.alias("p"), hist.alias("h")
    joined = p.join(
        h,
        (F.col("h.user_id") == F.col("p.user_id"))
        & (F.col("h.valid_from") <= F.col("p.t"))
        & ((F.col("h.valid_to") > F.col("p.t")) | F.col("h.valid_to").isNull()),
        "left",
    )
    return (
        joined.select(
            F.coalesce(F.col("h.state"), F.lit("no_state_yet")).alias(
                "state_at_probe"
            ),
            F.col("p.user_id").alias("uid"),
        )
        .groupBy("state_at_probe")
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.countDistinct("uid").alias("n_users"),
        )
    )
