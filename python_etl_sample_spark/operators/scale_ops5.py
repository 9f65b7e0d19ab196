"""Round-5 scale operators: batch sessionization, sweep-line
concurrency, co-occurrence mining, runtime Bloom-filter join, Z-order
clustering, and winsorized robust aggregation.

Each one exists because it changes shape at 100 TB:

- Sessionization and the sweep line are the two canonical "order by
  time within key" rewrites — both become a single shuffle + sorted
  window, never a self-join.
- Co-occurrence (market-basket pairs) is the controlled quadratic: the
  blow-up is per-basket k², bounded by basket size, never corpus².
- The runtime Bloom-filter join is the shuffle-join analogue of
  partition pruning: the dimension's filtered keys prune fact rows
  *before* the fact side shuffles — at 100 TB that is the difference
  between shuffling 100 TB and shuffling the 2% that survives.
- Z-order clustering is write-side data skipping: interleaving the bits
  of two predicate columns gives every file a tight bounding box in
  BOTH dimensions, so min/max footer stats prune scans for either
  predicate (linear sort only prunes its leading column).
- Winsorized mean is the robust-statistics twin of the exact-percentile
  operator: clamp to [p05, p95], then aggregate.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_sample_spark.functions.determinism import davg_sql, dsum, dsum_sql
from python_etl_sample_spark.functions.total_order import attach_global_order
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.scratch import stage_once
from python_etl_sample_spark.sources import table

#: Session gap threshold: a pause longer than this starts a new session.
_SESSION_GAP_S = 30 * 60


@query(
    "events_sessionize",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR date_diff('second', LAG(ts) OVER w, ts)
                          > {_SESSION_GAP_S}
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS session_idx
      FROM marked
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT)
             AS duration_s
    FROM numbered
    GROUP BY user_id, session_idx
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based batch sessionization: a user's events split into
    sessions wherever the pause exceeds 30 minutes; one output row per
    session with its bounds, event count, and duration.

    The classic rewrite: LAG to mark session starts, running SUM of the
    marks to number sessions, groupBy(user, session_idx) to summarize.
    Adjacency is pinned to the (ts, event_id) total order — the
    engine-wide tie-break law — so session numbering is identical
    across engines and partitionings.

    Scale: ONE shuffle by user_id serves the lag, the running sum, and
    (via partial aggregation) the session rollup — Spark reuses the
    same sort order for both windows. A user's history must fit an
    executor's sort spill — the standard sessionization contract; no
    self-join, no state blow-up. This is the batch twin of
    stream_session (session windows with the same 30-min gap)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    marked = ev.withColumn(
        "is_new",
        F.when(gap_s.isNull() | (gap_s > _SESSION_GAP_S), 1).otherwise(0),
    )
    numbered = marked.withColumn(
        "session_idx",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return numbered.groupBy("user_id", "session_idx").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).alias("duration_s"),
    )


#: Synthetic interval length for the concurrency sweep: each event
#: holds a resource for 15 minutes from its timestamp.
_HOLD_S = 15 * 60


@query(
    "events_max_concurrent",
    oracle=f"""
    WITH deltas AS (
      SELECT ts AS t, 1 AS delta FROM events
      UNION ALL
      SELECT ts + INTERVAL {_HOLD_S} SECOND AS t, -1 AS delta FROM events
    ), swept AS (
      SELECT t, CAST(SUM(delta) OVER (ORDER BY t, delta
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS live
      FROM deltas
    )
    SELECT CAST(CAST(t AS DATE) AS TIMESTAMP) AS day,
           MAX(live) AS max_concurrent
    FROM swept
    GROUP BY CAST(t AS DATE)
    """,
)
def events_max_concurrent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day via the sweep line: every event opens a
    15-minute hold; +1/-1 deltas at open/close, a running sum ordered by
    (time, delta), and the per-day MAX of the live count.

    Ordering deltas ascending at equal timestamps (-1 before +1) makes
    the holds half-open [t, t+15m) — a close and an open at the same
    instant never double-count. Ties beyond (t, delta) are harmless by
    construction: within a tie group all deltas are equal, so the set of
    running values the group contributes — and therefore its MAX — is
    order-independent.

    Scale: the naive count-overlaps self-join is O(n·k); the sweep is a
    UNION ALL (map-only) plus the two-pass range-partitioned prefix sum
    of functions/total_order.py — the delta frame is 2·|events|, so a
    partitionless window would be the single-task trap. Tie groups that
    straddle a range boundary still yield the same per-group SET of
    running values (consecutive prefix slots), so the per-day MAX is
    unchanged — the same argument that makes in-group ordering
    irrelevant."""
    ev = table(spark, sf_dir, "events")
    opens = ev.select(F.col("ts").alias("t"), F.lit(1).alias("delta"))
    closes = ev.select(
        (F.col("ts") + F.expr(f"INTERVAL {_HOLD_S} SECOND")).alias("t"),
        F.lit(-1).alias("delta"),
    )
    swept = attach_global_order(
        opens.unionAll(closes),
        [F.asc("t"), F.asc("delta")],
        cumsums=[("delta", "live")],
    ).select("t", "live")
    return swept.groupBy(
        F.to_date("t").cast("timestamp_ntz").alias("day")
    ).agg(F.max("live").alias("max_concurrent"))


@query(
    "basket_brand_pairs_lift",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), n_orders AS (
      SELECT COUNT(DISTINCT l_orderkey) AS n FROM baskets
    ), brand_n AS (
      SELECT p_brand, COUNT(*) AS n_brand FROM baskets GROUP BY p_brand
    ), pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
             COUNT(*) AS n_ab
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY a.p_brand, b.p_brand
    )
    SELECT p.brand_a, p.brand_b, p.n_ab,
           ROUND(p.n_ab * 1.0 * o.n / (na.n_brand * nb.n_brand), 6)
             AS lift
    FROM pairs p
    JOIN brand_n na ON na.p_brand = p.brand_a
    JOIN brand_n nb ON nb.p_brand = p.brand_b
    CROSS JOIN n_orders o
    WHERE p.n_ab >= 2
    """,
    tags=("memo",),
)
def basket_brand_pairs_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: for every pair of part brands that
    appear together in an order at least twice, the pair count and its
    lift (observed co-occurrence over the independence expectation).

    Scale: the one quadratic step — the per-basket pair expansion — is
    a self-equi-join on l_orderkey, so the blow-up is Σ per-basket k²,
    bounded by basket size (TPC-H ≤ 7 lines), never corpus². The brand
    lookup broadcasts (part is a dimension), the brand-marginal and
    order-count frames are tiny and broadcast back onto the pair list.
    This is the frequent-pair half of A-Priori, which is what survives
    at warehouse scale; brand cardinality (~25) keeps the output a few
    hundred rows."""
    from python_etl_sample_spark.cache import cached_df

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # the distinct basket frame feeds FOUR consumers (pair join ×2,
    # brand marginals, order count) — memoize it per session so the
    # scan+broadcast-join+distinct runs once, not four times (cache.py,
    # same lifecycle as the GEMM grid / shingle frames)
    baskets = cached_df(
        spark,
        ("basket_brands", sf_dir),
        lambda: li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct(),
    )
    n_orders = baskets.select(
        F.countDistinct("l_orderkey").alias("n")
    )
    brand_n = baskets.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_brand")
    )
    # per-basket pair expansion without the self-join (r14): one
    # groupBy shuffle of the cached basket frame + a map-side double
    # posexplode over the sorted per-order brand set replaces the
    # former equi-self-join, which shuffled the SAME frame twice (both
    # join sides hash by l_orderkey). sort_array + (j > i) reproduces
    # the a.brand < b.brand pair set exactly; basket size is ≤ 7
    # lines, so the explode fan-out stays per-basket-bounded.
    per_order = baskets.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("p_brand")).alias("bs")
    )
    pairs = (
        per_order.select("bs", F.posexplode("bs").alias("i", "brand_a"))
        .select("brand_a", "i", F.posexplode("bs").alias("j", "brand_b"))
        .filter(F.col("j") > F.col("i"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    na = brand_n.select(
        F.col("p_brand").alias("brand_a"), F.col("n_brand").alias("na")
    )
    nb = brand_n.select(
        F.col("p_brand").alias("brand_b"), F.col("n_brand").alias("nb")
    )
    return (
        pairs.join(F.broadcast(na), "brand_a")
        .join(F.broadcast(nb), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            F.round(
                F.col("n_ab") * 1.0 * F.col("n") / (F.col("na") * F.col("nb")),
                6,
            ).alias("lift"),
        )
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
    old = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    for k, v in _BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        # eager: the plan must optimize (and so inject the filter) while
        # the confs are in force
        return bloom_join_frame(spark, sf_dir).localCheckpoint(eager=True)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


#: Bits per dimension interleaved into the Z-value.
_Z_BITS = 8


def _z_value_spark(cust: F.Column, doy: F.Column) -> F.Column:
    """Interleave the low 8 bits of two columns into a 16-bit Z-value."""
    c = cust % 256
    d = doy % 256
    z = F.lit(0)
    for i in range(_Z_BITS):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(c, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(d, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return z


def _z_value_sql(cust: str, doy: str) -> str:
    """The same interleave as a DuckDB SQL expression."""
    terms = []
    for i in range(_Z_BITS):
        # every term fully parenthesized: DuckDB binds | tighter than <<
        terms.append(f"(((({cust} % 256) >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"(((({doy} % 256) >> {i}) & 1) << {2 * i})")
    return "(" + " | ".join(terms) + ")"


@query(
    "etl_zorder_clustering",
    oracle=f"""
    WITH z AS (
      SELECT o_custkey,
             date_part('doy', o_orderdate) AS doy,
             {_z_value_sql('o_custkey', "date_part('doy', o_orderdate)")}
               AS zval
      FROM orders
    )
    SELECT CAST(zval // 1024 AS BIGINT) AS bucket,
           COUNT(*) AS n_orders,
           MIN(o_custkey) AS cust_min, MAX(o_custkey) AS cust_max,
           CAST(MIN(doy) AS BIGINT) AS doy_min,
           CAST(MAX(doy) AS BIGINT) AS doy_max,
           CAST(((MAX(o_custkey) % 256) - (MIN(o_custkey) % 256) + 1)
                * ((MAX(doy) % 256) - (MIN(doy) % 256) + 1) AS BIGINT)
             AS bbox_area
    FROM z
    GROUP BY zval // 1024
    """,
    tags=("staged",),
)
def etl_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering of orders on (custkey, day-of-year):
    interleave 8 bits of each into a 16-bit Z-value, cluster into 64
    Z-ranges, and report each range's row count and bounding box.

    Why it matters at 100 TB: parquet prunes row groups by min/max
    footer stats. A linear sort gives tight stats on the sort column
    only; Z-ordering gives every file a tight bounding box in BOTH
    dimensions (each Z-range spans ≤ 16×16 of the 256×256 key grid, vs
    a full 256-wide stripe for the second column of a lexicographic
    sort), so predicates on either column skip most files. The operator
    also writes the clustered layout to scratch
    (repartitionByRange(z) + sortWithinPartitions) — the actual sink a
    table-maintenance job would run; tests/test_plans.py measures the
    skipping on the written files. The hashed output is the bucket
    summary: pure integer math, engine-exact.

    Warm-up tag ``staged``: the clustered layout is written once per
    process, so bench's timed pass measures the bucket summary, not the
    sink."""
    o = table(spark, sf_dir, "orders")
    z = o.select(
        "o_custkey",
        F.dayofyear("o_orderdate").alias("doy"),
        _z_value_spark(F.col("o_custkey"), F.dayofyear("o_orderdate")).alias(
            "zval"
        ),
    )

    def _write(path: str) -> None:
        zd = o.select(
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            _z_value_spark(
                F.col("o_custkey"), F.dayofyear("o_orderdate")
            ).alias("zval"),
        )
        (
            zd.repartitionByRange(16, "zval")
            .sortWithinPartitions("zval")
            .write.mode("overwrite")
            .parquet(path)
        )

    stage_once("zorder/orders_clustered", sf_dir, _write)
    return z.groupBy(
        (F.col("zval") / 1024).cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_custkey").alias("cust_min"),
        F.max("o_custkey").alias("cust_max"),
        F.min("doy").cast("long").alias("doy_min"),
        F.max("doy").cast("long").alias("doy_max"),
        (
            ((F.max("o_custkey") % 256) - (F.min("o_custkey") % 256) + 1)
            * ((F.max("doy") % 256) - (F.min("doy") % 256) + 1)
        ).cast("long").alias("bbox_area"),
    )


@query(
    "events_pattern_funnel_runs",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), islands_raw AS (
      SELECT user_id, event_type,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS island
      FROM marked
    ), islands AS (
      SELECT user_id, island, event_type, COUNT(*) AS run_len
      FROM islands_raw GROUP BY user_id, island, event_type
    ), pat AS (
      SELECT user_id, event_type,
             LAG(event_type, 1) OVER wi AS prev1,
             LAG(event_type, 2) OVER wi AS prev2,
             LAG(run_len, 1) OVER wi AS click_run
      FROM islands
      WINDOW wi AS (PARTITION BY user_id ORDER BY island)
    )
    SELECT user_id, COUNT(*) AS n_matches,
           CAST(SUM(click_run) AS BIGINT) AS clicks_consumed
    FROM pat
    WHERE event_type = 'purchase' AND prev1 = 'click' AND prev2 = 'view'
    GROUP BY user_id
    """,
)
def events_pattern_funnel_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-pattern matching (the MATCH_RECOGNIZE capability class):
    find every occurrence of the pattern view → click+ → purchase in
    each user's event sequence — a purchase immediately preceded by an
    unbroken run of one-or-more clicks, itself immediately preceded by
    a view. Variable-length patterns defeat fixed-offset LAG on raw
    rows; the rewrite is run-length ("island") compression first —
    consecutive same-type events collapse to one island row — after
    which the variable-length `click+` is a SINGLE island and the
    pattern is a fixed 2-step lag over islands.

    Per match the output also sums the click-run length (the `B+`
    greedy capture a MATCH_RECOGNIZE MEASURES clause would report).
    Adjacency is pinned to the engine-wide (ts, event_id) total order.

    Scale: one shuffle on user_id serves the row-level island
    numbering, the island rollup (hash(user_id) satisfies the
    clustered distribution), and the island-level lags — the same
    single-shuffle shape as events_sessionize; nothing scans pattern
    candidates quadratically."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.withColumn(
        "is_new",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        ).otherwise(0),
    )
    islands_raw = marked.withColumn(
        "island",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    islands = islands_raw.groupBy("user_id", "island", "event_type").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    wi = Window.partitionBy("user_id").orderBy("island")
    pat = islands.select(
        "user_id",
        "event_type",
        F.lag("event_type", 1).over(wi).alias("prev1"),
        F.lag("event_type", 2).over(wi).alias("prev2"),
        F.lag("run_len", 1).over(wi).alias("click_run"),
    )
    return (
        pat.filter(
            (F.col("event_type") == "purchase")
            & (F.col("prev1") == "click")
            & (F.col("prev2") == "view")
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.sum("click_run").alias("clicks_consumed"),
        )
    )


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


@query(
    "etl_compact_small_files",
    oracle="""
    SELECT 'before' AS phase, 64 AS n_files, COUNT(*) AS n_rows
    FROM events
    UNION ALL
    SELECT 'after' AS phase, 4 AS n_files, COUNT(*) AS n_rows
    FROM events
    """,
    tags=("staged",),
)
def etl_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction — the other half of table maintenance
    next to Z-ordering: a landing directory of 64 tiny files (what
    per-trigger streaming ingestion leaves behind) rewritten into 4
    right-sized files. The output counts files via the _metadata
    column, so the oracle's literal 64/4 is a REAL assertion about the
    physical layout the writes produced, and the row counts prove
    compaction lost nothing.

    Scale: small files are the silent killer of 100 TB scans — every
    file costs a task launch, a footer read, and a seek; compaction
    amortizes them (64 → 4 here; 10⁶ → 10⁴ in production). The rewrite
    is one round-robin repartition — no shuffle key needed, map-side
    only per target file — run as a background maintenance job exactly
    like the Z-order pass. At real scale the target count comes from
    bytes/file (maxRecordsPerFile or AQE advisory size), not a
    constant; the fixed 4 keeps the fixture assertion exact."""
    ev = table(spark, sf_dir, "events")

    small_dir = stage_once(
        "compact/events_small",
        sf_dir,
        lambda p: ev.repartition(64).write.mode("overwrite").parquet(p),
    )

    def _compact(p: str) -> None:
        spark.read.parquet(small_dir).repartition(4).write.mode(
            "overwrite"
        ).parquet(p)

    big_dir = stage_once("compact/events_compacted", sf_dir, _compact)

    def phase_stats(path: str, label: str) -> DataFrame:
        return (
            spark.read.parquet(path)
            .select(F.col("_metadata.file_path").alias("f"))
            .agg(
                F.lit(label).alias("phase"),
                F.countDistinct("f").cast("int").alias("n_files"),
                F.count(F.lit(1)).alias("n_rows"),
            )
        )

    return phase_stats(small_dir, "before").unionAll(
        phase_stats(big_dir, "after")
    )


#: The incremental split day (same literal as etl_incremental — the
#: fixture's final day plays "today's new partition").
_DELTA_DAY = "2024-01-30"


@query(
    "etl_incremental_rollup_merge",
    oracle=f"""
    SELECT event_type, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS total_value
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
    """,
    tags=("staged",),
)
def etl_incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance by partial-aggregate merge: the
    historical rollup (per event_type × day: count + DECIMAL sum) is
    materialized once; arriving day '{_DELTA_DAY}' is rolled up alone
    and MERGED — union the two partial-state frames, re-aggregate,
    finalize. The result is bit-identical to a full recompute (the
    oracle) because count and decimal-sum are mergeable: associative,
    commutative, exact.

    Scale: this is THE pattern that keeps a 100 TB warehouse's daily
    rollups O(delta) instead of O(history) — the merge path scans the
    compact rollup (|keys| rows) plus one day of data; the base fact
    is never rescanned (tests/test_plans.py pins that the merge plan's
    only scan of the events fixture carries the pushed delta-day
    filter). Storing the DECIMAL partial (not the finalized double)
    is what makes the merge exact — finalized averages/doubles do not
    merge. Spark's own partial/final HashAggregate split is the same
    algebra inside one query; this operator persists the partial state
    ACROSS queries."""
    ev = table(spark, sf_dir, "events")
    day = F.to_date("ts")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "event_type", F.to_date("ts").alias("day")
        ).agg(
            F.count(F.lit(1)).alias("n_partial"),
            F.sum(F.col("value").cast("decimal(28,6)")).alias("s_partial"),
        )

    # base = everything EXCEPT the delta day (exhaustive split whatever
    # date range a regenerated fixture carries)
    base_path = stage_once(
        "ivm/events_rollup_base",
        sf_dir,
        lambda p: rollup(ev.filter(day != F.lit(_DELTA_DAY)))
        .write.mode("overwrite")
        .parquet(p),
    )
    base = spark.read.parquet(base_path)
    delta = rollup(ev.filter(day == F.lit(_DELTA_DAY)))
    return (
        base.unionAll(delta)
        .groupBy("event_type", "day")
        .agg(
            F.sum("n_partial").alias("n_events"),
            F.sum("s_partial").cast("double").alias("total_value"),
        )
        .withColumn("day", F.col("day").cast("timestamp_ntz"))
    )


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
