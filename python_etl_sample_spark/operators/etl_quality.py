"""ETL robustness round 4: declarative data-quality expectations,
CDC MERGE/upsert semantics, and schema-evolution reads.

These are the operational operators a production lake pipeline runs
around every load: validate (dq_expectations), apply the change batch
(etl_merge_upsert), and survive the upstream team adding a column
(source_schema_evolution).

Z-order clustering (``etl_zorder_clustering``) is write-side data
skipping: interleaving the bits of two predicate columns gives every
file a tight bounding box in BOTH dimensions, so min/max footer stats
prune scans for either predicate (linear sort only prunes its leading
column).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_etl_sample_spark.functions.determinism import (
    dsum,
    dsum_big,
    dsum_big_sql,
    dsum_sql,
)
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.scratch import stage_once, written_schema
from python_etl_sample_spark.sources import table


@query(
    "dq_expectations",
    oracle="""
    SELECT 'lineitem_orphan_orderkey' AS rule,
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS n_violations,
           (SELECT COUNT(*) FROM lineitem) AS n_checked
    UNION ALL
    SELECT 'orders_orphan_custkey',
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)),
           (SELECT COUNT(*) FROM orders)
    UNION ALL
    SELECT 'customer_dup_custkey',
           (SELECT COALESCE(CAST(SUM(n - 1) AS BIGINT), 0) FROM
             (SELECT c_custkey, COUNT(*) AS n FROM customer
              GROUP BY c_custkey HAVING COUNT(*) > 1)),
           (SELECT COUNT(*) FROM customer)
    UNION ALL
    SELECT 'lineitem_qty_range',
           (SELECT COUNT(*) FROM lineitem
            WHERE l_quantity < 1.0 OR l_quantity > 50.0),
           (SELECT COUNT(*) FROM lineitem)
    UNION ALL
    SELECT 'orders_status_domain',
           (SELECT COUNT(*) FROM orders
            WHERE o_orderstatus NOT IN ('F', 'O', 'P')),
           (SELECT COUNT(*) FROM orders)
    """,
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality suite — five expectation rules
    (referential integrity ×2, uniqueness, range, domain) evaluated in
    one result frame of (rule, n_violations, n_checked), the shape
    expectation frameworks (Great Expectations / dbt tests / Deequ)
    emit.

    Plan: each RI rule is a left-anti join (no cartesian, shuffles on
    the key); uniqueness is a groupBy-count; range/domain are map-only
    conditional counts. The five tiny one-row aggregates union at the
    end — at 100 TB each rule is an independent scan-shaped job that
    AQE schedules in parallel, and the wide scans share the page
    cache."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")

    def one(rule: str, viol, checked) -> DataFrame:
        return viol.crossJoin(checked).select(
            F.lit(rule).alias("rule"),
            F.col("n_violations"),
            F.col("n_checked"),
        )

    li_orphans = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_violations"))
    )
    o_orphans = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_violations"))
    )
    dup = (
        c.groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(
            F.coalesce(F.sum(F.col("n") - 1), F.lit(0))
            .cast("bigint")
            .alias("n_violations")
        )
    )
    qty = li.agg(
        F.count(
            F.when((F.col("l_quantity") < 1.0) | (F.col("l_quantity") > 50.0), 1)
        ).alias("n_violations")
    )
    dom = o.agg(
        F.count(
            F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1)
        ).alias("n_violations")
    )
    n_li = li.agg(F.count(F.lit(1)).alias("n_checked"))
    n_o = o.agg(F.count(F.lit(1)).alias("n_checked"))
    n_c = c.agg(F.count(F.lit(1)).alias("n_checked"))
    return (
        one("lineitem_orphan_orderkey", li_orphans, n_li)
        .unionAll(one("orders_orphan_custkey", o_orphans, n_o))
        .unionAll(one("customer_dup_custkey", dup, n_c))
        .unionAll(one("lineitem_qty_range", qty, n_li))
        .unionAll(one("orders_status_domain", dom, n_o))
    )


# CDC batch derived deterministically from orders itself:
#   updates: every key ≡ 0 (mod 10) — totalprice raised 10%
#   deletes: every key ≡ 0 (mod 97)
#   inserts: every key ≡ 1 (mod 1000), re-keyed +10_000_000
_MERGE_SQL = f"""
    WITH updates AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice * 1.1 AS o_totalprice
      FROM orders WHERE o_orderkey % 10 = 0
    ), deletes AS (
      SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0
    ), inserts AS (
      SELECT o_orderkey + 10000000 AS o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 1000 = 1
    ), merged AS (
      SELECT b.o_orderkey, b.o_orderstatus,
             COALESCE(u.o_totalprice, b.o_totalprice) AS o_totalprice
      FROM orders b
      LEFT JOIN updates u ON b.o_orderkey = u.o_orderkey
      WHERE NOT EXISTS (SELECT 1 FROM deletes d
                        WHERE d.o_orderkey = b.o_orderkey)
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM inserts
    )
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           {dsum_big_sql('o_totalprice')} AS total_price
    FROM merged GROUP BY o_orderstatus
"""


@query("etl_merge_upsert", oracle=_MERGE_SQL)
def etl_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (CDC upsert) as a relational plan: a deterministic
    change batch of updates, deletes, and inserts applied to the orders
    base in one pass — WHEN MATCHED UPDATE / WHEN MATCHED DELETE / WHEN
    NOT MATCHED INSERT — then an aggregate fingerprint of the merged
    state.

    The merge is a left join (update values), an anti join (deletes),
    and a union (inserts): exactly what Delta/Iceberg MERGE compiles to
    before file rewriting, expressed on plain DataFrames. Scale: all
    three leg joins hash on o_orderkey; with a bucketed base table the
    shuffle disappears (join_bucketed shows that layout)."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", (F.col("o_totalprice") * 1.1).alias("new_price")
    )
    deletes = o.filter(F.col("o_orderkey") % 97 == 0).select("o_orderkey")
    inserts = o.filter(F.col("o_orderkey") % 1000 == 1).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        "o_orderstatus",
        "o_totalprice",
    )
    merged = (
        o.join(deletes, "o_orderkey", "left_anti")
        .join(updates, "o_orderkey", "left")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.coalesce("new_price", "o_totalprice").alias("o_totalprice"),
        )
        .unionAll(inserts)
    )
    # total_price per status is ~1.2e11 at sf1 — past the plain
    # decimal->double cast's engine-identity bound, so both sides use
    # the _big helpers (bit-identical at the graded scales)
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum_big("o_totalprice").alias("total_price"),
    )


@query(
    "source_schema_evolution",
    oracle="""
    WITH unioned AS (
      SELECT n_nationkey, n_name, NULL AS region_name
      FROM nation WHERE n_nationkey % 2 = 0
      UNION ALL
      SELECT n.n_nationkey, n.n_name, r.r_name AS region_name
      FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE n.n_nationkey % 2 = 1
    )
    SELECT n_nationkey, n_name, region_name FROM unioned
    """,
    tags=("staged",),
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet batches written at
    different pipeline vintages — the old one lacks ``region_name`` —
    read back as ONE table via ``mergeSchema``, with the missing column
    null-filled for old rows. The upstream-added-a-column scenario
    every long-lived lake hits.

    Scale note: mergeSchema reconciles footers at planning time (cost ∝
    number of files, not rows); production lakes pin the merged schema
    in a catalog instead of re-inferring per read — this op demonstrates
    the read-side semantics the catalog would freeze."""
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    old_batch = n.filter(F.col("n_nationkey") % 2 == 0).select(
        "n_nationkey", "n_name"
    )
    new_batch = (
        n.filter(F.col("n_nationkey") % 2 == 1)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("n_nationkey", "n_name", F.col("r_name").alias("region_name"))
    )

    def write_batches(p: str) -> None:
        old_batch.write.mode("overwrite").parquet(f"{p}/batch=old")
        new_batch.write.mode("overwrite").parquet(f"{p}/batch=new")

    path = stage_once("schema_evolution", sf_dir, write_batches)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(path)
        .select("n_nationkey", "n_name", "region_name")
    )


@query(
    "etl_partition_overwrite",
    oracle=f"""
    WITH final AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'P'
                  THEN o_totalprice * 0.5 ELSE o_totalprice END AS o_totalprice
      FROM orders
    )
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           {dsum_sql('o_totalprice')} AS total_price
    FROM final GROUP BY o_orderstatus
    """,
    tags=("staged",),
)
def etl_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the backfill primitive: rewrite
    ONLY the partitions present in the incoming batch (here: the 'P'
    status partition, with repriced rows) while every other partition's
    files are left untouched. The read-back fingerprint proves both
    halves: 'P' carries the new values, 'F'/'O' the originals.

    The per-write ``partitionOverwriteMode=dynamic`` option is the
    whole trick — static mode (the default) would TRUNCATE the table
    root and delete the partitions the batch didn't mention, the
    classic backfill footgun. At 100 TB this is how daily re-runs
    replace one day's directory under a multi-year table without
    touching the rest."""
    src = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )

    def write_then_backfill(p: str) -> None:
        src.write.mode("overwrite").partitionBy("o_orderstatus").parquet(p)
        patch = src.filter(F.col("o_orderstatus") == "P").withColumn(
            "o_totalprice", F.col("o_totalprice") * 0.5
        )
        patch.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("o_orderstatus").parquet(p)

    path = stage_once("partition_overwrite", sf_dir, write_then_backfill)
    out = spark.read.parquet(path)
    return (
        out.withColumn(
            "o_orderstatus", F.col("o_orderstatus").cast("string")
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
    )


@query(
    "scan_corrupt_records",
    oracle="""
    SELECT COUNT(*) FILTER (WHERE n_nationkey % 5 <> 0) AS n_good,
           COUNT(*) FILTER (WHERE n_nationkey % 5 = 0) AS n_corrupt,
           CAST(SUM(CASE WHEN n_nationkey % 5 <> 0
                         THEN n_nationkey END) AS BIGINT) AS good_key_sum
    FROM nation
    """,
    tags=("staged",),
)
def scan_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record tolerance: a JSONL batch where every 5th record
    is deliberately truncated mid-object, read back in PERMISSIVE mode
    with the ``_corrupt_record`` rescue column — the
    ingestion-robustness contract (count the damage, quarantine the
    bytes, never fail the load) that real feeds require.

    The corrupt lines are synthesized distributively (to_json for good
    rows, a truncated prefix for bad ones, written via the text sink).
    PERMISSIVE caveat baked in: Spark refuses a query that references
    ONLY the rescue column, so the aggregate reads data columns
    alongside it. At 100 TB the same read quarantines bad records into
    a dead-letter sink instead of killing a multi-hour load (FAILFAST
    is the validation mode, not the production mode)."""
    n = table(spark, sf_dir, "nation")
    line = F.when(
        F.col("n_nationkey") % 5 == 0,
        # truncated JSON: unclosed object — unparseable by any reader
        F.concat(F.lit('{"n_nationkey": '), F.col("n_nationkey").cast("string")),
    ).otherwise(F.to_json(F.struct("n_nationkey", "n_name", "n_regionkey")))

    def write_feed(p: str) -> None:
        n.select(line.alias("value")).coalesce(1).write.mode("overwrite").text(p)

    path = stage_once("corrupt_feed", sf_dir, write_feed)
    parsed = spark.read.schema(
        "n_nationkey INT, n_name STRING, n_regionkey INT, _corrupt_record STRING"
    ).json(path)
    return parsed.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1)).alias("n_good"),
        F.count(F.when(F.col("_corrupt_record").isNotNull(), 1)).alias(
            "n_corrupt"
        ),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("n_nationkey"))
        )
        .cast("bigint")
        .alias("good_key_sum"),
    )


_SNAPSHOT_DIFF_SQL = """
    WITH snap_a AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ), snap_b AS (
      -- simulated next-day snapshot, defined identically in both
      -- engines: pending orders reprice by +1%, orderkeys divisible by
      -- 97 are deleted, and 100 synthetic orders arrive
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'P'
                  THEN o_totalprice * 1.01
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT 9000000 + gs, 'O', CAST(100 + gs AS DOUBLE)
      FROM (SELECT unnest(generate_series(1, 100)) AS gs)
    )
    SELECT
      CASE
        WHEN a.o_orderkey IS NULL THEN 'added'
        WHEN b.o_orderkey IS NULL THEN 'removed'
        WHEN a.o_totalprice <> b.o_totalprice
          OR a.o_orderstatus <> b.o_orderstatus THEN 'changed'
        ELSE 'unchanged'
      END AS diff_class,
      COUNT(*) AS n_rows,
      CAST(MIN(COALESCE(b.o_orderkey, a.o_orderkey)) AS BIGINT) AS min_key,
      CAST(MAX(COALESCE(b.o_orderkey, a.o_orderkey)) AS BIGINT) AS max_key
    FROM snap_a a FULL OUTER JOIN snap_b b USING (o_orderkey)
    GROUP BY 1
"""


@query("etl_snapshot_diff", oracle=_SNAPSHOT_DIFF_SQL)
def etl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation — the audit every warehouse load ships:
    classify each key of two table versions as added / removed /
    changed / unchanged, with per-class counts and key ranges. The
    "tomorrow" snapshot is synthesized deterministically (repriced
    pending orders, deletions on a key residue, a batch of arrivals)
    so both engines diff identical inputs. The reprice is a bare IEEE
    multiply — deliberately NOT rounded: both engines compute bit-equal
    doubles from equal inputs, while ROUND's half-way convention is
    engine-divergent.

    Plan: ONE full outer hash join on the key plus column-equality
    classification — no row serialization, no checksum strings (float
    →string formatting is engine-divergent; direct column comparison
    is exact). At 100 TB both snapshots hash-partition on the key —
    co-partitioned if both sides are bucketed by key (join_bucketed's
    layout), making daily reconciliation a shuffle-free map-side
    zip."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    snap_b = o.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderstatus") == "P",
            F.col("o_totalprice") * 1.01,
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    ).unionByName(
        spark.range(1, 101).select(
            (F.lit(9000000) + F.col("id")).alias("o_orderkey"),
            F.lit("O").alias("o_orderstatus"),
            (100 + F.col("id")).cast("double").alias("o_totalprice"),
        )
    )
    a, b = o.alias("a"), snap_b.alias("b")
    joined = a.join(b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer")
    diff_class = (
        F.when(F.col("a.o_orderkey").isNull(), "added")
        .when(F.col("b.o_orderkey").isNull(), "removed")
        .when(
            (F.col("a.o_totalprice") != F.col("b.o_totalprice"))
            | (F.col("a.o_orderstatus") != F.col("b.o_orderstatus")),
            "changed",
        )
        .otherwise("unchanged")
    )
    key = F.coalesce(F.col("b.o_orderkey"), F.col("a.o_orderkey"))
    return (
        joined.select(diff_class.alias("diff_class"), key.alias("k"))
        .groupBy("diff_class")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("k").alias("min_key"),
            F.max("k").alias("max_key"),
        )
    )


#: referential-integrity edges: (child table, fk column, parent table,
#: pk column) — the star schema's declared-but-unenforced constraints
_RI_EDGES = (
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


@query(
    "dq_referential_integrity",
    oracle=" UNION ALL ".join(
        f"""
    SELECT '{child}.{fk}' AS fk_edge,
           (SELECT COUNT(*) FROM {child}) AS n_child_rows,
           (SELECT COUNT(*) FROM {child} c
             WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                               WHERE p.{pk} = c.{fk})) AS n_orphans,
           (SELECT COUNT(DISTINCT c.{fk}) FROM {child} c
             WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                               WHERE p.{pk} = c.{fk})) AS n_missing_keys
    """
        for child, fk, parent, pk in _RI_EDGES
    ),
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity sweep: for every foreign-key edge of the
    star schema, the orphan count (child rows whose key has no parent)
    and the distinct missing-key count — the data-quality audit that
    runs after every backfill, because distributed stores declare
    constraints but never enforce them.

    Shape per edge: one LEFT ANTI join (broadcast for the small
    parents, shuffle for orders⋈lineitem) + counts; the six per-edge
    1-row results union. On healthy fixtures every orphan count is 0 —
    the hash pins the HEALTH, and any loader regression that drops
    parent rows or mangles keys flips it."""
    # r14 probe note: a single-pass LEFT JOIN + conditional-agg rewrite
    # was measured SLOWER here (1.21 → 1.34 s floor): the healthy
    # fixture has zero orphans, so the anti-join leaves COUNT DISTINCT
    # an empty input, while the one-pass form pays the distinct-agg
    # Expand over every child row. The two-scan shape stays.
    results = None
    for child, fk, parent, pk in _RI_EDGES:
        c = table(spark, sf_dir, child)
        p = table(spark, sf_dir, parent).select(F.col(pk).alias("__pk"))
        orphans = c.join(
            F.broadcast(p) if parent != "orders" else p,
            c[fk] == F.col("__pk"),
            "left_anti",
        )
        row = orphans.agg(
            F.count(F.lit(1)).alias("n_orphans"),
            F.countDistinct(fk).alias("n_missing_keys"),
        ).crossJoin(
            F.broadcast(c.agg(F.count(F.lit(1)).alias("n_child_rows")))
        ).select(
            F.lit(f"{child}.{fk}").alias("fk_edge"),
            "n_child_rows",
            "n_orphans",
            "n_missing_keys",
        )
        results = row if results is None else results.unionByName(row)
    return results


@query(
    "etl_gdpr_delete_propagation",
    oracle="""
    WITH keyset AS (
      SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0
    ),
    del_orders AS (
      SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT k FROM keyset)
    )
    SELECT 'customer' AS table_name,
           (SELECT COUNT(*) FROM customer) AS n_rows,
           (SELECT COUNT(*) FROM keyset) AS n_deleted
    UNION ALL
    SELECT 'orders',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM del_orders)
    UNION ALL
    SELECT 'lineitem',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem
             WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders))
    UNION ALL
    SELECT 'events',
           (SELECT COUNT(*) FROM events),
           (SELECT COUNT(*) FROM events
             WHERE user_id IN (SELECT k FROM keyset))
    """,
)
def etl_gdpr_delete_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure impact report: a deletion keyset (every 97th
    customer key — deterministic stand-in for the day's GDPR requests)
    cascades through the schema's ownership edges
    (customer → orders → lineitem, customer → events), and the report
    counts rows each table would lose — the blast-radius audit run
    BEFORE the actual delete job.

    Shape: the keyset is a broadcast semi-join filter at every edge;
    the orders keyset (the only derived set) is itself broadcastable
    (|orders|/97). Nothing scans twice at the same depth; the real
    delete job is these same semi-joins feeding an overwrite (see
    etl_partition_overwrite / etl_merge_upsert for the write side)."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    ev = table(spark, sf_dir, "events")
    keyset = cust.filter(F.col("c_custkey") % 97 == 0).select(
        F.col("c_custkey").alias("k")
    )
    del_orders = orders.join(
        F.broadcast(keyset), orders.o_custkey == F.col("k"), "left_semi"
    ).select("o_orderkey")

    def row(name: str, base: DataFrame, deleted: DataFrame) -> DataFrame:
        return (
            base.agg(F.count(F.lit(1)).alias("n_rows"))
            .crossJoin(
                F.broadcast(
                    deleted.agg(F.count(F.lit(1)).alias("n_deleted"))
                )
            )
            .select(F.lit(name).alias("table_name"), "n_rows", "n_deleted")
        )

    out = row("customer", cust, keyset)
    out = out.unionByName(row("orders", orders, del_orders))
    out = out.unionByName(
        row(
            "lineitem",
            li,
            li.join(
                F.broadcast(del_orders),
                li.l_orderkey == del_orders.o_orderkey,
                "left_semi",
            ),
        )
    )
    out = out.unionByName(
        row(
            "events",
            ev,
            ev.join(F.broadcast(keyset), ev.user_id == F.col("k"), "left_semi"),
        )
    )
    return out


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
    history = rollup(ev.filter(day != F.lit(_DELTA_DAY)))
    base_path = stage_once(
        "ivm/events_rollup_base",
        sf_dir,
        lambda p: history.write.mode("overwrite").parquet(p),
    )
    base = spark.read.schema(written_schema(history)).parquet(base_path)
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
