"""End-to-end pipeline compositions round 4: a complete daily ETL job
(extract → transform → load → audit) and an RFM feature-store build —
the two workloads the reference repo's name promises (an ETL sample)
expressed as single registered queries whose RESULT is the audit/feature
frame, so the whole composition is hash-checked, not just its pieces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_etl_sample_spark.functions.determinism import dsum, dsum_sql
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.scratch import stage_once
from python_etl_sample_spark.sources import table


@query(
    "pipeline_daily_etl",
    oracle=f"""
    WITH slice AS (
      SELECT o.o_orderkey, o.o_orderstatus, c.c_mktsegment,
             l.l_extendedprice * (1 - l.l_discount) AS revenue
      FROM orders o
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE date_part('year', o.o_orderdate) = 2000
    )
    SELECT o_orderstatus, c_mktsegment,
           COUNT(*) AS n_lines,
           COUNT(DISTINCT o_orderkey) AS n_orders,
           {dsum_sql('revenue')} AS revenue
    FROM slice GROUP BY o_orderstatus, c_mktsegment
    """,
    tags=("staged",),
)
def pipeline_daily_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A complete ETL job as one query — the reference repo's core
    workload shape. Extract: the year-2000 order slice (predicate
    pushed to the scan) joined to its lines and customers. Transform:
    discounted revenue + segment enrichment. Load: hive-partitioned
    parquet by order status (stage-once scratch). Audit: the LOADED
    data read back and fingerprinted per (status, segment) — so the
    hash check covers the full write-read round trip, not just the
    transform.

    Scale: the fact join shuffles on orderkey once; customer
    broadcasts; the load writes partition directories that downstream
    reads prune (sink_partitioned demonstrates the pruning). The audit
    re-reads only what was loaded — at 100 TB this is the
    post-load reconciliation every production job runs before
    publishing a partition."""
    o = table(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 2000)
    li = table(spark, sf_dir, "lineitem")
    c = table(spark, sf_dir, "customer")
    transformed = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "o_orderkey",
            "o_orderstatus",
            "c_mktsegment",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
    )
    path = stage_once(
        "daily_etl",
        sf_dir,
        lambda p: transformed.write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(p),
    )
    loaded = spark.read.parquet(path).withColumn(
        "o_orderstatus", F.col("o_orderstatus").cast("string")
    )
    return loaded.groupBy("o_orderstatus", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.countDistinct("o_orderkey").alias("n_orders"),
        dsum("revenue").alias("revenue"),
    )


@query(
    "pipeline_feature_store",
    oracle=f"""
    WITH anchor AS (
      SELECT MAX(o_orderdate) AS max_d FROM orders
    ), rfm AS (
      SELECT o_custkey,
             MIN(datediff('day', o_orderdate,
                          (SELECT max_d FROM anchor))) AS recency_days,
             COUNT(*) AS frequency,
             {dsum_sql('o_totalprice')} AS monetary
      FROM orders GROUP BY o_custkey
    )
    SELECT c.c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(SUM(CASE WHEN r.recency_days <= 180 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_active_6mo,
           ROUND(CAST(SUM(CAST(r.frequency AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_frequency,
           ROUND(CAST(SUM(CAST(r.monetary AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_monetary
    FROM rfm r JOIN customer c ON r.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def pipeline_feature_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store build: per-customer RFM features (recency against
    the corpus anchor date, order frequency, exact monetary total)
    rolled up per segment — the feature-engineering job that feeds churn
    and LTV models, with the per-segment rollup as the published
    monitoring fingerprint.

    The anchor date is data-derived (max order date), computed once and
    broadcast as a one-row frame — no driver round trip, no wall-clock
    dependence, so the features are reproducible forever. Scale: one
    shuffle on custkey for RFM, one broadcast join to the dimension,
    one tiny rollup; the per-customer feature frame (the real product)
    would be the partitioned sink here."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    anchor = o.agg(F.max("o_orderdate").alias("max_d"))
    rfm = (
        o.crossJoin(F.broadcast(anchor))
        .groupBy("o_custkey")
        .agg(
            F.min(F.datediff(F.col("max_d"), F.col("o_orderdate"))).alias(
                "recency_days"
            ),
            F.count(F.lit(1)).alias("frequency"),
            dsum("o_totalprice").alias("monetary"),
        )
    )
    return (
        rfm.join(F.broadcast(c), rfm.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.when(F.col("recency_days") <= 180, 1).otherwise(0))
            .cast("bigint")
            .alias("n_active_6mo"),
            F.round(
                F.sum(F.col("frequency").cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_frequency"),
            F.round(
                F.sum(F.col("monetary").cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_monetary"),
        )
    )
