"""Arrow-batched Python UDF surface — SURVEY.md §2.11 ops #67-69.

This is the ONLY place Python touches the data path (SURVEY §3.2
boundary inventory): scalar pandas UDF, grouped-agg pandas UDF, and
grouped-map applyInPandas — all Arrow-batched (10-100× over row-at-a-
time UDFs). Everything deterministic enough is still oracle-checked:
the scalar UDF's banding is exact string logic, and the float outputs
are rounded far above the accumulation-order error (~1e-12 relative).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table


@query(
    "udf_scalar_pandas",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_totalprice < 100000 THEN 'low'
                WHEN o_totalprice < 250000 THEN 'mid'
                ELSE 'high' END AS band
    FROM orders
    """,
    tags=("python",),
)
def udf_scalar_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#67 vectorized scalar pandas UDF (price banding). Exact string
    logic → fully oracle-checked despite crossing the Arrow boundary.

    UDFs are created inside the function: pandas_udf parses its return
    type against the active session, which does not exist at import time.
    """

    @pandas_udf("string")
    def price_band(price: pd.Series) -> pd.Series:
        return pd.Series(
            np.where(price < 100000, "low", np.where(price < 250000, "mid", "high")),
            index=price.index,
        )

    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey", "o_totalprice", price_band(F.col("o_totalprice")).alias("band")
    )


@query(
    "udaf_grouped_agg",
    oracle="""
    SELECT l_returnflag,
           round(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 6) AS wavg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("python",),
)
def udaf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#68 grouped-agg pandas UDF: quantity-weighted mean price.
    Accumulation-order error vs the SQL oracle is ~1e-12 relative;
    rounded to 6 dp on both sides."""

    @pandas_udf("double")
    def weighted_mean(price: pd.Series, qty: pd.Series) -> float:
        return float(np.round(np.sum(price * qty) / np.sum(qty), 6))

    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        weighted_mean(F.col("l_extendedprice"), F.col("l_quantity")).alias("wavg_price")
    )


@query(
    "udtf_apply_in_pandas",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           round((c_acctbal - AVG(c_acctbal) OVER seg)
                 / stddev_samp(c_acctbal) OVER seg, 6) AS z_acctbal
    FROM customer
    WINDOW seg AS (PARTITION BY c_mktsegment)
    """,
    tags=("python",),
)
def udtf_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#69 grouped-map applyInPandas (UDTF-shaped surface): per-segment
    z-score normalization. pandas mean/std(ddof=1) vs SQL AVG/
    stddev_samp agree to ~1e-12; rounded to 6 dp on both sides."""
    c = table(spark, sf_dir, "customer")

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        bal = pdf["c_acctbal"]
        z = (bal - bal.mean()) / bal.std(ddof=1)
        return pd.DataFrame(
            {
                "c_custkey": pdf["c_custkey"],
                "c_mktsegment": pdf["c_mktsegment"],
                "z_acctbal": np.round(z, 6),
            }
        )

    return c.select("c_custkey", "c_mktsegment", "c_acctbal").groupBy(
        "c_mktsegment"
    ).applyInPandas(normalize, "c_custkey bigint, c_mktsegment string, z_acctbal double")


@query(
    "udtf_python_lateral",
    oracle="""
    SELECT o_orderkey, 'net' AS component,
           round(o_totalprice / 1.05, 6) AS amount
    FROM orders WHERE o_orderstatus = 'P'
    UNION ALL
    SELECT o_orderkey, 'tax' AS component,
           round(o_totalprice - o_totalprice / 1.05, 6) AS amount
    FROM orders WHERE o_orderstatus = 'P'
    """,
    tags=("python",),
)
def udtf_python_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#69b true Python UDTF (Spark 4 table function): each order row
    laterally expands into net/tax component rows. Deterministic
    per-row arithmetic → fully oracle-checked (the oracle is the
    UNION ALL relational equivalent).

    Perf note (measured at sf0.1, local[32], 2026-08-13): Spark 4's
    ``useArrow=True`` Arrow-optimized UDTF was tried for the r4 "weak"
    item and is ~10× SLOWER for this shape — 23.3 s vs 2.1 s on one
    partition, 1.81 s vs 0.96 s on 32 — because every ``eval`` yield
    of 2 tiny rows becomes its own Arrow conversion. The actual
    bottleneck was parallelism: the sf0.1 orders scan arrives as one
    partition, serializing all Python work. Fix kept row-mode eval
    and (a) pushed the status filter ahead of (b) an explicit
    repartition to ``defaultParallelism``, applied only when the scan
    is narrower than the cluster — at real scale the scan already has
    more partitions than cores and the repartition self-disables.
    See BENCH_NOTES.md "Arrow UDTF measurement"."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="o_orderkey bigint, component string, amount double")
    class SplitAmount:
        def eval(self, o_orderkey: int, o_totalprice: float):
            net = round(o_totalprice / 1.05, 6)
            yield o_orderkey, "net", net
            yield o_orderkey, "tax", round(o_totalprice - o_totalprice / 1.05, 6)

    spark.udtf.register("split_amount", SplitAmount)
    o = table(spark, sf_dir, "orders").filter("o_orderstatus = 'P'")
    par = spark.sparkContext.defaultParallelism
    if o.rdd.getNumPartitions() < par:
        o = o.repartition(par)
    o.createOrReplaceTempView("orders_pending")
    return spark.sql(
        """
        SELECT s.o_orderkey, s.component, s.amount
        FROM orders_pending o,
             LATERAL split_amount(o.o_orderkey, o.o_totalprice) s
        """
    )
