"""Partitioning-invariance: the determinism scheme's core promise is
that results are identical at ANY parallelism — 1 partition or 32,
local or a 1000-executor cluster. Flagship float aggregates are
compared between a single-partition and a many-partition run."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F

from python_etl_sample_spark.functions.determinism import davg, dsum
from python_etl_sample_spark.sources import table

SF_DIR = "/root/testdata/sf0.001"


def _agg(df):
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    charge = disc_price * (F.lit(1) + F.col("l_tax"))
    return (
        df.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(charge).alias("sum_charge"),
            davg("l_extendedprice").alias("avg_price"),
        )
        .orderBy("l_returnflag", "l_linestatus")
        .toPandas()
    )


def test_float_aggregates_invariant_to_partitioning(spark):
    li = table(spark, SF_DIR, "lineitem")
    one = _agg(li.repartition(1))
    many = _agg(li.repartition(32, "l_orderkey"))
    pd.testing.assert_frame_equal(one, many, check_exact=True)


def test_gemm_topk_invariant_to_partitioning(spark):
    from python_etl_sample_spark.registry import REGISTRY, load_all_operators

    load_all_operators()
    df = REGISTRY["sim_cosine_topk"].fn(spark, SF_DIR)
    a = df.toPandas()
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
    try:
        b = REGISTRY["sim_cosine_topk"].fn(spark, SF_DIR).toPandas()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_gemm_cell_topk_selects_as_the_full_sort():
    """A grid cell's partial top-k keeps exactly the pairs, in the order,
    of a full sort under (-sim, vec_a, vec_b), boundary ties, signed
    zeros and NaN included."""
    import numpy as np

    from python_etl_sample_spark.operators.similarity import _topk_pairs

    rng = np.random.default_rng(7)
    for trial in range(2000):
        n = int(rng.integers(1, 90))
        vals = rng.integers(-3, 4, n) / 4  # few distinct values: many ties
        if trial % 5 == 0:
            vals[rng.integers(0, n)] = np.nan
        if trial % 9 == 0:
            vals[: n // 2] = -0.0
        va, vb = rng.integers(0, 12, n), rng.integers(0, 12, n)
        k = int(rng.integers(1, 25))
        order = np.lexsort((vb, va, -vals))[:k]
        got = _topk_pairs(vals, va, vb, k)
        for full, part in zip((vals[order], va[order], vb[order]), got):
            np.testing.assert_array_equal(full, part)
