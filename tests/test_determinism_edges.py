"""Adversarial edge cases for the decimal determinism scheme
(functions/determinism.py): values chosen to sit exactly on rounding
half-way points and to push sums toward the double-precision digit
limit — the two failure modes found (and fixed) in round 1. The
contract under test: for 2-dp money inputs and ≤3-factor products
(exact ≤6-dp values), dsum/davg are bit-identical to DuckDB's mirrored
SQL at any partitioning."""

from __future__ import annotations

import duckdb
import pandas as pd

from pyspark.sql import functions as F

from python_etl_sample_spark.functions.determinism import davg, dsum

# 2-dp money values engineered to be nasty: x.x5 patterns and products
# hitting exact 6-dp grid points, within the scheme's documented domain
# (STRICTLY 2-dp inputs, |sum|·10⁶ < 2⁵³ ≈ 9e9). Writing this test
# mapped the domain edges empirically — BOTH matter:
# - 3-dp inputs (e.g. 2.675) make triple products 7-dp, which sit
#   exactly on scale-6 half-way points where the engines' rounding
#   differs (Spark: shortest-string HALF_UP; DuckDB: exact binary);
# - sums past 2⁵³·10⁻⁶ double-round in DuckDB (int128→double, then
#   divide) and can drift 1 ulp from Spark's BigDecimal.
# See the determinism.py docstring.
EDGE_PRICES = [
    2.67, 2.68, 0.05, 0.15, 999999.95, 123456.15,
    0.01, 999999.25, 5.55, 7.35, 123.45, 0.25,
]
EDGE_RATES = [0.05, 0.15, 0.25, 0.01, 0.09, 0.1, 0.0, 0.07, 0.02, 0.03, 0.04, 0.08]


def test_dsum_davg_edge_parity(spark):
    pdf = pd.DataFrame(
        {
            "grp": [i % 3 for i in range(len(EDGE_PRICES))],
            "price": EDGE_PRICES,
            "rate": EDGE_RATES,
        }
    )
    sdf = spark.createDataFrame(pdf).repartition(4)
    charge = F.col("price") * (F.lit(1) - F.col("rate")) * (F.lit(1) + F.col("rate"))
    got = (
        sdf.groupBy("grp")
        .agg(
            dsum("price").alias("s_price"),
            dsum(charge).alias("s_charge"),
            davg("price").alias("a_price"),
        )
        .orderBy("grp")
        .toPandas()
    )

    con = duckdb.connect()
    con.register("t", pdf)
    want = con.execute(
        """
        SELECT grp,
               CAST(SUM(CAST(price AS DECIMAL(28,6))) AS DOUBLE) AS s_price,
               CAST(SUM(CAST(price * (1 - rate) * (1 + rate) AS DECIMAL(28,6))) AS DOUBLE) AS s_charge,
               CAST(SUM(CAST(price AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS a_price
        FROM t GROUP BY grp ORDER BY grp
        """
    ).df()
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_dsum_big_above_2e53_domain_edge(spark):
    """Round-14 regression (sf1 agg_groupby.sum_charge): for decimal
    sums past 2⁵³·10⁻⁶ ≈ 9e9 the plain decimal→double cast is
    correctly rounded in Spark but double-rounded in DuckDB — 1 ulp
    apart on this exact sum (27864155010.941590, the wild value). The
    _big helpers route both engines through the same
    decimal→bigint→double sequence, so they must be bit-identical
    here — and bit-identical to the plain form BELOW the bound, so
    switching a query to _big never moves a recorded hash. The
    plain-pattern cross-check pins that the divergence is real (if
    DuckDB ever changes, it fails and the detour can be
    re-examined)."""
    from python_etl_sample_spark.functions.determinism import (
        dsum_big,
        dsum_big_sql,
        dsum_sql,
    )

    pdf = pd.DataFrame({"v": [27864155010.0, 0.94159]})
    sdf = spark.createDataFrame(pdf)
    got = sdf.agg(dsum_big("v").alias("s")).collect()[0]["s"]

    con = duckdb.connect()
    con.register("t", pdf)
    want = con.execute(f"SELECT {dsum_big_sql('v')} AS s FROM t").fetchone()[0]
    assert got == want, f"_big-path drift: spark={got!r} duck={want!r}"

    plain_spark = sdf.agg(dsum("v").alias("s")).collect()[0]["s"]
    plain_duck = con.execute(f"SELECT {dsum_sql('v')} AS s FROM t").fetchone()[0]
    assert plain_spark != plain_duck, (
        "the plain-pattern 1-ulp divergence no longer reproduces — "
        "re-evaluate whether the bigint detour is still needed"
    )

    # below the bound the two forms agree exactly (the no-hash-move claim)
    small = pd.DataFrame({"v": [1234567.891234, 2.67, 0.05]})
    ssdf = spark.createDataFrame(small)
    con.register("t2", small)
    a = ssdf.agg(dsum_big("v").alias("s")).collect()[0]["s"]
    b = ssdf.agg(dsum("v").alias("s")).collect()[0]["s"]
    c = con.execute(f"SELECT {dsum_big_sql('v')} AS s FROM t2").fetchone()[0]
    d = con.execute(f"SELECT {dsum_sql('v')} AS s FROM t2").fetchone()[0]
    assert a == b == c == d


def test_dsum_order_independent_on_edges(spark):
    pdf = pd.DataFrame({"price": EDGE_PRICES * 50})
    sdf = spark.createDataFrame(pdf)
    one = sdf.repartition(1).agg(dsum("price").alias("s")).collect()[0]["s"]
    many = sdf.repartition(16).agg(dsum("price").alias("s")).collect()[0]["s"]
    assert one == many


def test_int8_quantize_zero_vector_parity(spark, tmp_path):
    """The all-zero embedding is the divergence trap ADVICE r4 flagged:
    scale = max|x|/127 = 0, so x/scale = NaN, and Spark's non-ANSI
    NaN→bigint cast gives 0 while DuckDB's CAST(trunc(NaN)) errors.
    With the nullif guard both engines must emit NULL codes. Runs the
    REAL registered query + oracle on a fixture dir whose embeddings
    table contains a zero vector, via the driver's own comparator."""
    import shutil

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parity_core import run_parity

    from python_etl_sample_spark.registry import REGISTRY, load_all_operators
    from python_etl_sample_spark.sources.tables import TABLE_NAMES

    load_all_operators()

    src = "/root/testdata/sf0.001"
    for name in TABLE_NAMES:
        if name != "embeddings":  # written below, with the trap
            shutil.copy(f"{src}/{name}.parquet", tmp_path / f"{name}.parquet")
    rng = np.random.default_rng(7)
    vecs = [rng.normal(size=8).astype("float32") for _ in range(4)]
    vecs.append(np.zeros(8, dtype="float32"))  # the trap
    tbl = pa.table(
        {
            "vec_id": pa.array(range(5), type=pa.int64()),
            "embedding": pa.array(
                [v.tolist() for v in vecs], type=pa.list_(pa.float32())
            ),
            "label": pa.array([0, 1, 0, 1, 0], type=pa.int32()),
        }
    )
    pq.write_table(tbl, tmp_path / "embeddings.parquet")
    rows = run_parity(spark, str(tmp_path), REGISTRY["embedding_int8_quantize"])
    assert rows == 5


def test_round5_ops_partitioning_invariant(spark):
    """The round-5 order-sensitive operators (session numbering,
    ES-ranked sampling, sweep-line running sum) must return identical
    rows under a different shuffle-partition count — determinism may
    not lean on any particular physical partitioning."""
    from python_etl_sample_spark.registry import REGISTRY, load_all_operators

    load_all_operators()
    sf = "/root/testdata/sf0.001"
    names = (
        "events_sessionize",
        "events_max_concurrent",
        "sample_weighted_priority",
        "agg_skew_salted_distinct",
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        first = {
            n: sorted(map(tuple, REGISTRY[n].fn(spark, sf).collect()))
            for n in names
        }
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        second = {
            n: sorted(map(tuple, REGISTRY[n].fn(spark, sf).collect()))
            for n in names
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n in names:
        assert first[n] == second[n], f"{n} changed under repartitioning"
