"""Harness sensitivity (mutation) test — VERDICT r13 item 2.

Both sides of every parity check are authored in this repo, so a
systematic normalization/compare bug could make a WRONG pair
hash-match twice and nobody would notice. This module proves the
checker can FAIL: six representative queries are deliberately
perturbed — a constant flipped, a filter dropped, a rounding mode
swapped, a column renamed, rows dropped/duplicated, a single value
nudged, an integer column served as text — and the EXACT compare code
every grader runs (tools/parity_core.py: tests/test_parity.py,
tools/drive_contract.py, perfbench) must flag every mutant in the
expected dimension (rows / schema / dtype / value-hash),
while the unmutated pair still matches, so each flag is attributable
to the mutation alone.

Mutations live on whichever side makes them honest: textual edits to
the oracle SQL (the compare is symmetric in its two inputs — a bug on
either side must be caught) and result-level perturbations of the
Spark DataFrame (modeling a query that lost rows / renamed a column /
computed one value wrong). Each textual mutation asserts its target
substring actually occurs, so a reworded oracle can't silently turn a
mutant into a no-op test.
"""

from __future__ import annotations

import os

import pytest
from parity_core import CHECKS, compare, duck_connection
from pyspark.sql import functions as F

from python_etl_sample_spark.registry import REGISTRY, load_all_operators

load_all_operators()

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")

#: the queries this module mutates — one sanity pass proves the
#: originals match, so every flag below is the mutation's doing
NAMES = ("agg_groupby", "agg_global", "filter_pred", "case_when",
         "topk", "join_inner")


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="module")
def originals(spark, duck):
    """(spark_pdf, oracle_pdf) per query, computed once."""
    out = {}
    for name in NAMES:
        spec = REGISTRY[name]
        out[name] = (
            spec.fn(spark, SF_DIR).toPandas(),
            duck.execute(spec.oracle).df(),
        )
    return out


def _mutated_oracle(duck, name: str, old: str, new: str, count: int | None = 1):
    sql = REGISTRY[name].oracle
    found = sql.count(old)
    if count is None:
        assert found > 0, f"{name} oracle no longer contains {old!r}"
    else:
        assert found == count, (
            f"{name} oracle contains {old!r} {found}x (expected {count}) — "
            f"retarget the mutation"
        )
    return duck.execute(sql.replace(old, new)).df()


def test_sanity_unmutated_pairs_match(originals):
    for name, (spdf, dpdf) in originals.items():
        row = compare(spdf, dpdf)
        assert all(row[c] for c in CHECKS), (
            f"{name} does not match UNMUTATED — mutation flags below "
            f"would be meaningless: {row}"
        )


def test_constant_flip_is_flagged(duck, originals):
    """agg_groupby's shipdate cutoff moved 3 months earlier: same
    groups, same schema, different aggregates — only the value hash
    can catch it, and it must."""
    spdf, _ = originals["agg_groupby"]
    mutant = _mutated_oracle(
        duck, "agg_groupby", "TIMESTAMP '1998-09-02'", "TIMESTAMP '1998-06-02'"
    )
    row = compare(spdf, mutant)
    assert row["schema_match"], "constant flip must not disturb schema"
    assert not row["hash_match"], "value hash missed a flipped constant"


def test_dropped_filter_is_flagged(duck, originals):
    """filter_pred with one conjunct deleted admits extra rows — both
    the row count and the hash must flag it."""
    spdf, _ = originals["filter_pred"]
    mutant = _mutated_oracle(
        duck, "filter_pred", "AND l_returnflag IN ('A', 'R')", ""
    )
    row = compare(spdf, mutant)
    assert not row["rows_match"], "row count missed a dropped filter"
    assert not row["hash_match"], "value hash missed a dropped filter"


def test_rounding_mode_swap_is_flagged(duck, originals):
    """agg_groupby with the exact-sum decimal scale cut 6→2: per-row
    disc_price/charge values (4+ dp) re-round before summing, so the
    sums shift below the 6-dp grid — hash-only signal."""
    spdf, _ = originals["agg_groupby"]
    mutant = _mutated_oracle(
        duck, "agg_groupby", "DECIMAL(28,6)", "DECIMAL(28,2)", count=None
    )
    row = compare(spdf, mutant)
    assert row["rows_match"] and row["schema_match"]
    assert not row["hash_match"], "value hash missed a rounding-mode swap"


def test_schema_rename_is_flagged(spark, originals, duck):
    """agg_global computing the right values under a wrong column name
    must fail schema_match (and hash, since norm() is name-ordered)."""
    _, dpdf = originals["agg_global"]
    mutant = REGISTRY["agg_global"].fn(spark, SF_DIR).withColumnRenamed(
        "sum_qty", "qty_sum"
    ).toPandas()
    row = compare(mutant, dpdf)
    assert not row["schema_match"], "schema check missed a renamed column"
    assert not row["hash_match"]


def test_dropped_and_duplicated_rows_are_flagged(spark, originals):
    """case_when minus one row, and plus one duplicated row — a query
    that loses or double-emits a row must fail rows_match + hash."""
    _, dpdf = originals["case_when"]
    base = REGISTRY["case_when"].fn(spark, SF_DIR)
    n = base.count()
    for mutant_df in (base.limit(n - 1), base.union(base.limit(1))):
        row = compare(mutant_df.toPandas(), dpdf)
        assert not row["rows_match"], "row count missed a lost/doubled row"
        assert not row["hash_match"]


def test_limit_flip_is_flagged(duck, originals):
    """topk returning 9 instead of 10 — the classic off-by-one in a
    TakeOrderedAndProject reimplementation."""
    spdf, _ = originals["topk"]
    mutant = _mutated_oracle(duck, "topk", "LIMIT 10", "LIMIT 9")
    row = compare(spdf, mutant)
    assert not row["rows_match"]
    assert not row["hash_match"]


def test_single_value_nudge_is_flagged(spark, originals):
    """join_inner with ONE price perturbed by one cent in ~thousands of
    rows: rows and schema still match — the hash is the only line of
    defense and must hold it."""
    _, dpdf = originals["join_inner"]
    base = REGISTRY["join_inner"].fn(spark, SF_DIR)
    first_key = base.agg(F.min("o_orderkey")).collect()[0][0]
    mutant = base.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") == F.lit(first_key),
            F.col("o_totalprice") + F.lit(0.01),
        ).otherwise(F.col("o_totalprice")),
    ).toPandas()
    row = compare(mutant, dpdf)
    assert row["rows_match"] and row["schema_match"]
    assert not row["hash_match"], (
        "value hash missed a one-cent, one-row perturbation"
    )


def test_type_change_is_flagged(spark, originals):
    """agg_groupby with its integer ``count_order`` served as text: the
    same digits write the same CSV, so the value hash cannot see it —
    only dtype_match can, and it must."""
    _, dpdf = originals["agg_groupby"]
    base = REGISTRY["agg_groupby"].fn(spark, SF_DIR)
    assert dict(base.dtypes)["count_order"] == "bigint"
    mutant = base.withColumn(
        "count_order", F.col("count_order").cast("string")
    ).toPandas()
    row = compare(mutant, dpdf)
    assert row["rows_match"] and row["schema_match"]
    assert row["hash_match"], "mutant meant to be hash-invisible — retarget it"
    assert not row["dtype_match"], "dtype check missed an int served as text"
