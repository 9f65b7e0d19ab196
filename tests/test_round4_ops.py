"""Round-4 operator guarantees: partitioning-invariance for the new
derived-float aggregates and plan pins for the stage-parallelism fixes.

The determinism tests re-run each query under a different shuffle
partition count and demand bit-exact equality — the property that lets
the same code answer identically on local[32] and a 1000-executor
cluster. The plan tests pin the two round-4 performance fixes so a
refactor cannot silently reintroduce the single-task DP stage or
un-broadcast the star dimensions.
"""

from __future__ import annotations

import pandas as pd
import pytest
from parity_core import norm

from python_etl_sample_spark.registry import REGISTRY, load_all_operators

load_all_operators()

SF_DIR = "/root/testdata/sf0.001"

# new operators whose outputs involve derived floats (regression slopes,
# chi-square, EWMA, energy ratios, lifts) — the ones where partition
# order could leak into the answer if a sum bypassed the decimal scheme
ROUND4_FLOAT_OPS = (
    "agg_regression_ols",
    "stats_chi2_independence",
    "ts_ewma_halflife",
    "text_zipf_slope",
    "embedding_matryoshka_energy",
    "events_ab_lift",
    "q_promo_share",
    "q_national_market_share",
)


@pytest.mark.parametrize("name", ROUND4_FLOAT_OPS)
def test_partitioning_invariance(spark, name):
    base = norm(REGISTRY[name].fn(spark, SF_DIR).toPandas())
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        alt = norm(REGISTRY[name].fn(spark, SF_DIR).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    pd.testing.assert_frame_equal(base, alt, check_exact=True)


def test_fuzzy_levenshtein_pins_dp_parallelism(spark):
    """The DP stage must keep its explicit 32-way partitioning (the
    deterministic filter fuses into the join stage, so the join inputs'
    partitioning IS the DP parallelism — see text_extras.py)."""
    df = REGISTRY["dedup_fuzzy_levenshtein"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan or "hashpartitioning(lang" in plan, plan


def test_market_share_broadcasts_dimensions(spark):
    """Q8's customer/nation/region sides must broadcast — only the
    lineitem⋈orders fact join may shuffle."""
    df = REGISTRY["q_national_market_share"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_connected_components_matches_naive_reference(spark):
    """Pointer-jumped hash-min must equal a brute-force transitive
    closure computed in pure Python on the same edge set."""
    import python_etl_sample_spark.operators.graph as G

    edges = {
        (int(r["src"]), int(r["dst"]))
        for r in G._doc_edges(spark, SF_DIR).collect()
    }
    nodes = {
        int(r["doc_id"])
        for r in __import__(
            "python_etl_sample_spark.sources", fromlist=["table"]
        ).table(spark, SF_DIR, "documents").select("doc_id").collect()
    }
    # union-find reference
    parent = {n: n for n in nodes}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for s, d in edges:
        ra, rb = find(s), find(d)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict[int, list[int]] = {}
    for n in nodes:
        comps.setdefault(find(n), []).append(n)
    expected = {
        (root, len(members), max(members)) for root, members in comps.items()
    }
    got = {
        (int(r["component"]), int(r["n_docs"]), int(r["max_doc"]))
        for r in REGISTRY["graph_connected_components"].fn(spark, SF_DIR).collect()
    }
    assert got == expected


def test_hll_estimates_close_to_exact(spark):
    """The DataSketches HLL estimates must sit within 5% of the exact
    distinct counts at fixture scale (lgK=12 default: ~1.6% RSE) — now
    carried IN the output as the hashed in-tolerance flag, so this test
    and the DuckDB oracle assert the same property."""
    rows = REGISTRY["sketch_hll_mergeable"].fn(spark, SF_DIR).collect()
    per_flag = [r for r in rows if r["level"] == "per_flag"]
    assert per_flag, rows
    for r in per_flag:
        assert int(r["est_in_5pct"]) == 1, r
        assert int(r["exact_distinct"]) > 0, r
    union = [r for r in rows if r["level"] == "union"][0]
    # the union sketch estimates the GLOBAL distinct count; its flag
    # compares against the true global exact, not a per-flag sum
    assert int(union["est_in_5pct"]) == 1, union
    assert int(union["exact_distinct"]) >= max(
        int(r["exact_distinct"]) for r in per_flag
    )
