"""Round-12 invariants (operators/round12_ops.py): the SemDeDup ε-sweep
and ANN recall under churn.

Oracle parity (the driver gate) proves both engines compute the same
thing; these pin that the thing computed has the operators' defining
properties — the sweep's retention curve is a consistent partition of
the corpus that brackets the deployed policy, and the churn split is an
exact reclassification of sim_ann_recall's truth pairs (recall can only
move through sampling, never through placement).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from python_etl_sample_spark.operators.dedup import dedup_semantic_cluster
from python_etl_sample_spark.operators.similarity import sim_ann_recall
from python_etl_sample_spark.operators.similarity import (
    _CHURN_MOD,
    ann_recall_under_churn,
)
from python_etl_sample_spark.operators.dedup import _SEMDEDUP_TS, dedup_semdedup_eps
from python_etl_sample_spark.operators.similarity import sim_knn_per_query
from python_etl_sample_spark.sources import table

SF_DIR = "/root/testdata/sf0.001"


def test_semdedup_curve_monotone_and_conserving(spark):
    rows = {
        r["sim_threshold"]: r
        for r in dedup_semdedup_eps(spark, SF_DIR).collect()
    }
    assert set(rows) == set(_SEMDEDUP_TS)
    n_vecs = table(spark, SF_DIR, "embeddings").count()
    prev_pairs, prev_kept = None, None
    for t in sorted(rows):
        r = rows[t]
        # a tighter threshold can only shrink the pair set and grow
        # the survivor set
        if prev_pairs is not None:
            assert r["n_pairs"] <= prev_pairs
            assert r["n_kept"] >= prev_kept
        prev_pairs, prev_kept = r["n_pairs"], r["n_kept"]
        # each dropped doc is the higher id of >= 1 qualifying pair
        assert r["n_dropped"] <= r["n_pairs"]
        # the kept/dropped split partitions the corpus exactly
        assert r["n_kept"] + r["n_dropped"] == n_vecs
        assert abs(r["retention"] - round(r["n_kept"] / n_vecs, 6)) < 1e-9
        assert abs(r["eps"] - round(1 - t, 2)) < 1e-9


def test_semdedup_deployed_threshold_matches_semantic_cluster(spark):
    """The 0.45 row of the sweep IS the deployed dedup_semantic_cluster
    policy: same pair count, same dropped set size."""
    row = {
        r["sim_threshold"]: r
        for r in dedup_semdedup_eps(spark, SF_DIR).collect()
    }[0.45]
    pairs = dedup_semantic_cluster(spark, SF_DIR).collect()
    assert row["n_pairs"] == len(pairs)
    assert row["n_dropped"] == len({p["vec_b"] for p in pairs})


def test_churn_is_exact_reclassification_of_recall_pairs(spark):
    """Per family, the churn classes partition sim_ann_recall's truth
    pairs: pair and catch totals agree exactly (placement is a pure
    function of the vector, so churn can relabel pairs but never change
    a flag), and the churned class size equals the truth pairs whose
    either endpoint is id-divisible by the churn modulus."""
    churn = ann_recall_under_churn(spark, SF_DIR).collect()
    recall = sim_ann_recall(spark, SF_DIR).collect()
    for fam in ("lsh", "ivf"):
        c_rows = [r for r in churn if r["family"] == fam]
        r_rows = [r for r in recall if r["family"] == fam]
        assert sum(r["n_pairs"] for r in c_rows) == sum(
            r["n_pairs"] for r in r_rows
        )
        assert sum(r["n_caught"] for r in c_rows) == sum(
            r["n_caught"] for r in r_rows
        )
    exact = sim_knn_per_query(spark, SF_DIR).select("query_id", "neighbor_id")
    n_churned_truth = exact.filter(
        (F.col("query_id") % _CHURN_MOD == 0)
        | (F.col("neighbor_id") % _CHURN_MOD == 0)
    ).count()
    by_class = {
        (r["family"], r["pair_class"]): r["n_pairs"] for r in churn
    }
    for fam in ("lsh", "ivf"):
        assert by_class.get((fam, "churned"), 0) == n_churned_truth


def test_quality_sweep_monotone_and_brackets_deployed_cut(spark):
    from python_etl_sample_spark.operators.text_analysis import (
        _QT_TS,
        text_quality_threshold_sweep,
    )
    from python_etl_sample_spark.operators.text_analysis import (
        text_quality_score,
    )

    rows = {
        r["threshold"]: r
        for r in text_quality_threshold_sweep(spark, SF_DIR).collect()
    }
    assert set(rows) == set(_QT_TS)
    n_docs = table(spark, SF_DIR, "documents").count()
    prev = None
    for t in sorted(rows):
        r = rows[t]
        assert 0 <= r["n_kept"] <= n_docs
        if prev is not None:
            assert r["n_kept"] <= prev["n_kept"]
            assert r["kept_chars"] <= prev["kept_chars"]
            # survivors of a tighter cut can't have a lower mean score
            if r["n_kept"] > 0:
                assert r["mean_quality_kept"] >= prev["mean_quality_kept"] - 1e-9
        assert abs(r["retention"] - round(r["n_kept"] / n_docs, 6)) < 1e-9
        prev = r
    # the 0.8 row reproduces text_quality_score's n_high total
    n_high = sum(
        r["n_high"] for r in text_quality_score(spark, SF_DIR).collect()
    )
    assert rows[0.8]["n_kept"] == n_high


def test_mix_temperature_weights_normalize_and_compress(spark):
    from python_etl_sample_spark.operators.text_extras import (
        _MIX_ALPHAS,
        corpus_mix_alpha_sweep,
    )

    rows = corpus_mix_alpha_sweep(spark, SF_DIR).collect()
    by_alpha: dict[float, list] = {}
    for r in rows:
        by_alpha.setdefault(r["alpha"], []).append(r)
    assert set(by_alpha) == set(_MIX_ALPHAS)
    n_buckets = len(by_alpha[1.0])
    for alpha, grp in by_alpha.items():
        assert len(grp) == n_buckets
        # weights are a distribution (6-dp rounding slack per bucket)
        assert abs(sum(r["weight"] for r in grp) - 1.0) < 2e-6 * n_buckets
        if alpha == 1.0:
            for r in grp:
                assert abs(r["weight"] - round(r["p_raw"], 6)) < 2e-6
                assert abs(r["boost"] - 1.0) < 2e-6 / max(r["p_raw"], 1e-9)
    # lower temperature compresses the mix: the largest bucket's weight
    # shrinks monotonically as alpha drops
    biggest = max(by_alpha[1.0], key=lambda r: r["p_raw"])
    key = (biggest["lang"], biggest["source"])
    w = {
        a: next(
            r["weight"]
            for r in grp
            if (r["lang"], r["source"]) == key
        )
        for a, grp in by_alpha.items()
    }
    for hi, lo in zip(sorted(w, reverse=True), sorted(w, reverse=True)[1:]):
        assert w[lo] <= w[hi] + 1e-9


def test_alpha_sweep_half_row_matches_deployed_temperature_mix(spark):
    """The sweep's alpha=0.5 row must reproduce corpus_temperature_mix
    (the deployed sqrt policy) to rounding tolerance: the deployed
    operator computes sqrt (correctly rounded), the sweep computes
    pow(round(p,9), 0.5) rounded 9 dp — agreement to ~1e-6 is the
    designed overlap, divergence beyond it means one side's share or
    normalizer drifted."""
    from python_etl_sample_spark.operators.text_extras import corpus_temperature_mix
    from python_etl_sample_spark.operators.text_extras import corpus_mix_alpha_sweep

    deployed = {
        (r["lang"], r["source"]): r["weight"]
        for r in corpus_temperature_mix(spark, SF_DIR).collect()
    }
    half = {
        (r["lang"], r["source"]): r["weight"]
        for r in corpus_mix_alpha_sweep(spark, SF_DIR).collect()
        if r["alpha"] == 0.5
    }
    assert set(half) == set(deployed)
    for k in deployed:
        assert abs(half[k] - deployed[k]) < 5e-6, k


def test_ivf_imbalance_partitions_corpus(spark):
    from python_etl_sample_spark.operators.similarity import ann_ivf_imbalance

    rows = ann_ivf_imbalance(spark, SF_DIR).collect()
    n_vecs = table(spark, SF_DIR, "embeddings").count()
    assert sum(r["n_vecs"] for r in rows) == n_vecs
    k = len(rows)
    mean = n_vecs / k
    for r in rows:
        assert r["n_vecs"] >= 1  # only occupied cells are listed
        assert abs(r["share"] - round(r["n_vecs"] / n_vecs, 6)) < 1e-9
        assert abs(r["load_factor"] - round(r["n_vecs"] / mean, 6)) < 1e-9
    # load factors average to 1 by construction
    assert abs(sum(r["load_factor"] for r in rows) / k - 1.0) < 1e-5
