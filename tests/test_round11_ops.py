"""Round-11 operator invariants: agreement statistics replay in pure
Python from the exact counts the queries emit, the sweeps are monotone
in their parameter, and the corpus diagnostics tie back to the shared
frames they ride. (Cross-engine value parity is the driver's oracle
gate; these pin the algorithmic claims.)"""

from __future__ import annotations

import math

from python_etl_sample_spark.registry import REGISTRY, load_all_operators

load_all_operators()

SF_DIR = "/root/testdata/sf0.001"


def _run(name, spark, sf=SF_DIR):
    return REGISTRY[name].fn(spark, sf)


def test_cohens_kappa_replays_from_counts(spark):
    r = _run("ml_cohens_kappa", spark).collect()[0]
    n = r["n"]
    assert r["n11"] + r["n10"] + r["n01"] + r["n00"] == n
    po = (r["n11"] + r["n00"]) / n
    pe = ((r["n11"] + r["n10"]) / n) * ((r["n11"] + r["n01"]) / n) + (
        (r["n01"] + r["n00"]) / n
    ) * ((r["n10"] + r["n00"]) / n)
    assert abs(r["po"] - round(po, 6)) < 1e-9
    assert abs(r["pe"] - round(pe, 6)) < 1e-9
    assert abs(r["kappa"] - round((po - pe) / (1 - pe), 6)) < 1e-9
    assert -1.0 <= r["kappa"] <= 1.0


def test_fleiss_kappa_replays_and_bounds(spark):
    r = _run("stats_fleiss_kappa", spark).collect()[0]
    n, sk = r["n"], r["n_flag_votes"]
    assert 0 <= sk <= 3 * n
    p1 = sk / (3 * n)
    pe = p1 * p1 + (1 - p1) * (1 - p1)
    assert abs(r["p_e"] - round(pe, 6)) < 1e-9
    # per-item agreement is a proportion of the 3 pairwise rater pairs
    assert 0.0 <= r["p_bar"] <= 1.0
    assert -1.0 <= r["fleiss_kappa"] <= 1.0
    assert abs(
        r["fleiss_kappa"] - round((r["p_bar"] - pe) / (1 - pe), 6)
    ) < 2e-6  # p_bar itself is 6-dp rounded


def test_mcnemar_replays_from_discordant_counts(spark):
    r = _run("ml_mcnemar_paired", spark).collect()[0]
    b, c = r["a_only_correct"], r["b_only_correct"]
    assert b + c > 0  # the two classifiers genuinely disagree somewhere
    chi2 = (abs(b - c) - 1.0) ** 2 / (b + c)
    assert abs(r["chi2_cc"] - round(chi2, 6)) < 1e-9
    # accuracy identity: acc_a - acc_b == (b - c)/n
    assert abs((r["acc_a"] - r["acc_b"]) - (b - c) / r["n"]) < 2e-6


def test_power_mde_replays_formula(spark):
    rows = _run("events_power_mde", spark).collect()
    assert len(rows) >= 2
    for r in rows:
        p = r["conv"] / r["n"]
        mde = (1.959963985 + 0.841621234) * math.sqrt(
            2.0 * p * (1 - p) / (r["n"] / 2.0)
        )
        assert abs(r["mde_abs"] - round(mde, 6)) < 1e-9
        assert 0.0 < r["p"] < 1.0
        assert r["mde_abs"] > 0.0


def test_jaccard_histogram_partitions_pair_frame(spark):
    from python_etl_sample_spark.functions.xengine import _xengine_pairs

    rows = _run("dedup_jaccard_histogram", spark).collect()
    n_pairs_total = sum(r["n_pairs"] for r in rows)
    assert n_pairs_total == _xengine_pairs(spark, SF_DIR).count()
    for r in rows:
        lo = r["bin20"] / 20.0
        assert 0 <= r["bin20"] <= 20
        assert abs(r["bin_lo"] - round(lo, 2)) < 1e-12
        # mean within the bin (right edge inclusive only at J = 1.0)
        assert lo - 1e-9 <= r["mean_jac"] <= lo + 0.05 + 1e-6


def test_heaps_fit_is_sublinear_growth(spark):
    r = _run("text_heaps_law_fit", spark).collect()[0]
    assert r["n_points"] > 0
    # vocabulary grows, but sublinearly: 0 < beta < 1 on any corpus
    # with repeated tokens; a flat beta would flag total duplication
    assert 0.0 < r["heaps_beta"] < 1.0


def test_log_odds_topk_per_source_ordered(spark):
    rows = _run("text_log_odds_domain_terms", spark).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r["rn"])
        assert [r["rn"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 5
        zs = [r["log_odds_z"] for r in rs]
        assert zs == sorted(zs, reverse=True)
        for r in rs:
            assert r["n_in_source"] > 0


def test_lsh_radius_sweep_monotone_and_consistent(spark):
    rows = _run("sim_lsh_radius_sweep", spark).collect()
    cells = {(r["radius"], r["rn"]): r for r in rows}
    radii = sorted({r["radius"] for r in rows})
    assert radii == [1.0, 1.2, 1.4]
    for rn in range(1, 6):
        # recall is monotone non-decreasing in the radius: the bucket
        # condition is radius-independent and the distance cut relaxes
        rec = [cells[(rad, rn)]["recall"] for rad in radii]
        assert rec == sorted(rec)
        n_pairs = {cells[(rad, rn)]["n_pairs"] for rad in radii}
        assert len(n_pairs) == 1  # ground truth identical per radius
    for r in rows:
        assert 0 <= r["n_caught"] <= r["n_pairs"]


def test_lsh_sweep_deployed_radius_matches_recall_query(spark):
    """At the deployed radius (1.2) the sweep must reproduce
    sim_ann_recall's lsh rows exactly — same flags, same grouping."""
    sweep = {
        (r["rn"], r["n_caught"], r["n_pairs"])
        for r in _run("sim_lsh_radius_sweep", spark).collect()
        if r["radius"] == 1.2
    }
    recall = {
        (r["rn"], r["n_caught"], r["n_pairs"])
        for r in _run("sim_ann_recall", spark).collect()
        if r["family"] == "lsh"
    }
    assert sweep == recall


def test_bpe_compression_consistency(spark):
    rows = _run("text_bpe_compression_by_lang", spark).collect()
    assert len(rows) >= 2
    for r in rows:
        # every word is at least one token (plus the EOW marker rides
        # inside the symbol sequence), so tokens_per_word >= 1
        assert r["tokens_per_word"] >= 1.0
        assert r["n_tokens"] >= r["n_words"]
        assert r["chars_per_token"] > 0.0
        assert abs(
            r["tokens_per_word"] - round(r["n_tokens"] / r["n_words"], 6)
        ) < 1e-9
        assert abs(
            r["chars_per_token"] - round(r["n_chars"] / r["n_tokens"], 6)
        ) < 1e-9


def test_krippendorff_alpha_replays_and_relates_to_fleiss(spark):
    r = _run("stats_krippendorff_alpha", spark).collect()[0]
    assert -1.0 <= r["kripp_alpha"] <= 1.0
    assert abs(
        r["kripp_alpha"] - round(1.0 - r["d_obs"] / r["d_exp"], 6)
    ) < 2e-6
    # alpha and Fleiss' kappa measure the same raters; with N in the
    # thousands the finite-sample correction is tiny, so they agree
    # closely (alpha -> kappa as M -> inf for binary nominal data)
    fk = _run("stats_fleiss_kappa", spark).collect()[0]
    assert abs(r["kripp_alpha"] - fk["fleiss_kappa"]) < 0.01


def test_cochran_q_nonnegative_and_replays(spark):
    r = _run("stats_cochran_q", spark).collect()[0]
    assert r["cochran_q"] >= 0.0
    assert r["df"] == 2
    c = [r["c1"], r["c2"], r["c3"]]
    assert all(0 <= x <= r["n"] for x in c)


def test_srm_check_balanced_assignment(spark):
    r = _run("events_srm_check", spark).collect()[0]
    assert r["arm_a"] + r["arm_b"] == r["n_users"]
    chi2 = (r["arm_a"] - r["arm_b"]) ** 2 / r["n_users"]
    assert abs(r["chi2"] - round(chi2, 6)) < 1e-9
    # a correct hash split of a healthy fixture must NOT flag SRM
    assert r["srm_flag"] == 0


def test_survivorship_partitions_corpus(spark):
    rows = _run("corpus_dedup_survivorship", spark).collect()
    by_k = {r["is_keeper"]: r for r in rows}
    assert 1 in by_k
    n_total = sum(r["n_docs"] for r in rows)
    from python_etl_sample_spark.sources import table

    assert n_total == table(spark, SF_DIR, "documents").count()
    if 0 in by_k:
        # the dropped class is exactly the higher-id side of the EXACT
        # J >= 0.8 pair set (dedup_ngram_jaccard — the truth set the
        # query itself recomputes). Deliberately NOT the minhash
        # detector's emission: those coincide only while banding recall
        # is exactly 1.0 on the fixtures (a J~0.9 pair escapes all 4
        # bands with p~1.3%), so a regenerated/larger fixture could
        # fail that comparison without any code bug; detector == truth
        # has its own dedicated test.
        found = _run("dedup_ngram_jaccard", spark).collect()
        dropped_ids = {r["doc_b"] for r in found}
        assert by_k[0]["n_docs"] == len(dropped_ids)


def test_xengine_polynomial_matches_pure_python(spark):
    """Algorithm-vs-algorithm: the Spark fold that keys shingles must
    equal a pure-Python evaluation of the same polynomial
    (acc·31 + code) mod (2³¹−1) on the actual corpus shingles — a bug
    in the fold direction, modulus, or ascii indexing would shift
    every downstream minhash/simhash decision in BOTH engines at once,
    which the cross-engine hash could never catch."""
    from pyspark.sql import functions as F

    from python_etl_sample_spark.functions.xengine import (
        _XP,
        _xengine_shingle_keys,
    )
    from python_etl_sample_spark.sources import table

    def poly(s: str) -> int:
        acc = 0
        for ch in s:
            acc = (acc * 31 + ord(ch)) % _XP
        return acc

    docs = {
        r["doc_id"]: r["text"]
        for r in table(spark, SF_DIR, "documents").limit(25).collect()
    }
    expected = set()
    for doc_id, text in docs.items():
        toks = [t for t in text.lower().split() if t]
        for i in range(len(toks) - 2):
            expected.add((doc_id, poly(" ".join(toks[i : i + 3]))))
    got = {
        (r["doc_id"], r["k"])
        for r in _xengine_shingle_keys(spark, SF_DIR)
        .filter(F.col("doc_id").isin(list(docs)))
        .collect()
    }
    assert got == expected


def test_minhash_detector_output_equals_exact_truth_on_fixtures(spark):
    """Precision AND recall of the deployed detector on the fixtures:
    every emitted pair carries an exact Jaccard >= 0.8 by construction
    (precision 1.0 structurally — candidates are verified against the
    inverted-index counts), and the banding geometry catches every
    planted truth pair here (recall measured 1.0 at this scale), so
    the output must EQUAL dedup_ngram_jaccard's truth set."""
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in _run("dedup_ngram_jaccard", spark).collect()
    }
    found = {
        (r["doc_a"], r["doc_b"])
        for r in _run("dedup_near_minhash", spark).collect()
    }
    assert found == truth


def test_hits_cadence_constant_is_shared_and_valid():
    """The renorm cadence generates BOTH the Spark loop and the oracle
    CTE chain; a cadence that does not renormalize on the final round
    would leave the hub output un-normalized while the oracle's final
    SELECT still reads h{rounds} — pin the structural invariant."""
    from python_etl_sample_spark.operators.graph_analytics import (
        _HITS_RENORM_EVERY,
        _HITS_ROUNDS,
    )

    assert _HITS_ROUNDS % _HITS_RENORM_EVERY == 0
    from python_etl_sample_spark.registry import REGISTRY

    oracle = REGISTRY["graph_hits_scores"].oracle
    # final round must carry a renormalizing CTE in the oracle text
    assert f"h{_HITS_ROUNDS}t" in oracle
