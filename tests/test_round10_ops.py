"""Round-10 invariants (operators/round10_ops.py): the hash-checked
recall queries for the approximate tiers (VERDICT r9 item 1).

Three claims are pinned beyond what the driver's oracle parity shows:

1. the cross-engine ground truth (polynomial-keyed shingle Jaccard)
   is the SAME pair set as the hash-checked ``dedup_ngram_jaccard``
   (xxhash64-keyed) — i.e. swapping the hash family moved nothing;
2. the simhash '0-3' band recall is exactly 1.0 (the pigeonhole
   guarantee, now measured as data);
3. the deployed xxhash64 MinHash detector (``dedup_near_minhash``)
   finds every pair the cross-engine banding's truth set contains at
   J ≥ 0.8 on the fixtures — tying the recall query's subject back to
   the shipped rows-only detector.
"""

from __future__ import annotations

from python_etl_sample_spark.registry import REGISTRY, load_all_operators

load_all_operators()

SF_DIR = "/root/testdata/sf0.001"


def _pairs(rows):
    return {(r["doc_a"], r["doc_b"]) for r in rows}


def test_xengine_truth_matches_ngram_jaccard(spark):
    """The polynomial-key ground truth (J ≥ 0.8 over 3-word shingle
    sets) must equal dedup_ngram_jaccard's hash-checked pair set —
    the hash family is exchangeable, the truth set is not."""
    from python_etl_sample_spark.functions.xengine import (
        _xengine_pairs,
        _xengine_shingle_keys,
    )
    from pyspark.sql import functions as F

    keys = _xengine_shingle_keys(spark, SF_DIR)
    sizes = keys.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    truth = (
        _xengine_pairs(spark, SF_DIR)
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= 0.8)
        .select("doc_a", "doc_b")
        .collect()
    )
    ngram = REGISTRY["dedup_ngram_jaccard"].fn(spark, SF_DIR).collect()
    assert _pairs(truth) == _pairs(ngram)
    assert len(truth) > 0


def test_minhash_recall_shape_and_planted_band(spark):
    """Planted near-dups live at J ≥ 0.9; the banding must catch ≥ 95%
    of the 0.95-1.00 band (analysis: per-pair ≥ 0.987) — measured 1.0
    on the fixtures. Count columns must be internally consistent."""
    rows = REGISTRY["dedup_minhash_recall"].fn(spark, SF_DIR).collect()
    by_band = {r["jband"]: r for r in rows}
    assert set(by_band) <= {"0.80-0.90", "0.90-0.95", "0.95-1.00"}
    top = by_band["0.95-1.00"]
    assert top["n_exact"] > 0
    assert top["recall"] >= 0.95
    for r in rows:
        assert 0 <= r["n_caught"] <= r["n_exact"]
        assert abs(r["recall"] - r["n_caught"] / r["n_exact"]) < 1e-6


def test_simhash_guaranteed_band_is_total(spark):
    """Pigeonhole: ≤ 3 flipped bits cannot touch all 4 chunks, so the
    '0-3 (guaranteed)' band recall is EXACTLY 1.0 — a theorem the
    query now proves as data."""
    rows = REGISTRY["dedup_simhash_recall"].fn(spark, SF_DIR).collect()
    by_band = {r["hband"]: r for r in rows}
    g = by_band["0-3 (guaranteed)"]
    assert g["n_pairs"] > 0
    assert g["n_caught"] == g["n_pairs"]
    assert g["recall"] == 1.0
    if "4-8" in by_band:
        h = by_band["4-8"]
        assert 0 <= h["n_caught"] <= h["n_pairs"]


def test_deployed_minhash_covers_truth_at_fixture_scale(spark):
    """The shipped xxhash64 detector (rows-only by design) must find
    every truth pair on the fixtures — the recall query measures the
    same banding geometry, so its subject and the shipped detector
    must agree here."""
    truth = _pairs(REGISTRY["dedup_ngram_jaccard"].fn(spark, SF_DIR).collect())
    found = _pairs(REGISTRY["dedup_near_minhash"].fn(spark, SF_DIR).collect())
    assert truth <= found | truth  # sanity on shapes
    assert len(truth - found) == 0


def test_sim_ann_recall_structure(spark):
    """Both families report all 5 ranks; n_pairs is constant across
    (family, rn) — every label-0 query contributes exactly one pair
    per rank — and recall stays consistent with the counts."""
    rows = REGISTRY["sim_ann_recall"].fn(spark, SF_DIR).collect()
    assert {(r["family"], r["rn"]) for r in rows} == {
        (f, rn) for f in ("lsh", "ivf") for rn in range(1, 6)
    }
    n_pairs = {r["n_pairs"] for r in rows}
    assert len(n_pairs) == 1
    for r in rows:
        assert 0 <= r["n_caught"] <= r["n_pairs"]
        assert abs(r["recall"] - r["n_caught"] / r["n_pairs"]) < 1e-6


def test_sim_ann_recall_deterministic(spark):
    """Two evaluations in one session yield identical rows (seeded
    projections, memoized Lloyd fit, rounded discontinuities)."""
    fn = REGISTRY["sim_ann_recall"].fn
    a = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    b = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    assert a == b


def test_hash_family_overflow_margins_and_distinctness():
    """The recall queries' cross-engine arithmetic must stay inside
    int64 on the FULL key domain in BOTH engines (the repo-wide
    multiplicative-hash audit, tests/test_ansi_edges.py), and the
    multiplier families must be distinct permutations."""
    from python_etl_sample_spark.functions.xengine import (
        _MH_P,
        _N_PERM,
        _SH_BITS,
        _XP,
        _mh_mult,
        _sh_mult,
    )

    mh = [_mh_mult(i) for i in range(_N_PERM)]
    sh = [_sh_mult(j) for j in range(_SH_BITS)]
    # k < 2^31 (poly mod 2^31-1); every product must fit signed int64
    assert (_XP - 1) * max(mh) < 2**63
    assert (_XP - 1) * max(sh) < 2**63
    # band fold: acc < 2^31, fold step acc*1048573 + m with m < 2^20
    assert (_XP - 1) * 1048573 + 2**20 < 2**63
    # char polynomial: acc*31 + max ASCII code
    assert (_XP - 1) * 31 + 127 < 2**63
    # permutation validity: multipliers distinct mod their value space
    assert len({m % _MH_P for m in mh}) == _N_PERM
    assert len(set(sh)) == _SH_BITS
