"""Round-10c invariants (operators/round10c_ops.py).

Pinned beyond driver oracle parity:

1. PPR is genuinely *personalized*: its top node is a seed, mass is
   conserved up to truncation leak, and exactly the seed count carries
   the is_seed flag.
2. The temperature weights are a proper distribution and monotone in
   domain size — the defining property of a temperature rebalance
   (order preserved, gap compressed), which full equalization breaks.
3. text_boilerplate_ngrams matches a pure-Python replay of the whole
   measurement (tokenize → trigram df → threshold → position-union
   coverage) — algorithm-vs-algorithm, not engine-vs-engine.
4. The sweep's recall AND candidate volume are monotone in band count
   (the S-curve's defining shape), and its 4×8 row agrees exactly with
   dedup_minhash_recall's aggregate over the same geometry.
"""

from __future__ import annotations

import re
from collections import defaultdict

import pyarrow.parquet as pq

from python_etl_sample_spark.registry import REGISTRY, load_all_operators

load_all_operators()

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# graph_personalized_pagerank
# ---------------------------------------------------------------------------


def test_ppr_seeds_and_mass(spark):
    from python_etl_sample_spark.operators.graph_analytics import _PPR_SEEDS, _PPR_TELE
    from python_etl_sample_spark.operators.graph_analytics import _PR_SCALE

    rows = REGISTRY["graph_personalized_pagerank"].fn(spark, SF_DIR).collect()
    seeds = [r for r in rows if r["is_seed"] == 1]
    assert len(seeds) == _PPR_SEEDS
    # every seed holds at least its own teleport share
    assert all(r["ppr_scaled"] >= _PPR_TELE for r in seeds)
    # total mass ≤ SCALE (teleport injects 0.15·SCALE/round, propagation
    # keeps ≤ 0.85 of what exists; truncating division only leaks mass)
    total = sum(r["ppr_scaled"] for r in rows)
    assert 0 < total <= _PR_SCALE
    # personalization: the top-ranked node is a seed (teleport mass
    # concentrates there), and non-seed reached nodes exist (diffusion)
    top = max(rows, key=lambda r: (r["ppr_scaled"], r["part_id"]))
    assert top["is_seed"] == 1
    assert any(r["is_seed"] == 0 for r in rows)


def test_ppr_ranking_differs_from_global_pagerank(spark):
    """Seed-dependence: restricted to non-seed nodes, PPR and global
    PageRank must order at least one pair differently — otherwise the
    teleport personalization did nothing."""
    ppr = {
        r["part_id"]: r["ppr_scaled"]
        for r in REGISTRY["graph_personalized_pagerank"].fn(spark, SF_DIR).collect()
        if r["is_seed"] == 0
    }
    gpr = {
        r["part_id"]: r["rank_scaled"]
        for r in REGISTRY["graph_pagerank"].fn(spark, SF_DIR).collect()
    }
    common = sorted(set(ppr) & set(gpr))
    assert len(common) >= 10
    ppr_order = sorted(common, key=lambda n: (ppr[n], n))
    gpr_order = sorted(common, key=lambda n: (gpr[n], n))
    assert ppr_order != gpr_order


# ---------------------------------------------------------------------------
# corpus_temperature_mix
# ---------------------------------------------------------------------------


def test_temperature_weights_distribution_and_monotone(spark):
    rows = REGISTRY["corpus_temperature_mix"].fn(spark, SF_DIR).collect()
    assert len(rows) > 1
    s = sum(r["weight"] for r in rows)
    assert abs(s - 1.0) < 1e-3  # 6-dp-rounded weights still ≈ sum to 1
    # temperature preserves size order: weight monotone in n_chars
    by_size = sorted(rows, key=lambda r: r["n_chars"])
    for a, b in zip(by_size, by_size[1:]):
        assert a["weight"] <= b["weight"] + 1e-9
    # ...but compresses it: the largest domain is boosted DOWN, the
    # smallest UP (the whole point of temperature sampling)
    assert by_size[-1]["boost"] < 1.0 < by_size[0]["boost"]


# ---------------------------------------------------------------------------
# text_boilerplate_ngrams
# ---------------------------------------------------------------------------


def test_boilerplate_matches_pure_python_replay(spark):
    """Replay the full measurement in plain Python over the fixture and
    require exact agreement on every output cell."""
    from python_etl_sample_spark.operators.text_analysis import _BP_MIN_DF

    tbl = pq.read_table(f"{SF_DIR}/documents.parquet").to_pylist()
    tri_docs = defaultdict(set)  # tg -> {doc_id}
    doc_rows = {}  # doc_id -> (lang, [tokens])
    for rec in tbl:
        toks = [t for t in re.split(r"\s+", rec["text"].lower()) if t != ""]
        doc_rows[rec["doc_id"]] = (rec["lang"], toks)
        for i in range(len(toks) - 2):
            tri_docs[" ".join(toks[i : i + 3])].add(rec["doc_id"])
    boiler = {tg for tg, ds in tri_docs.items() if len(ds) >= _BP_MIN_DF}

    per_lang = defaultdict(
        lambda: {"docs": set(), "tok": 0, "cov": 0, "grams": set()}
    )
    for doc_id, (lang, toks) in doc_rows.items():
        agg = per_lang[lang]
        agg["docs"].add(doc_id)
        agg["tok"] += len(toks)
        covered = set()
        for i in range(len(toks) - 2):
            tg = " ".join(toks[i : i + 3])
            if tg in boiler:
                covered.update((i, i + 1, i + 2))
                agg["grams"].add(tg)
        agg["cov"] += len(covered)

    rows = REGISTRY["text_boilerplate_ngrams"].fn(spark, SF_DIR).collect()
    assert {r["lang"] for r in rows} == set(per_lang)
    for r in rows:
        exp = per_lang[r["lang"]]
        assert r["n_docs"] == len(exp["docs"])
        assert r["total_tokens"] == exp["tok"]
        assert r["boiler_tokens"] == exp["cov"]
        assert r["n_boiler_grams"] == len(exp["grams"])
        assert abs(r["boiler_ratio"] - exp["cov"] / exp["tok"]) < 1e-6
    # the fixtures plant near-duplicates, so boilerplate must exist
    assert sum(r["boiler_tokens"] for r in rows) > 0


# ---------------------------------------------------------------------------
# dedup_minhash_param_sweep
# ---------------------------------------------------------------------------


def test_sweep_s_curve_monotone_and_consistent_with_recall_query(spark):
    rows = {
        r["cfg"]: r
        for r in REGISTRY["dedup_minhash_param_sweep"].fn(spark, SF_DIR).collect()
    }
    assert set(rows) == {"2x16", "4x8", "8x4", "16x2"}
    order = ["2x16", "4x8", "8x4", "16x2"]
    for a, b in zip(order, order[1:]):
        # more/shorter bands can only ADD band collisions: both the
        # caught set and the candidate set grow monotonically
        assert rows[a]["n_caught"] <= rows[b]["n_caught"]
        assert rows[a]["n_candidates"] <= rows[b]["n_candidates"]
    n_truth = {r["n_truth"] for r in rows.values()}
    assert len(n_truth) == 1 and n_truth.pop() > 0
    # caught pairs are candidates the verifier would scan
    for r in rows.values():
        assert r["n_caught"] <= r["n_candidates"] or r["n_caught"] <= r["n_truth"]

    # the 4×8 row IS dedup_minhash_recall's geometry: totals must agree
    rec = REGISTRY["dedup_minhash_recall"].fn(spark, SF_DIR).collect()
    assert rows["4x8"]["n_truth"] == sum(r["n_exact"] for r in rec)
    assert rows["4x8"]["n_caught"] == sum(r["n_caught"] for r in rec)
