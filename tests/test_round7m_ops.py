"""Round-7 batch-13 invariants (operators/round7m_ops.py): AP against
a pure-Python sklearn-definition reference and the perfect/baseline
poles, NDCG against hand-computed gains, the threshold sweep's
confusion-matrix identities, and TextRank against a hand-built graph
plus its flow property."""

from __future__ import annotations

import datetime as dt
import math

from python_etl_sample_spark.registry import REGISTRY, load_all_operators

load_all_operators()

SF_DIR = "/root/testdata/sf0.001"

_D = dt.datetime

_ORD_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string,"
    " o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
)
_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _write(spark, tmpdir, name, rows, schema):
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        f"{tmpdir}/{name}.parquet"
    )


def _orders(specs):
    return [
        (i + 1, 1, "O", float(price),
         _D(2024, 1, 1), "1-URGENT" if pos else "5-LOW")
        for i, (price, pos) in enumerate(specs)
    ]


# ---------------------------------------------------------------------------
# ml_pr_auc
# ---------------------------------------------------------------------------


def _ap_reference(specs):
    """sklearn-style AP over the score histogram, descending."""
    from collections import Counter

    cnt, pos = Counter(), Counter()
    for s, y in specs:
        cnt[s] += 1
        pos[s] += y
    n1 = sum(pos.values())
    cumc = cump = 0
    ap = 0.0
    for s in sorted(cnt, reverse=True):
        cumc += cnt[s]
        cump += pos[s]
        ap += pos[s] * (cump / cumc)
    return ap / n1


def test_pr_auc_perfect_and_baseline(spark, tmp_path):
    """All positives above all negatives → AP = 1; at the other pole,
    a single positive with the LOWEST score gives AP = prevalence."""
    perfect = [(100.0, 0), (200.0, 0), (300.0, 1), (400.0, 1)]
    _write(spark, tmp_path, "orders", _orders(perfect), _ORD_SCHEMA)
    r = REGISTRY["ml_pr_auc"].fn(spark, str(tmp_path)).collect()[0]
    assert r["pr_auc"] == 1.0
    assert r["baseline"] == 0.5
    worst = [(100.0, 1), (200.0, 0), (300.0, 0), (400.0, 0)]
    _write(spark, tmp_path, "orders", _orders(worst), _ORD_SCHEMA)
    r = REGISTRY["ml_pr_auc"].fn(spark, str(tmp_path)).collect()[0]
    assert r["pr_auc"] == 0.25  # found only at the last threshold


def test_pr_auc_matches_reference_with_ties(spark, tmp_path):
    """Histogram AP with tied scores across classes equals the
    pure-Python reference."""
    specs = [
        (100.0, 0), (100.0, 1), (200.0, 1), (200.0, 0), (200.0, 1),
        (300.0, 0), (400.0, 1), (400.0, 0),
    ]
    _write(spark, tmp_path, "orders", _orders(specs), _ORD_SCHEMA)
    r = REGISTRY["ml_pr_auc"].fn(spark, str(tmp_path)).collect()[0]
    assert abs(r["pr_auc"] - round(_ap_reference(specs), 6)) < 1e-6


def test_pr_auc_fixture_bounds(spark):
    """baseline ≤ AP ≤ 1 cannot be asserted in general (AP can dip
    below prevalence), but AP ∈ [0, 1] and counts reconcile."""
    from python_etl_sample_spark.sources import table

    r = REGISTRY["ml_pr_auc"].fn(spark, SF_DIR).collect()[0]
    assert 0.0 <= r["pr_auc"] <= 1.0
    assert r["n_pos"] + r["n_neg"] == table(spark, SF_DIR, "orders").count()


# ---------------------------------------------------------------------------
# ml_ndcg_retrieval
# ---------------------------------------------------------------------------


def test_ndcg_fixture_identities(spark):
    """One row per probe; 0 ≤ NDCG ≤ 1; DCG ≤ IDCG; NDCG recomputes
    from the reported DCG/IDCG."""
    rows = REGISTRY["ml_ndcg_retrieval"].fn(spark, SF_DIR).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["dcg"] <= r["idcg"] + 1e-9
        assert 0.0 <= r["ndcg"] <= 1.0
        assert abs(r["ndcg"] - round(r["dcg"] / r["idcg"], 6)) < 2e-6


def test_ndcg_perfect_when_bm25_order_matches_relevance(spark, tmp_path):
    """A corpus where the doc matching more probe terms also has the
    higher BM25 score → the ranking is relevance-ideal → NDCG = 1."""
    rows = [
        (1, "fast scan merge", "en", "web", 0),  # 3 terms, short -> top
        (2, "fast " + " ".join(f"w{i}" for i in range(30)), "en", "web", 0),
        (3, " ".join(f"x{i}" for i in range(10)), "en", "web", 0),
    ]
    _write(spark, tmp_path, "documents", rows, _DOC_SCHEMA)
    got = {
        r["probe_id"]: r
        for r in REGISTRY["ml_ndcg_retrieval"].fn(spark, str(tmp_path)).collect()
    }
    assert got[1]["ndcg"] == 1.0
    # hand DCG: rel 3 at rank 1, rel 1 at rank 2
    want = round((2**3 - 1) / math.log2(2) + (2**1 - 1) / math.log2(3), 6)
    assert abs(got[1]["dcg"] - want) < 1e-5


# ---------------------------------------------------------------------------
# ml_threshold_sweep
# ---------------------------------------------------------------------------


def test_threshold_sweep_confusion_identities(spark):
    """Nine rows; every confusion matrix sums to n; precision/recall/
    F1 recompute from the cells; TP and predicted-positive counts are
    non-decreasing as the threshold loosens."""
    from python_etl_sample_spark.sources import table

    rows = sorted(
        REGISTRY["ml_threshold_sweep"].fn(spark, SF_DIR).collect(),
        key=lambda r: r["decile"],
    )
    n = table(spark, SF_DIR, "orders").count()
    assert [r["decile"] for r in rows] == list(range(1, 10))
    prev_tp = prev_pp = -1
    for r in rows:
        assert r["tp"] + r["fp"] + r["fn"] + r["tn"] == n
        assert abs(r["precision"] - round(r["tp"] / (r["tp"] + r["fp"]), 6)) < 1e-9
        assert abs(r["recall"] - round(r["tp"] / (r["tp"] + r["fn"]), 6)) < 1e-9
        f1 = 2 * r["tp"] / (2 * r["tp"] + r["fp"] + r["fn"])
        assert abs(r["f1"] - round(f1, 6)) < 1e-9
        assert r["tp"] >= prev_tp and r["tp"] + r["fp"] >= prev_pp
        prev_tp, prev_pp = r["tp"], r["tp"] + r["fp"]


def test_threshold_sweep_planted_separation(spark, tmp_path):
    """100 orders, top-30 scores all positive: the k=3 cut is a
    perfect classifier (precision 1, recall 1); k=1 has precision 1
    and recall 1/3."""
    specs = [(1000.0 + i, 1) for i in range(30)]
    specs += [(100.0 + i, 0) for i in range(70)]
    _write(spark, tmp_path, "orders", _orders(specs), _ORD_SCHEMA)
    rows = {
        r["decile"]: r
        for r in REGISTRY["ml_threshold_sweep"].fn(spark, str(tmp_path)).collect()
    }
    assert rows[3]["precision"] == 1.0 and rows[3]["recall"] == 1.0
    assert rows[3]["f1"] == 1.0
    assert rows[1]["precision"] == 1.0
    assert abs(rows[1]["recall"] - round(10 / 30, 6)) < 1e-9
    assert rows[9]["recall"] == 1.0 and rows[9]["precision"] < 0.5


# ---------------------------------------------------------------------------
# text_textrank_keywords
# ---------------------------------------------------------------------------


def test_textrank_hub_word_wins(spark, tmp_path):
    """A star graph: 'hub' is adjacent to many distinct words, each
    spoke word appears in exactly one context — the hub must rank
    first even though each spoke pair has the same edge weight."""
    docs = [
        (i + 1, f"hub spoke{i} and hub", "en", "web", 0) for i in range(8)
    ]
    _write(spark, tmp_path, "documents", docs, _DOC_SCHEMA)
    rows = sorted(
        REGISTRY["text_textrank_keywords"].fn(spark, str(tmp_path)).collect(),
        key=lambda r: r["rnk"],
    )
    assert rows[0]["token"] == "hub"
    assert rows[0]["degree_w"] > rows[1]["degree_w"]


def test_textrank_matches_pure_python_replay(spark, tmp_path):
    """Replay the exact 3-iteration damped update in pure Python on a
    small corpus and compare the full ranked output."""
    docs = [
        (1, "alpha beta gamma alpha beta", "en", "web", 0),
        (2, "beta gamma delta", "en", "web", 0),
        (3, "alpha delta alpha", "en", "web", 0),
    ]
    _write(spark, tmp_path, "documents", docs, _DOC_SCHEMA)
    # build adjacency (stopwords 'and' etc. absent here)
    from collections import Counter

    adj = Counter()
    for _, text, *_ in docs:
        toks = text.split()
        for a, b in zip(toks, toks[1:]):
            if a != b:
                adj[(a, b)] += 1
    edges = Counter()
    for (a, b), w in adj.items():
        edges[(a, b)] += w
        edges[(b, a)] += w
    outw = Counter()
    for (a, _), w in edges.items():
        outw[a] += w
    nodes = sorted(outw)
    scores = {t: 1.0 for t in nodes}
    for _ in range(3):
        nxt = {}
        for t in nodes:
            contribs = [
                round((w / outw[src]) * scores[src], 12)
                for (src, dst), w in edges.items()
                if dst == t
            ]
            from decimal import Decimal

            csum = float(sum(Decimal(f"{c:.14f}") for c in contribs))
            nxt[t] = round(0.15 + 0.85 * csum, 9)
        scores = nxt
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    got = sorted(
        REGISTRY["text_textrank_keywords"].fn(spark, str(tmp_path)).collect(),
        key=lambda r: r["rnk"],
    )
    assert [(r["token"], r["score"]) for r in got] == [
        (t, round(s, 6)) for t, s in want
    ]
    for r in got:
        assert r["degree_w"] == outw[r["token"]]


def test_textrank_fixture_shape(spark):
    """Fifteen ranked keywords, scores positive and non-increasing,
    none a stopword."""
    from python_etl_sample_spark.operators.text_analysis import _RAKE_STOP

    rows = sorted(
        REGISTRY["text_textrank_keywords"].fn(spark, SF_DIR).collect(),
        key=lambda r: r["rnk"],
    )
    assert len(rows) == 15
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert r["score"] > 0
        assert r["token"] not in _RAKE_STOP
