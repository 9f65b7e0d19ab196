"""Round-10b invariants (operators/round10b_ops.py): HITS and PQ-ADC.

Oracle parity (the driver gate) proves both engines compute the same
thing; these tests pin that the thing computed has the algorithms'
defining properties — HITS conserves its normalized mass and tracks
degree, PQ's asymmetric distances actually rank by true distance.
"""

from __future__ import annotations

import numpy as np

from python_etl_sample_spark.operators.graph_analytics import (
    _HITS_SCALE,
    graph_hits_scores,
)
from python_etl_sample_spark.operators.similarity import _PQ_TOPK, sim_pq_adc

SF_DIR = "/root/testdata/sf0.001"


def test_hits_mass_conservation_and_roles(spark):
    """Each L1 renormalization floors per node, so total mass for each
    role is _HITS_SCALE minus at most one unit per node — any larger
    loss (or any negative score) means the widened integer arithmetic
    broke. (Round 11 halved the renorm cadence; the product form keeps
    this invariant intact — the divisor-form alternative measured a
    5.6e-4·SCALE overshoot on the tiny sf0.001 graph and was
    rejected.)"""
    pdf = graph_hits_scores(spark, SF_DIR).toPandas()
    assert set(pdf.role.unique()) == {"hub", "authority"}
    assert (pdf.score_scaled >= 0).all()
    assert (pdf.degree >= 1).all()
    for role in ("hub", "authority"):
        part = pdf[pdf.role == role]
        loss = _HITS_SCALE - int(part.score_scaled.sum())
        assert 0 <= loss <= len(part), (role, loss)
        # node ids unique within a role
        assert part.node_id.is_unique


def test_hits_authority_tracks_indegree(spark):
    """On the shipment graph, authority mass concentrates on
    well-connected suppliers — the mutual-reinforcement fixed point
    must correlate strongly with in-degree (0.96 measured; pinned
    loosely)."""
    pdf = graph_hits_scores(spark, SF_DIR).toPandas()
    auth = pdf[pdf.role == "authority"]
    assert auth.degree.corr(auth.score_scaled) > 0.5


def test_hits_deterministic(spark):
    a = sorted(map(tuple, graph_hits_scores(spark, SF_DIR).collect()))
    b = sorted(map(tuple, graph_hits_scores(spark, SF_DIR).collect()))
    assert a == b


def test_hits_degree_guard_trips_beyond_audited_headroom(spark, monkeypatch):
    """The DECIMAL(38) range audit for the 2-round renorm cadence holds
    only to maxdeg ~4.6e4; past it Spark's non-ANSI decimal arithmetic
    would NULL silently. The kernel must therefore fail LOUDLY at
    execution when max(outdeg, indeg) exceeds _hits_maxdeg_bound — and
    the guard must not be prunable (it rides the h₀ expression). Pin
    both directions: bound forced below the fixture's real max degree →
    raises with the remediation message; real bound → runs clean (every
    other HITS test covers that side)."""
    import pytest

    from python_etl_sample_spark.operators import graph_analytics as mod

    monkeypatch.setattr(mod, "_hits_maxdeg_bound", lambda _: 0)
    with pytest.raises(Exception, match="_HITS_RENORM_EVERY"):
        graph_hits_scores(spark, SF_DIR).collect()


def test_pq_adc_shape_and_ordering(spark):
    """Every label-0 query gets exactly _PQ_TOPK neighbors (the ADC
    scan covers the whole corpus), ranks are 1..k, distances are
    non-negative and non-decreasing in rank, and no query is its own
    neighbor."""
    pdf = sim_pq_adc(spark, SF_DIR).toPandas()
    assert (pdf.adc_dist >= 0).all()
    assert (pdf.query_id != pdf.neighbor_id).all()
    for _, g in pdf.groupby("query_id"):
        g = g.sort_values("rn")
        assert list(g.rn) == list(range(1, _PQ_TOPK + 1))
        assert (g.adc_dist.diff().dropna() >= 0).all()


def test_pq_adc_ranks_by_true_distance(spark):
    """ADC recall@5 against brute-force exact L2 top-5. Isotropic
    Gaussian fixtures are PQ's worst case (distances concentrate, a
    16-entry sample codebook captures no cluster structure) — measured
    0.143 at sf0.001, vs 0.0189 expected for 5 random picks of 263
    candidates — so the pin is that ADC beats chance by an order of
    magnitude, not that it rivals clustered-data recall."""
    import duckdb

    pdf = sim_pq_adc(spark, SF_DIR).toPandas()
    emb = duckdb.sql(
        f"SELECT vec_id, embedding, label FROM "
        f"read_parquet('{SF_DIR}/embeddings.parquet') ORDER BY vec_id"
    ).df()
    X = np.array([np.asarray(e, dtype=np.float64) for e in emb.embedding])
    ids = emb.vec_id.values
    hit = tot = 0
    for qid, g in pdf.groupby("query_id"):
        qi = int(np.where(ids == qid)[0][0])
        d = ((X - X[qi]) ** 2).sum(1)
        d[qi] = np.inf
        exact = set(ids[np.lexsort((ids, d))[:_PQ_TOPK]])
        hit += len(exact & set(g.neighbor_id))
        tot += _PQ_TOPK
    assert hit / tot >= 0.10


def test_pq_adc_deterministic(spark):
    a = sorted(map(tuple, sim_pq_adc(spark, SF_DIR).collect()))
    b = sorted(map(tuple, sim_pq_adc(spark, SF_DIR).collect()))
    assert a == b


def test_ivfadc_consistent_with_exhaustive_scan(spark):
    """IVFADC and the exhaustive PQ scan derive from the same memoized
    distance frame, so any (query, neighbor) pair both return must
    carry a BIT-identical ADC distance; and nprobe=2 of k=8 cells must
    retain more of the exhaustive top-5 than the 25% that random cell
    choice would (0.382 measured — the quantizer's probing beats
    chance even on isotropic fixtures)."""
    from python_etl_sample_spark.operators.similarity import sim_pq_ivf_adc

    full = sim_pq_adc(spark, SF_DIR).toPandas()
    ivf = sim_pq_ivf_adc(spark, SF_DIR).toPandas()
    merged = full.merge(
        ivf, on=["query_id", "neighbor_id"], suffixes=("_f", "_i")
    )
    assert len(merged) > 0
    assert (merged.adc_dist_f == merged.adc_dist_i).all()
    fp = set(map(tuple, full[["query_id", "neighbor_id"]].values))
    ip = set(map(tuple, ivf[["query_id", "neighbor_id"]].values))
    assert len(fp & ip) / len(fp) >= 0.30


def test_ivfadc_ranks_consecutive(spark):
    """Ranks are 1..n per query with no gaps (n ≤ k; fewer only if a
    query's probed cells hold fewer candidates)."""
    from python_etl_sample_spark.operators.similarity import sim_pq_ivf_adc

    pdf = sim_pq_ivf_adc(spark, SF_DIR).toPandas()
    assert (pdf.query_id != pdf.neighbor_id).all()
    for _, g in pdf.groupby("query_id"):
        g = g.sort_values("rn")
        assert list(g.rn) == list(range(1, len(g) + 1))
        assert len(g) <= _PQ_TOPK
        assert (g.adc_dist.diff().dropna() >= 0).all()


def test_bpe_merges_match_pure_python_replay(spark):
    """Gold-standard pin: the learned merge table must equal a direct
    Python implementation of the Sennrich BPE training loop (max-count
    pair with (left, right) tie-break; leftmost-greedy non-overlapping
    apply) over the same word-frequency table."""
    import duckdb

    from python_etl_sample_spark.operators.text_analysis import (
        _BPE_EOW,
        _BPE_ROUNDS,
        text_bpe_train_merges,
    )

    wf = dict(
        duckdb.sql(
            f"SELECT t.w, COUNT(*) FROM "
            f"read_parquet('{SF_DIR}/documents.parquet'), "
            f"unnest(regexp_extract_all(lower(text), '[a-z]+')) t(w) "
            f"GROUP BY t.w"
        ).fetchall()
    )
    syms = {w: list(w) + [_BPE_EOW] for w in wf}
    expected = []
    for t in range(1, _BPE_ROUNDS + 1):
        stats: dict = {}
        for w, f in wf.items():
            s = syms[w]
            for i in range(len(s) - 1):
                stats[(s[i], s[i + 1])] = stats.get((s[i], s[i + 1]), 0) + f
        (l, r), c = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((t, l, r, l + r, c))
        for w in wf:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i < len(s) - 1 and s[i] == l and s[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    got = sorted(map(tuple, text_bpe_train_merges(spark, SF_DIR).collect()))
    assert got == sorted(expected)


def test_bpe_pair_counts_non_increasing(spark):
    """Greedy max-count selection means each round's winning count can
    never exceed the previous round's (old pairs only lose occurrences;
    pairs created by a merge inherit at most the merged pair's count)."""
    from python_etl_sample_spark.operators.text_analysis import text_bpe_train_merges

    pdf = (
        text_bpe_train_merges(spark, SF_DIR)
        .toPandas()
        .sort_values("round")
    )
    assert (pdf.pair_count.diff().dropna() <= 0).all()
    assert pdf["round"].tolist() == [1, 2, 3, 4]


def test_bpe_encode_matches_python_replay(spark):
    """The top-20 token table must equal the token-frequency table of
    the pure-Python BPE replay's final symbol sequences (same replay
    as the merge-table pin, carried one step further)."""
    import duckdb

    from python_etl_sample_spark.operators.text_analysis import (
        _BPE_EOW,
        _BPE_ROUNDS,
        text_bpe_encode,
    )

    wf = dict(
        duckdb.sql(
            f"SELECT t.w, COUNT(*) FROM "
            f"read_parquet('{SF_DIR}/documents.parquet'), "
            f"unnest(regexp_extract_all(lower(text), '[a-z]+')) t(w) "
            f"GROUP BY t.w"
        ).fetchall()
    )
    syms = {w: list(w) + [_BPE_EOW] for w in wf}
    for _ in range(_BPE_ROUNDS):
        stats: dict = {}
        for w, f in wf.items():
            s = syms[w]
            for i in range(len(s) - 1):
                stats[(s[i], s[i + 1])] = stats.get((s[i], s[i + 1]), 0) + f
        (l, r), _c = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        for w in wf:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i < len(s) - 1 and s[i] == l and s[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    counts: dict = {}
    for w, f in wf.items():
        for tok in syms[w]:
            counts[tok] = counts.get(tok, 0) + f
    expected = sorted(
        ((tok, c) for tok, c in counts.items()),
        key=lambda kv: (-kv[1], kv[0]),
    )[:20]
    expected = [(tok, c, i + 1) for i, (tok, c) in enumerate(expected)]
    got = sorted(
        map(tuple, text_bpe_encode(spark, SF_DIR).collect()),
        key=lambda t: t[2],
    )
    assert got == expected
