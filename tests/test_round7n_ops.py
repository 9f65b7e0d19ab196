"""Round-7 batch-14 invariants (operators/round7n_ops.py): hotspot
clustering on planted blobs, binary-Hamming against a pure-Python
signature recompute, Wilcoxon against hand ranks and its symmetry
identity, and more-like-this on a constructed near-duplicate corpus."""

from __future__ import annotations

import datetime as dt

from python_etl_sample_spark.registry import REGISTRY, load_all_operators

load_all_operators()

SF_DIR = "/root/testdata/sf0.001"

_D = dt.datetime

_CUST_SCHEMA = (
    "c_custkey long, c_name string, c_nationkey long, c_acctbal double,"
    " c_mktsegment string"
)
_EV_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string,"
    " value double, props string"
)
_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _write(spark, tmpdir, name, rows, schema):
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        f"{tmpdir}/{name}.parquet"
    )


# ---------------------------------------------------------------------------
# spatial_hotspot_clusters
# ---------------------------------------------------------------------------


def test_hotspot_mass_accounting_at_fixture(spark):
    """Every cluster has ≥1 cell, peak ≤ mass, and dense-cell mass is
    a minority of total customers (the density gate actually gates)."""
    from python_etl_sample_spark.sources import table

    rows = REGISTRY["spatial_hotspot_clusters"].fn(spark, SF_DIR).collect()
    assert rows
    n = table(spark, SF_DIR, "customer").count()
    for r in rows:
        assert r["n_cells"] >= 1
        assert r["peak_cell_count"] <= r["n_points"]
        assert r["n_points"] >= 2 * r["n_cells"]  # gate floor: >=2 per cell
    assert sum(r["n_points"] for r in rows) < n


def test_hotspot_clusters_merge_adjacent_dense_cells(spark):
    """Recompute the dense-cell set and its 8-neighbor components in
    pure Python from the same synthetic coordinates and compare the
    full cluster report."""
    from collections import Counter

    from python_etl_sample_spark.sources import table

    keys = [
        r["c_custkey"]
        for r in table(spark, SF_DIR, "customer").select("c_custkey").collect()
    ]
    import math

    n = len(keys)
    g = max(2, math.floor(math.sqrt(n / 4.0)))
    cells = Counter()
    for k in keys:
        x = ((k % 100000) * 2654435761) % 10000
        y = ((k % 100000) * 2246822519) % 10000
        cells[(x * g // 10000, y * g // 10000)] += 1
    dense = {c: v for c, v in cells.items()
             if 4 * g * g * v > 5 * n and v >= 2}
    # union-find over 8-neighbors
    parent = {c: c for c in dense}

    def find(c):
        while parent[c] != c:
            parent[c] = parent[parent[c]]
            c = parent[c]
        return c

    for (cx, cy) in dense:
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                nb = (cx + dx, cy + dy)
                if nb in dense:
                    ra, rb = find((cx, cy)), find(nb)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    clusters = {}
    for c, v in dense.items():
        root = find(c)
        clusters.setdefault(root, []).append((c, v))
    want = {}
    for members in clusters.values():
        cid = min(cx * 100000 + cy for (cx, cy), _ in members)
        counts = [v for _, v in members]
        want[cid] = (len(members), sum(counts), max(counts))
    got = {
        r["cluster_id"]: (r["n_cells"], r["n_points"], r["peak_cell_count"])
        for r in REGISTRY["spatial_hotspot_clusters"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_hotspot_fwd_plan_is_equi_join(spark):
    """Round-8 plan pin (closes the VERDICT r7 audit blind spot): the
    dense-cell adjacency must plan as a HASH equi-join on the exploded
    neighbor key — never the O(d²) BroadcastNestedLoopJoin the old
    |Δcx|≤1 ∧ |Δcy|≤1 theta join produced. The query executes its CC
    stage at construction, so tools/plan_audit.py cannot see this
    join; this test pins the intermediate frame's physical plan
    directly."""
    from python_etl_sample_spark.operators.spatial import _hotspot_fwd_edges

    dense = spark.createDataFrame(
        [(cx * 100000 + cy, cx, cy, 3) for cx in range(4) for cy in range(4)],
        "cell bigint, cx bigint, cy bigint, cnt bigint",
    )
    fwd = _hotspot_fwd_edges(dense)
    plan = fwd._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or (
        "ShuffledHashJoin" in plan
    )


def test_hotspot_fwd_matches_theta_join_semantics(spark):
    """The explode-4-forward-offsets equi-join produces exactly the
    8-neighbor forward pairs (|Δcx|≤1, |Δcy|≤1, src<dst) — checked
    against a brute-force recompute on a grid with borders, gaps, and
    cy=0 edge cells (where the (+1,-1) offset key must dangle, not
    wrap onto another real cell)."""
    from python_etl_sample_spark.operators.spatial import _hotspot_fwd_edges

    cells = [
        (0, 0), (0, 1), (1, 0), (2, 2), (3, 1), (3, 3), (4, 0), (5, 5),
    ]
    dense = spark.createDataFrame(
        [(cx * 100000 + cy, cx, cy, 2) for cx, cy in cells],
        "cell bigint, cx bigint, cy bigint, cnt bigint",
    )
    got = {
        (r["src"], r["dst"])
        for r in _hotspot_fwd_edges(dense).collect()
    }
    ids = {cx * 100000 + cy for cx, cy in cells}
    want = {
        (a, b)
        for a in ids
        for b in ids
        if a < b
        and abs(a // 100000 - b // 100000) <= 1
        and abs(a % 100000 - b % 100000) <= 1
    }
    assert got == want


def test_hotspot_components_cross_tile_merge(spark):
    """The two-level tile decomposition must merge components that
    straddle tile boundaries: a chain crossing cx = 255|256 (tile key
    changes) and one crossing cy = 255|256 both get single labels
    equal to the component minimum; an isolated far cell keeps its own
    id. At the fixture scale factors the whole grid fits one tile, so
    this synthetic graph is the only coverage of the contracted
    boundary-graph path."""
    from python_etl_sample_spark.operators.spatial import (
        _hotspot_components,
        _hotspot_fwd_edges,
    )

    cells = [
        # horizontal chain crossing the cx tile border
        (254, 10), (255, 10), (256, 11), (257, 11),
        # vertical chain crossing the cy tile border
        (10, 254), (10, 255), (11, 256),
        # isolated
        (600, 600),
    ]
    dense = spark.createDataFrame(
        [(cx * 100000 + cy, cx, cy, 2) for cx, cy in cells],
        "cell bigint, cx bigint, cy bigint, cnt bigint",
    )
    fwd = _hotspot_fwd_edges(dense)
    got = {
        r["cell"]: r["cluster"]
        for r in _hotspot_components(dense, fwd).collect()
    }
    cid = lambda cx, cy: cx * 100000 + cy  # noqa: E731
    want = {
        cid(254, 10): cid(254, 10),
        cid(255, 10): cid(254, 10),
        cid(256, 11): cid(254, 10),
        cid(257, 11): cid(254, 10),
        cid(10, 254): cid(10, 254),
        cid(10, 255): cid(10, 254),
        cid(11, 256): cid(10, 254),
        cid(600, 600): cid(600, 600),
    }
    assert got == want


# ---------------------------------------------------------------------------
# embedding_binary_hamming
# ---------------------------------------------------------------------------


def test_binary_hamming_matches_pure_python(spark):
    """Recompute sign signatures and probe top-5 by (hamming, id) in
    pure Python and compare the full report."""
    from python_etl_sample_spark.sources import table

    rows = (
        table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    sigs = {}
    for r in rows:
        w1 = w2 = 0
        for i, x in enumerate(r["embedding"]):
            if x > 0:
                if i < 32:
                    w1 |= 1 << i
                else:
                    w2 |= 1 << (i - 32)
        sigs[r["vec_id"]] = (w1, w2)
    probes = sorted(sigs)[:10]
    want = {}
    for p in probes:
        cands = sorted(
            (
                (
                    bin(sigs[p][0] ^ sigs[v][0]).count("1")
                    + bin(sigs[p][1] ^ sigs[v][1]).count("1"),
                    v,
                )
                for v in sigs
                if v != p
            )
        )[:5]
        want.update(
            {(p, v): (h, rn + 1) for rn, (h, v) in enumerate(cands)}
        )
    got = {
        (r["probe_id"], r["neighbor_id"]): (r["hamming"], r["rn"])
        for r in REGISTRY["embedding_binary_hamming"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_binary_hamming_identical_vector_distance_zero(spark, tmp_path):
    """Duplicated embeddings have Hamming 0 and rank first."""
    base = [1.0 if i % 3 else -1.0 for i in range(64)]
    other = [-x for x in base]
    rows = [(1, base, 0), (2, base, 0), (3, other, 0)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    got = {
        (r["probe_id"], r["neighbor_id"]): r["hamming"]
        for r in REGISTRY["embedding_binary_hamming"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert got[(1, 2)] == 0
    assert got[(1, 3)] == 64
    assert got[(3, 1)] == 64


# ---------------------------------------------------------------------------
# stats_wilcoxon_signed_rank
# ---------------------------------------------------------------------------


def _daily_events(series):
    base = _D(2024, 7, 1)
    return [
        (d + 1, base + dt.timedelta(days=d), 1, "purchase", c / 100.0, "{}")
        for d, c in series
    ]


def test_wilcoxon_hand_ranks(spark, tmp_path):
    """Construct 16 days so the four 14-day pairs have diffs
    +100, −200, +300, +400 (in cents): ranks of |d| are 1..4,
    W⁺ = 1+3+4 = 8, W⁻ = 2; z = (8 − 5)/√(4·5·9/24) = 3/√7.5."""
    series = [(0, 1000), (1, 1000), (2, 1000), (3, 1000)]
    series += [(14, 1100), (15, 800), (16, 1300), (17, 1400)]
    _write(spark, tmp_path, "events", _daily_events(series), _EV_SCHEMA)
    r = REGISTRY["stats_wilcoxon_signed_rank"].fn(spark, str(tmp_path)).collect()[0]
    assert r["n_pairs"] == 4
    assert r["w_plus"] == 8.0
    assert r["w_minus"] == 2.0
    assert abs(r["z_score"] - round(3 / (7.5 ** 0.5), 6)) < 1e-6


def test_wilcoxon_symmetric_shift_identities(spark, tmp_path):
    """W⁺ + W⁻ = n(n+1)/2 always; an all-positive shift gives
    W⁻ = 0 and the maximal z for that n."""
    series = [(d, 1000) for d in range(6)]
    series += [(d + 14, 2000 + d) for d in range(6)]
    _write(spark, tmp_path, "events", _daily_events(series), _EV_SCHEMA)
    r = REGISTRY["stats_wilcoxon_signed_rank"].fn(spark, str(tmp_path)).collect()[0]
    n = r["n_pairs"]
    assert r["w_plus"] + r["w_minus"] == n * (n + 1) / 2
    assert r["w_minus"] == 0.0
    assert r["z_score"] > 0


def test_wilcoxon_zero_diffs_dropped(spark, tmp_path):
    """Identical paired days contribute nothing: only the changed
    pair survives."""
    series = [(0, 1000), (1, 1000), (14, 1000), (15, 1500)]
    _write(spark, tmp_path, "events", _daily_events(series), _EV_SCHEMA)
    r = REGISTRY["stats_wilcoxon_signed_rank"].fn(spark, str(tmp_path)).collect()[0]
    assert r["n_pairs"] == 1
    assert r["w_plus"] == 1.0 and r["w_minus"] == 0.0


def test_wilcoxon_fixture_identity(spark):
    """W⁺ + W⁻ = n(n+1)/2 on the fixture too."""
    r = REGISTRY["stats_wilcoxon_signed_rank"].fn(spark, SF_DIR).collect()[0]
    n = r["n_pairs"]
    assert n >= 2
    assert abs(r["w_plus"] + r["w_minus"] - n * (n + 1) / 2) < 1e-6


# ---------------------------------------------------------------------------
# sim_more_like_this
# ---------------------------------------------------------------------------


def test_mlt_near_duplicate_ranks_first(spark, tmp_path):
    """Doc 1's near-duplicate (doc 2) outranks a partially-overlapping
    doc (doc 3); an unrelated doc (doc 4) never appears for probe 1."""
    rows = [
        (1, "quantum flux capacitor resonance chamber", "en", "web", 0),
        (2, "quantum flux capacitor resonance chamber today", "en", "web", 0),
        (3, "quantum flux something else entirely", "en", "web", 0),
        (4, "completely unrelated words here", "en", "web", 0),
    ]
    _write(spark, tmp_path, "documents", rows, _DOC_SCHEMA)
    got = {
        (r["probe_id"], r["neighbor_id"]): r
        for r in REGISTRY["sim_more_like_this"].fn(spark, str(tmp_path)).collect()
    }
    assert got[(1, 2)]["rn"] == 1
    assert got[(1, 3)]["rn"] == 2
    assert got[(1, 2)]["sim"] > got[(1, 3)]["sim"]
    assert (1, 4) not in got


def test_mlt_similarity_is_symmetric_between_probes(spark, tmp_path):
    """Cosine is symmetric: when two probes retrieve each other the
    reported sims match."""
    rows = [
        (1, "alpha beta gamma delta", "en", "web", 0),
        (2, "alpha beta gamma epsilon", "en", "web", 0),
        (3, "zeta eta theta iota", "en", "web", 0),
    ]
    _write(spark, tmp_path, "documents", rows, _DOC_SCHEMA)
    got = {
        (r["probe_id"], r["neighbor_id"]): r["sim"]
        for r in REGISTRY["sim_more_like_this"].fn(spark, str(tmp_path)).collect()
    }
    assert got[(1, 2)] == got[(2, 1)]


def test_mlt_fixture_bounds(spark):
    """Five probes, ≤5 neighbors each, sims in (0, 1], non-increasing
    per probe, self never retrieved."""
    rows = REGISTRY["sim_more_like_this"].fn(spark, SF_DIR).collect()
    by_probe = {}
    for r in rows:
        assert r["probe_id"] != r["neighbor_id"]
        # 12-dp product rounding can nudge a near-identical pair's
        # cosine a hair over 1
        assert 0.0 < r["sim"] <= 1.0 + 1e-6
        by_probe.setdefault(r["probe_id"], []).append((r["rn"], r["sim"]))
    assert len(by_probe) == 5
    for sims in by_probe.values():
        ordered = [s for _, s in sorted(sims)]
        assert ordered == sorted(ordered, reverse=True)
