"""Property-based tests (hypothesis): the pure-Python codec kernels are
total on their encode domains, and the determinism layer's core claim —
decimal-accumulated float sums are exact and partitioning-invariant —
holds for arbitrary money-like inputs, not just the fixture values.
"""

from __future__ import annotations

from decimal import Decimal

from hypothesis import given, settings, strategies as st

from python_etl_sample_spark.operators.multimodal import (
    decode_image,
    decode_wav,
    encode_bmp,
    encode_ppm,
    encode_ppm_stream,
    encode_wav,
    iter_ppm_frames,
)

dims = st.tuples(st.integers(1, 24), st.integers(1, 24))


@given(dims, st.binary(min_size=0, max_size=64))
def test_bmp_roundtrip(wh, seed):
    w, h = wh
    pixels = (seed or b"\x00") * (w * h * 3 // max(1, len(seed or b"\x00")) + 1)
    payload = encode_bmp(w, h, pixels)
    assert decode_image(payload) == (w, h, 3)


@given(dims, st.binary(min_size=0, max_size=64))
def test_ppm_roundtrip(wh, seed):
    w, h = wh
    pixels = (seed or b"\x00") * (w * h * 3 // max(1, len(seed or b"\x00")) + 1)
    payload = encode_ppm(w, h, pixels)
    assert decode_image(payload) == (w, h, 3)


@given(st.lists(st.tuples(dims, st.binary(min_size=1, max_size=16)), min_size=1, max_size=6))
def test_ppm_stream_recovers_every_frame(frames_spec):
    frames, want = [], []
    for (w, h), seed in frames_spec:
        px = (seed * (w * h * 3 // len(seed) + 1))[: w * h * 3]
        frames.append(encode_ppm(w, h, px))
        want.append((w, h, px))
    got = list(iter_ppm_frames(encode_ppm_stream(frames)))
    assert got == want


@given(
    st.integers(8000, 48000),
    st.binary(min_size=2, max_size=256).filter(lambda b: len(b) % 2 == 0),
)
def test_wav_roundtrip(rate, pcm):
    rate_out, channels, bits, pcm_out = decode_wav(encode_wav(rate, pcm))
    assert (rate_out, channels, bits) == (rate, 1, 16)
    assert pcm_out == pcm


# money-like values: 2 decimal places, magnitudes like the fixtures'
money = st.integers(-10_000_000, 10_000_000).map(lambda c: c / 100.0)


@settings(max_examples=8, deadline=None)
@given(st.lists(money, min_size=1, max_size=200))
def test_dsum_is_exact_and_partitioning_invariant(spark, values):
    from python_etl_sample_spark.functions.determinism import dsum

    df = spark.createDataFrame([(v,) for v in values], "v double")
    one = df.repartition(1).agg(dsum("v").alias("s")).collect()[0]["s"]
    many = df.repartition(7).agg(dsum("v").alias("s")).collect()[0]["s"]
    exact = float(sum(Decimal(f"{v:.2f}") for v in values))
    assert one == many == exact


def test_cc_kernels_agree_on_random_graphs(spark):
    """The connected-components kernel in functions/components.py
    (pointer-jumped hash-min) must label random graphs identically to a
    pure-Python union-find. Graph shapes chosen to cover the adversarial cases: chains (worst
    diameter), stars (the near-dup shape), and sparse random."""
    import random

    from python_etl_sample_spark.functions.components import pointer_jump_components

    rng = random.Random(421)
    cases = []
    # chain of 33, a 12-star, and three sparse G(n, m) graphs
    cases.append([(i, i + 1) for i in range(33)])
    cases.append([(50, 50 + i) for i in range(1, 13)])
    # SCRAMBLED-id chain of 40 — the adversarial layout that defeats
    # the old ⌈log₂ n⌉+1 round budget (needs 15 rounds, budget gave 7;
    # round-8 regression for the convergence-poll terminator, the bug
    # that mislabeled 1003/1381 sf0.1 hotspot grid cells)
    perm = list(range(40))
    rng.shuffle(perm)
    cases.append([(perm[i], perm[i + 1]) for i in range(39)])
    for n, m in ((40, 25), (60, 70), (25, 5)):
        cases.append(
            [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        )
    for edges_py in cases:
        edges_py = [e for e in edges_py if e[0] != e[1]]
        if not edges_py:
            continue
        # union-find ground truth
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges_py:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {x: find(x) for x in parent}

        edges = spark.createDataFrame(edges_py, "src int, dst int")
        n_nodes = len(want)
        got_pj = {
            r["node"]: r["lab"]
            for r in pointer_jump_components(edges, n_bound=n_nodes).collect()
        }
        assert got_pj == want, "pointer-jump kernel diverged from union-find"


# ---- round-5 kernels -------------------------------------------------


def _z_py(c: int, d: int) -> int:
    c, d, z = c % 256, d % 256, 0
    for i in range(8):
        z |= ((c >> i) & 1) << (2 * i + 1)
        z |= ((d >> i) & 1) << (2 * i)
    return z


@given(st.integers(0, 10**9), st.integers(0, 366))
def test_zorder_interleave_bijective_on_tile(c, d):
    """The Morton interleave is a bijection of the 256x256 tile: the
    low bytes are exactly recoverable from the Z-value."""
    z = _z_py(c, d)
    assert 0 <= z < 65536
    c_back = sum(((z >> (2 * i + 1)) & 1) << i for i in range(8))
    d_back = sum(((z >> (2 * i)) & 1) << i for i in range(8))
    assert (c_back, d_back) == (c % 256, d % 256)


@given(st.integers(0, 255), st.integers(0, 255), st.integers(0, 63))
def test_zorder_bucket_bbox_bound(c, d, bucket):
    """Any two points in the same 1024-code Z-bucket differ by < 32 in
    each dimension-byte — the bbox-area<=1024 guarantee the plan test
    relies on, proven pointwise."""
    z = _z_py(c, d)
    if z // 1024 == bucket:
        # bucket b covers codes [1024b, 1024(b+1)): bits 10+ fix the
        # high 3 bits of each dimension => low 5 bits free => span < 32
        base_c = sum(((bucket * 1024 >> (2 * i + 1)) & 1) << i for i in range(8))
        base_d = sum(((bucket * 1024 >> (2 * i)) & 1) << i for i in range(8))
        assert abs((c % 256) - base_c) < 32
        assert abs((d % 256) - base_d) < 32


@given(
    st.lists(
        st.tuples(st.integers(0, 10**6), st.floats(0.01, 1e6)),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    )
)
def test_weighted_sample_es_monotone_in_weight(rows):
    """Efraimidis-Spirakis with the repo's hash-u: raising a row's
    weight can only improve (or keep) its rank, never hurt it — the
    defining property of weight-proportional sampling."""
    import math

    def key(k, w):
        u = ((k % 100000) * 2654435761 % 1000003 + 1) / 1000004.0
        return math.log(u) / w

    ranked = sorted(rows, key=lambda t: (-key(*t), t[0]))
    for k, w in rows:
        boosted = [(kk, ww * 2 if kk == k else ww) for kk, ww in rows]
        ranked2 = sorted(boosted, key=lambda t: (-key(*t), t[0]))
        assert [r[0] for r in ranked2].index(k) <= [r[0] for r in ranked].index(k)


@given(
    st.lists(st.integers(0, 10**5), min_size=1, max_size=300),
    st.integers(2, 32),
)
def test_salted_distinct_partition_exactness(users, n_salt):
    """Per-salt distinct counts sum to the exact global distinct for
    ANY salt that is a pure function of the distinct column."""
    from collections import defaultdict

    buckets = defaultdict(set)
    for u in users:
        buckets[u % n_salt].add(u)
    assert sum(len(s) for s in buckets.values()) == len(set(users))


# --- round-5 late-addition kernels -----------------------------------------

_PR_SCALE = 1_000_000_000_000_000


def _pagerank_int(adj: dict[int, list[int]], rounds: int = 5) -> dict[int, int]:
    """Pure-Python replica of graph_pagerank's scaled-integer recurrence."""
    n = len(adj)
    rank = {x: _PR_SCALE // n for x in adj}
    base = 15 * _PR_SCALE // (100 * n)
    for _ in range(rounds):
        contrib = {x: 0 for x in adj}
        for x, neigh in adj.items():
            share = rank[x] // len(neigh)
            for y in neigh:
                contrib[y] += share
        rank = {x: base + (85 * contrib[x]) // 100 for x in adj}
    return rank


@st.composite
def _graphs(draw):
    n = draw(st.integers(2, 12))
    pairs = draw(
        st.sets(
            st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)).filter(
                lambda p: p[0] < p[1]
            ),
            min_size=1,
            max_size=20,
        )
    )
    adj: dict[int, list[int]] = {}
    for u, v in sorted(pairs):
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    return adj


@given(_graphs())
@settings(max_examples=60, deadline=None)
def test_integer_pagerank_conserves_bounded_mass(adj):
    """The scaled-integer recurrence keeps total mass within [SCALE -
    truncation-loss, SCALE]: each node loses < deg ulps to the per-edge
    integer division and < 1 ulp to the damping division per round, so
    mass never grows and never leaks more than (edges·2 + n) per round
    times the damping factor — the bound that certifies truncation is
    a rounding detail, not a semantic drift. Ranks also stay positive
    and permutation-equivariant."""
    rank = _pagerank_int(adj)
    total = sum(rank.values())
    assert total <= _PR_SCALE
    loss_per_round = sum(len(v) for v in adj.values()) + len(adj) + 100
    assert total >= _PR_SCALE - 5 * loss_per_round - 100 * len(adj)
    assert all(r > 0 for r in rank.values())
    # permutation equivariance: relabel every node; ranks must follow
    perm = {x: i for i, x in enumerate(sorted(adj, reverse=True))}
    padj = {
        perm[x]: [perm[y] for y in neigh] for x, neigh in adj.items()
    }
    prank = _pagerank_int(padj)
    assert all(prank[perm[x]] == rank[x] for x in adj)


def _triangles_oriented(adj: dict[int, list[int]]) -> int:
    """Pure-Python replica of the degree-oriented wedge-close count."""
    deg = {x: len(v) for x, v in adj.items()}
    order = lambda x: (deg[x], x)  # noqa: E731
    out = {x: [y for y in neigh if order(x) < order(y)] for x, neigh in adj.items()}
    edges = {
        (min(x, y), max(x, y)) for x, neigh in adj.items() for y in neigh
    }
    tris = 0
    for s, outs in out.items():
        souts = sorted(outs)
        for i in range(len(souts)):
            for j in range(i + 1, len(souts)):
                b, c = min(souts[i], souts[j]), max(souts[i], souts[j])
                if (b, c) in edges:
                    tris += 1
    return tris


@given(_graphs())
@settings(max_examples=60, deadline=None)
def test_degree_oriented_triangle_count_equals_bruteforce(adj):
    """Orientation + wedge-close counts every triangle exactly once on
    arbitrary graphs — the combinatorial core of graph_triangle_count,
    independent of any engine."""
    from itertools import combinations

    nodes = sorted(adj)
    nb = {x: set(v) for x, v in adj.items()}
    brute = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if b in nb[a] and c in nb[a] and c in nb[b]
    )
    assert _triangles_oriented(adj) == brute


@given(
    st.lists(st.tuples(st.integers(0, 99), st.integers(0, 99)), min_size=1, max_size=30),
    st.lists(st.tuples(st.integers(0, 99), st.integers(0, 99)), min_size=1, max_size=30),
    st.integers(5, 40),
)
@settings(max_examples=60, deadline=None)
def test_grid_bucketing_finds_all_in_radius_pairs(big, small, r):
    """The 3×3 cell-neighborhood candidate set is COMPLETE for any
    point sets and any radius = cell size (spatial_grid_join's
    correctness-by-construction claim): every pair within r has the
    small point in one of the 9 cells neighboring the big point's
    cell."""
    r2 = r * r
    exact = {
        (i, j)
        for i, (x, y) in enumerate(big)
        for j, (sx, sy) in enumerate(small)
        if (x - sx) ** 2 + (y - sy) ** 2 <= r2
    }
    via_grid = set()
    cells = {}
    for j, (sx, sy) in enumerate(small):
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                cells.setdefault((sx // r + dx, sy // r + dy), []).append(j)
    for i, (x, y) in enumerate(big):
        for j in cells.get((x // r, y // r), []):
            sx, sy = small[j]
            if (x - sx) ** 2 + (y - sy) ** 2 <= r2:
                via_grid.add((i, j))
    assert via_grid == exact


@given(
    st.sets(
        st.tuples(st.integers(0, 20), st.integers(0, 40)),  # (user, day)
        min_size=1,
        max_size=120,
    ),
    st.integers(2, 9),
)
@settings(max_examples=80, deadline=None)
def test_contribution_expansion_equals_direct_window(user_days, k):
    """The explode-to-contribution-days rewrite (win_rolling_distinct_
    users / events_dau_wau_mau) equals the direct trailing-k-day
    distinct count for ARBITRARY activity sets and window lengths —
    the algebraic identity the scale rewrite rests on."""
    days = [d for _, d in user_days]
    d0, d1 = min(days), max(days)
    # direct: per day, distinct users active in [d-k+1, d]
    direct = {
        d: len({u for (u, ud) in user_days if d - k + 1 <= ud <= d})
        for d in range(d0, d1 + 1)
    }
    # expansion: each (u, day) contributes to day..day+k-1
    contrib: dict[int, set] = {}
    for u, ud in user_days:
        for t in range(ud, min(ud + k, d1 + 1)):
            contrib.setdefault(t, set()).add(u)
    expanded = {
        d: len(contrib.get(d, set())) for d in range(d0, d1 + 1)
    }
    assert {d: c for d, c in direct.items() if c} == {
        d: c for d, c in expanded.items() if c
    }


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.booleans()),  # (duration, churned)
        min_size=1,
        max_size=80,
    )
)
@settings(max_examples=80, deadline=None)
def test_km_estimator_invariants(lifetimes):
    """The KM recurrence (customer_survival_km's math) on arbitrary
    censored samples: survival starts ≤1, never increases, stays in
    [0,1], and equals the empirical survivor function when NOTHING is
    censored."""
    from collections import Counter

    leavers = Counter(d for d, _ in lifetimes)
    churns = Counter(d for d, ch in lifetimes if ch)
    n = len(lifetimes)
    at_risk, surv, curve = n, 1.0, []
    for t in sorted(leavers):
        d = churns.get(t, 0)
        if d:
            surv *= 1.0 - d / at_risk
        curve.append((t, surv))
        at_risk -= leavers[t]
    vals = [s for _, s in curve]
    assert all(0.0 <= s <= 1.0 + 1e-12 for s in vals)
    assert all(a >= b - 1e-12 for a, b in zip(vals, vals[1:]))
    if all(ch for _, ch in lifetimes):
        # uncensored: S(t) = fraction with duration > t
        for t, s in curve:
            frac = sum(1 for d, _ in lifetimes if d > t) / n
            assert abs(s - frac) < 1e-9


def test_thumbnail_bmp_crc32_pinned():
    """Byte-exact pin of the thumbnail container (moved here from the
    multimodal_image_thumbnail query output when that query gained a
    computed DuckDB oracle — crc32 is not SQL-expressible): the exact
    crc32 of the re-encoded BMP for three fixed (doc_id, text) inputs,
    synthesized exactly as the query synthesizes payloads. Any change to
    pixel selection, row order, or padding bytes shifts these values."""
    import zlib

    from python_etl_sample_spark.operators.multimodal import (
        encode_bmp,
        thumbnail_bmp,
    )

    pins = {0: 1341300215, 7: 460472500, 42: 1104914617}
    texts = {0: "alpha beta", 7: "the quick brown fox", 42: ""}
    for doc_id, want in pins.items():
        text = texts[doc_id]
        width = 6 + doc_id % 11
        height = 4 + len(text) % 7
        need = width * height * 3 + 64
        raw = text.encode("utf-8") or b"\x00"
        pix = raw * (need // len(raw) + 1)
        thumb = thumbnail_bmp(encode_bmp(width, height, pix))
        assert zlib.crc32(thumb) & 0xFFFFFFFF == want, doc_id


@given(st.integers(2, 24), st.integers(2, 24), st.binary(min_size=1, max_size=48))
def test_thumbnail_bmp_selects_every_other_pixel(w, h, seed):
    """thumbnail_bmp must equal the independent Python reference:
    every other pixel of every other row, re-encoded — checked on the
    raw pixel bytes, not just the geometry."""
    from python_etl_sample_spark.operators.multimodal import (
        decode_bmp_pixels,
        encode_bmp,
        thumbnail_bmp,
    )

    pixels = seed * (w * h * 3 // len(seed) + 1)
    payload = encode_bmp(w, h, pixels)
    tw, th = max(1, w // 2), max(1, h // 2)
    gw, gh, got = decode_bmp_pixels(thumbnail_bmp(payload))
    assert (gw, gh) == (tw, th)
    row = w * 3
    want = b"".join(
        pixels[r * 2 * row + c * 6 : r * 2 * row + c * 6 + 3]
        for r in range(th)
        for c in range(tw)
    )
    assert got == want


def test_cc_kernels_on_10k_chain(spark):
    """VERDICT r5 item 6: the adversarial worst case for hash-min CC is
    a LONG CHAIN — naive propagation needs diameter rounds (10,000),
    which would hang any fixed budget. The kernel must label a
    10k-node chain with the single component minimum inside its
    ⌈log₂ n⌉+1 round budget (pointer jumping shortcuts 2^k hops per
    round), which is the O(log n) guarantee the 100 TB posture rests
    on."""
    from python_etl_sample_spark.functions.components import pointer_jump_components

    n = 10_000
    edges = spark.range(n).selectExpr("id AS src", "id + 1 AS dst")
    labels = pointer_jump_components(edges, n_bound=n + 1)
    distinct_labs = labels.select("lab").distinct().collect()
    assert [r["lab"] for r in distinct_labs] == [0]
    assert labels.count() == n + 1


# ---- round-12 kernels ------------------------------------------------


def test_lpa_mode_superstep_equals_pure_python_plurality(spark):
    """The single-shuffle LPA superstep (graph_analytics.py) rests
    entirely on Spark's mode(label, deterministic=true) implementing
    the plurality rule (count DESC, label ASC). Replay 3 synchronous
    rounds on random graphs against a pure-Python reference — small
    graphs are tie-dense (most neighbor counts are 1), so the
    lowest-label tie-break is exercised on nearly every node; a Spark
    behavior change in mode's tie semantics would shift labels in BOTH
    engines at once, which the cross-engine hash could never catch."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(1207)
    cases = [
        [(i, i + 1) for i in range(20)],  # chain
        [(0, i) for i in range(1, 12)],  # star
    ]
    for n, m in ((30, 45), (18, 12), (40, 100)):
        cases.append(
            sorted(
                {
                    (a, b)
                    for a, b in (
                        (rng.randrange(n), rng.randrange(n)) for _ in range(m)
                    )
                    if a != b
                }
            )
        )
    for und in cases:
        if not und:
            continue
        sym = und + [(b, a) for a, b in und]
        nodes = sorted({x for e in sym for x in e})
        # pure-Python synchronous plurality LPA, 3 rounds
        lab = {x: x for x in nodes}
        adj: dict[int, list[int]] = {x: [] for x in nodes}
        for s, d in sym:
            adj[s].append(d)
        for _ in range(3):
            nxt = {}
            for x in nodes:
                cnt: dict[int, int] = {}
                for nb in adj[x]:
                    cnt[lab[nb]] = cnt.get(lab[nb], 0) + 1
                nxt[x] = min(cnt, key=lambda l: (-cnt[l], l))
            lab = nxt
        sym_df = spark.createDataFrame(sym, "src int, dst int")
        labels = spark.createDataFrame(
            [(x, x) for x in nodes], "node int, label int"
        )
        for _ in range(3):
            labels = (
                sym_df.join(labels, sym_df.dst == labels.node)
                .groupBy(F.col("src").alias("node"))
                .agg(F.expr("mode(label, true)").alias("label"))
            )
        got = {r["node"]: r["label"] for r in labels.collect()}
        assert got == lab, "mode superstep diverged from plurality reference"


def test_bucketed_pair_expansion_equals_self_join_pairs(spark):
    """The local pair expansion behind dedup_minhash_param_sweep's
    bucket pre-aggregation (round 12) — sort_array + the
    flatten/transform/slice HOF — must emit exactly the a<b pair set
    the former self-join produced, for arbitrary bucket occupancies
    (the slice index arithmetic is the off-by-one hazard)."""
    import itertools
    import random

    from pyspark.sql import functions as F

    rng = random.Random(1212)
    rows = [
        (rng.randrange(12), doc_id)
        for doc_id in range(60)
        for _ in range(rng.choice((0, 1, 1, 2)))
    ]
    want = set()
    by_bucket: dict[int, set[int]] = {}
    for bk, doc in rows:
        by_bucket.setdefault(bk, set()).add(doc)
    for docs in by_bucket.values():
        want |= set(itertools.combinations(sorted(docs), 2))
    df = spark.createDataFrame(rows, "bk int, doc_id int").distinct()
    got = {
        (r["doc_a"], r["doc_b"])
        for r in (
            df.groupBy("bk")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
            .filter(F.size("ds") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "flatten(transform(ds, (a, i) -> "
                        "transform(slice(ds, i + 2, size(ds) - i - 1), "
                        "b -> struct(a AS doc_a, b AS doc_b))))"
                    )
                ).alias("p")
            )
            .select("p.doc_a", "p.doc_b")
            .distinct()
            .collect()
        )
    }
    assert got == want, "HOF pair expansion diverged from combinations"
