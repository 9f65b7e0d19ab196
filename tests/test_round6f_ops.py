"""Round-6 batch-6 invariants (operators/round6f_ops.py): Spearman vs a
pure-Python average-rank reference (with ties), ANOVA F against the
textbook formula on a 3-group fixture, mutual information's
independence/determinism extremes, assortativity = −1 on a star graph,
seasonal decomposition's exact recovery of an additive weekly pattern
under a linear trend, and grid-kNN vs a brute-force scan."""

from __future__ import annotations

import datetime as dt
import math

from python_etl_sample_spark.registry import REGISTRY, load_all_operators

load_all_operators()

_D = dt.datetime

_ORD_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string,"
    " o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
)
_CUST_SCHEMA = (
    "c_custkey long, c_name string, c_nationkey long, c_acctbal double,"
    " c_mktsegment string"
)
_LI_SCHEMA = (
    "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long,"
    " l_quantity double, l_extendedprice double, l_discount double,"
    " l_tax double, l_returnflag string, l_linestatus string,"
    " l_shipdate timestamp_ntz"
)
_SUP_SCHEMA = "s_suppkey long, s_name string, s_nationkey long, s_acctbal double"


def _write(spark, tmpdir, name, rows, schema):
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        f"{tmpdir}/{name}.parquet"
    )


def _avg_ranks(vals):
    """Textbook average ranks (ties share the mean of their positions)."""
    order = sorted(range(len(vals)), key=lambda i: vals[i])
    ranks = [0.0] * len(vals)
    i = 0
    while i < len(order):
        j = i
        while j < len(order) and vals[order[j]] == vals[order[i]]:
            j += 1
        r = (i + 1 + j) / 2.0  # mean of positions i+1 .. j
        for k in range(i, j):
            ranks[order[k]] = r
        i = j
    return ranks


def _pearson(xs, ys):
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    num = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    den = math.sqrt(
        sum((x - mx) ** 2 for x in xs) * sum((y - my) ** 2 for y in ys)
    )
    return num / den


def test_spearman_matches_python_reference_with_ties(spark, tmp_path):
    """One segment, six customers, a deliberate TIE in acctbal and a
    deliberate tie in spend — the doubled-rank formula must reproduce
    Pearson over textbook average ranks exactly."""
    bal = [10.0, 20.0, 20.0, 30.0, 40.0, 50.0]
    spend = [100.0, 300.0, 200.0, 300.0, 500.0, 400.0]
    custs = [
        (i + 1, f"Customer#{i + 1}", 1, bal[i], "BUILDING") for i in range(6)
    ]
    orders = [
        (i + 1, i + 1, "O", spend[i], _D(1996, 1, 1 + i), "1-URGENT")
        for i in range(6)
    ]
    _write(spark, tmp_path, "customer", custs, _CUST_SCHEMA)
    _write(spark, tmp_path, "orders", orders, _ORD_SCHEMA)
    rows = REGISTRY["stats_spearman_corr"].fn(spark, str(tmp_path)).collect()
    assert len(rows) == 1 and rows[0]["n_cust"] == 6
    want = round(_pearson(_avg_ranks(bal), _avg_ranks(spend)), 6)
    assert rows[0]["spearman_rho"] == want


def test_spearman_is_sign_correct_and_rank_invariant(spark, tmp_path):
    """A perfectly monotone-decreasing relation gives ρ = −1 even when
    the relation is wildly nonlinear (rank invariance)."""
    custs = [(i + 1, f"C#{i}", 1, float(i), "MACHINERY") for i in range(8)]
    # spend = 2^(-i): decreasing in i, very non-linear
    orders = [
        (i + 1, i + 1, "O", 2.0 ** (8 - i), _D(1996, 2, 1 + i), "2-HIGH")
        for i in range(8)
    ]
    _write(spark, tmp_path, "customer", custs, _CUST_SCHEMA)
    _write(spark, tmp_path, "orders", orders, _ORD_SCHEMA)
    rows = REGISTRY["stats_spearman_corr"].fn(spark, str(tmp_path)).collect()
    assert rows[0]["spearman_rho"] == -1.0


def test_anova_f_matches_textbook_formula(spark, tmp_path):
    """Three priority groups with hand-picked values; F and η² must
    equal the textbook decomposition computed in pure Python."""
    groups = {
        "1-URGENT": [10.0, 12.0, 14.0],
        "2-HIGH": [20.0, 22.0, 24.0, 26.0],
        "3-MEDIUM": [30.0, 31.0],
    }
    custs = [(1, "C#1", 1, 0.0, "BUILDING")]
    orders, ok = [], 0
    for pri, vals in groups.items():
        for v in vals:
            orders.append((ok, 1, "O", v, _D(1996, 3, 1), pri))
            ok += 1
    _write(spark, tmp_path, "customer", custs, _CUST_SCHEMA)
    _write(spark, tmp_path, "orders", orders, _ORD_SCHEMA)
    allv = [v for vs in groups.values() for v in vs]
    n, k = len(allv), len(groups)
    m = sum(allv) / n
    ssb = sum(len(vs) * (sum(vs) / len(vs) - m) ** 2 for vs in groups.values())
    ssw = sum(
        (v - sum(vs) / len(vs)) ** 2 for vs in groups.values() for v in vs
    )
    f = (ssb / (k - 1)) / (ssw / (n - k))
    row = REGISTRY["stats_anova_f"].fn(spark, str(tmp_path)).collect()[0]
    assert row["k_groups"] == k and row["n_total"] == n
    assert abs(row["f_stat"] - f) < 1e-4
    assert abs(row["eta_sq"] - ssb / (ssb + ssw)) < 1e-6


def test_mutual_information_extremes(spark, tmp_path):
    """Independent seg×priority (uniform product table) → MI = 0;
    a deterministic seg→priority mapping → MI = H(seg) = H(pri) and
    NMI = 1."""
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"]
    pris = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECI"]
    custs = [(i + 1, f"C#{i}", 1, 0.0, segs[i % 4]) for i in range(4)]
    _write(spark, tmp_path, "customer", custs, _CUST_SCHEMA)

    # independence: every (seg, pri) cell appears exactly 3 times
    orders, ok = [], 0
    for ci in range(4):
        for pi in range(4):
            for _ in range(3):
                orders.append((ok, ci + 1, "O", 1.0, _D(1996, 1, 1), pris[pi]))
                ok += 1
    _write(spark, tmp_path, "orders", orders, _ORD_SCHEMA)
    row = REGISTRY["stats_mutual_information"].fn(spark, str(tmp_path)).collect()[0]
    assert row["n_orders"] == 48
    assert row["mi_nats"] == 0.0
    assert abs(row["h_seg"] - math.log(4)) < 1e-6

    # determinism: segment i always orders priority i
    orders = []
    for ci in range(4):
        for j in range(2 + ci):  # unequal masses — entropy < ln 4
            orders.append((ci * 10 + j, ci + 1, "O", 1.0, _D(1996, 1, 1), pris[ci]))
    _write(spark, tmp_path, "orders", orders, _ORD_SCHEMA)
    row = REGISTRY["stats_mutual_information"].fn(spark, str(tmp_path)).collect()[0]
    assert row["mi_nats"] == row["h_seg"] == row["h_pri"]
    assert row["nmi"] == 1.0


def test_assortativity_is_minus_one_on_star(spark, tmp_path):
    """A star K_{1,3} (hub part 0 co-purchased with leaves 1..3, one
    order per edge) has endpoint-degree pairs (3,1)/(1,3) only —
    Newman's r is exactly −1."""
    pairs = []
    for i, leaf in enumerate((1, 2, 3)):
        pairs += [(100 + i, 0), (100 + i, leaf)]
    rows = [
        (ok, pk, 1, i, 1.0, 10.0, 0.0, 0.0, "N", "O", _D(1995, 6, 1))
        for i, (ok, pk) in enumerate(pairs)
    ]
    _write(spark, tmp_path, "lineitem", rows, _LI_SCHEMA)
    row = (
        REGISTRY["graph_degree_assortativity"].fn(spark, str(tmp_path)).collect()[0]
    )
    assert row["n_directed_edges"] == 6
    assert row["assortativity"] == -1.0
    assert row["mean_endpoint_deg"] == 2.0  # (3+1)/2 per edge slot


def test_assortativity_null_on_regular_graph(spark, tmp_path):
    """A triangle is 2-regular: both endpoint-degree variables are
    constant, so r is NULL (guard, not NaN)."""
    pairs = [(100, 1), (100, 2), (100, 3)]  # one order, K3
    rows = [
        (ok, pk, 1, i, 1.0, 10.0, 0.0, 0.0, "N", "O", _D(1995, 6, 1))
        for i, (ok, pk) in enumerate(pairs)
    ]
    _write(spark, tmp_path, "lineitem", rows, _LI_SCHEMA)
    row = (
        REGISTRY["graph_degree_assortativity"].fn(spark, str(tmp_path)).collect()[0]
    )
    assert row["assortativity"] is None


def test_seasonal_decompose_recovers_additive_pattern(spark, tmp_path):
    """Revenue = 1000 + 5·t + s(t mod 7) with a zero-mean weekly
    pattern s: the centered 7-day MA cancels the linear trend EXACTLY
    (each full window covers each weekday once), so every seasonal
    index equals its s value."""
    s = [300.0, -100.0, 50.0, -250.0, 120.0, -80.0, -40.0]  # sums to 0
    assert abs(sum(s)) < 1e-9
    custs = [(1, "C#1", 1, 0.0, "BUILDING")]
    base = _D(1970, 1, 1)  # day 0 epoch → day % 7 == t % 7
    orders = []
    for t in range(35):
        day = base + dt.timedelta(days=t)
        orders.append((t, 1, "O", 1000.0 + 5.0 * t + s[t % 7], day, "1-URGENT"))
    _write(spark, tmp_path, "customer", custs, _CUST_SCHEMA)
    _write(spark, tmp_path, "orders", orders, _ORD_SCHEMA)
    rows = REGISTRY["ts_seasonal_decompose"].fn(spark, str(tmp_path)).collect()
    got = {r["dow"]: r["seasonal_idx"] for r in rows}
    assert len(got) == 7
    for dow in range(7):
        assert abs(got[dow] - s[dow]) < 1e-6, (dow, got[dow], s[dow])
    # full windows only: 35 days − 3 on each edge = 29 rows, so some
    # dows have 5 and some 4 contributing days
    assert sum(r["n_days"] for r in rows) == 29


def test_knn_grid_matches_brute_force(spark, tmp_path):
    """Grid kNN must equal a brute-force all-pairs scan (same hash
    coordinates, same radius, same tie-break) on a 40×12 fixture."""
    from python_etl_sample_spark.operators.spatial import _KNN_K
    from python_etl_sample_spark.operators.spatial import _R2

    custs = [(k, f"C#{k}", 1, 0.0, "BUILDING") for k in range(1, 41)]
    sups = [(k, f"S#{k}", 1, 0.0) for k in range(1, 13)]
    _write(spark, tmp_path, "customer", custs, _CUST_SCHEMA)
    _write(spark, tmp_path, "supplier", sups, _SUP_SCHEMA)

    def coords(k):
        return ((k % 100000) * 2654435761) % 10000, (
            (k % 100000) * 2246822519
        ) % 10000

    want = set()
    for ck, *_ in custs:
        cx, cy = coords(ck)
        cand = []
        for sk, *_ in sups:
            sx, sy = coords(sk)
            d2 = (cx - sx) ** 2 + (cy - sy) ** 2
            if d2 <= _R2:
                cand.append((d2, sk))
        for rn, (d2, sk) in enumerate(sorted(cand)[:_KNN_K], start=1):
            want.add((ck, rn, sk, d2))
    got = {
        (r["c_custkey"], r["rn"], r["s_suppkey"], r["d2"])
        for r in REGISTRY["spatial_knn_grid"].fn(spark, str(tmp_path)).collect()
    }
    assert got == want
