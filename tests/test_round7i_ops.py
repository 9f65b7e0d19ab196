"""Round-7 batch-9 invariants (operators/round7i_ops.py): silhouette
against a pure-Python recomputation of the shipped fit, the
periodogram against an exact reference and a constructed period-7
signal, LOO encoding against hand arithmetic and its defining mean
identity, and top-paths on hand-built journeys."""

from __future__ import annotations

import datetime as dt
import math

from python_etl_sample_spark.registry import REGISTRY, load_all_operators

load_all_operators()

SF_DIR = "/root/testdata/sf0.001"

_D = dt.datetime

_EV_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string,"
    " value double, props string"
)
_ORD_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string,"
    " o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
)
_CUST_SCHEMA = (
    "c_custkey long, c_name string, c_nationkey long, c_acctbal double,"
    " c_mktsegment string"
)


def _write(spark, tmpdir, name, rows, schema):
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        f"{tmpdir}/{name}.parquet"
    )


# ---------------------------------------------------------------------------
# cluster_silhouette
# ---------------------------------------------------------------------------


def test_silhouette_describes_the_shipped_clustering(spark):
    """Cluster ids and sizes must match cluster_kmeans_lloyd exactly —
    the report is about THAT clustering, not a refit."""
    km = {
        r["cid"]: r["n_vecs"]
        for r in REGISTRY["cluster_kmeans_lloyd"].fn(spark, SF_DIR).collect()
    }
    sil = {
        r["cid"]: r["n_vecs"]
        for r in REGISTRY["cluster_silhouette"].fn(spark, SF_DIR).collect()
    }
    assert sil == km


def test_silhouette_matches_pure_python_recompute(spark):
    """Recompute every vector's simplified silhouette in pure Python
    from the same fit (_km_fit) and compare the per-cluster report."""
    from python_etl_sample_spark.operators.similarity import _km_fit

    final, cents = _km_fit(spark, SF_DIR)
    rows = final.select("vec_id", "emb").collect()
    per_cluster: dict[int, list[float]] = {}
    for r in rows:
        ds = []
        for cid, cemb in cents:
            acc = 0.0
            for x, y in zip(r["emb"], cemb):
                acc += (x - y) * (x - y)
            ds.append((round(acc, 9), cid))
        ds.sort()
        da, db = round(math.sqrt(ds[0][0]), 9), round(math.sqrt(ds[1][0]), 9)
        s = round(1 - da / db, 9) if db > 0 else 0.0
        per_cluster.setdefault(ds[0][1], []).append(s)
    want = {
        cid: (
            len(v),
            round(sum(sorted(v)) / len(v), 6),
            round(min(v), 6),
        )
        for cid, v in per_cluster.items()
    }
    got = {
        r["cid"]: (r["n_vecs"], r["mean_silhouette"], r["min_silhouette"])
        for r in REGISTRY["cluster_silhouette"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for cid in want:
        assert got[cid][0] == want[cid][0]
        assert abs(got[cid][1] - want[cid][1]) < 2e-6
        assert got[cid][2] == want[cid][2]


def test_silhouette_bounds(spark):
    """Simplified silhouette with b ≥ a ≥ 0 lives in [0, 1]:
    0 ≤ min ≤ mean ≤ 1 per cluster."""
    for r in REGISTRY["cluster_silhouette"].fn(spark, SF_DIR).collect():
        assert 0.0 <= r["min_silhouette"] <= r["mean_silhouette"] <= 1.0


# ---------------------------------------------------------------------------
# ts_periodogram
# ---------------------------------------------------------------------------


def test_periodogram_finds_planted_period_7(spark, tmp_path):
    """A pure 7-day sinusoid over 70 days (10 complete cycles): T=7
    captures ~all the variance with amplitude ~50 currency units; the
    orthogonal periods that divide 70 evenly stay near zero."""
    base = _D(2024, 1, 1)
    rows = []
    for d in range(70):
        cents = 10000 + round(5000 * math.cos(2 * math.pi * d / 7))
        rows.append(
            (d + 1, base + dt.timedelta(days=d), 1, "purchase",
             cents / 100.0, "{}")
        )
    _write(spark, tmp_path, "events", rows, _EV_SCHEMA)
    got = {
        r["period"]: r
        for r in REGISTRY["ts_periodogram"].fn(spark, str(tmp_path)).collect()
    }
    assert set(got) == set(range(2, 15))
    assert got[7]["frac_variance"] > 0.99
    assert abs(got[7]["amplitude"] - 50.0) < 0.1
    for t in (2, 5, 10, 14):
        assert got[t]["frac_variance"] < 0.01, t


def _periodogram_reference(series):
    """Pure-Python replication of the query's exact arithmetic."""
    n = len(series)
    s = float(sum(v for _, v in series))
    ssq = float(sum(v * v for _, v in series))
    xbar = s / n
    sst = ssq - s * xbar
    out = {}
    for t in range(2, 15):
        cls: dict[int, list[int]] = {}
        for d, v in series:
            cls.setdefault(d % t, []).append(v)
        craw = sum(
            sorted(
                round(sum(vs) * round(math.cos(((2.0 * math.pi) * r) / t), 12), 6)
                for r, vs in cls.items()
            )
        )
        sraw = sum(
            sorted(
                round(sum(vs) * round(math.sin(((2.0 * math.pi) * r) / t), 12), 6)
                for r, vs in cls.items()
            )
        )
        kc = sum(
            sorted(
                round(len(vs) * round(math.cos(((2.0 * math.pi) * r) / t), 12), 9)
                for r, vs in cls.items()
            )
        )
        ks = sum(
            sorted(
                round(len(vs) * round(math.sin(((2.0 * math.pi) * r) / t), 12), 9)
                for r, vs in cls.items()
            )
        )
        cc = craw - xbar * kc
        ss = sraw - xbar * ks
        power = cc * cc + ss * ss
        out[t] = (
            round(((2.0 * math.sqrt(power)) / n) / 100.0, 4),
            round((2.0 * power) / (n * sst), 6) if sst > 0 else None,
        )
    return out


def test_periodogram_matches_pure_python_reference(spark, tmp_path):
    """Amplitude and variance fraction equal the reference (to a 1-ulp
    rounding slack) on a deterministic mixed-period series."""
    base = _D(2024, 1, 1)
    series = [
        (d, 10000 + 31 * (d % 3) + 157 * (d % 5) + 13 * d) for d in range(45)
    ]
    rows = [
        (d + 1, base + dt.timedelta(days=d), 1, "purchase", c / 100.0, "{}")
        for d, c in series
    ]
    _write(spark, tmp_path, "events", rows, _EV_SCHEMA)
    ref = _periodogram_reference(series)
    got = {
        r["period"]: (r["amplitude"], r["frac_variance"])
        for r in REGISTRY["ts_periodogram"].fn(spark, str(tmp_path)).collect()
    }
    assert set(got) == set(ref)
    for t in ref:
        assert abs(got[t][0] - ref[t][0]) <= 2e-4, t
        assert abs(got[t][1] - ref[t][1]) <= 2e-6, t


def test_periodogram_fixture_shape(spark):
    """All 13 candidate periods present; amplitudes non-negative and
    variance fractions in [0, 1]."""
    rows = REGISTRY["ts_periodogram"].fn(spark, SF_DIR).collect()
    assert len(rows) == 13
    for r in rows:
        assert r["amplitude"] >= 0.0
        assert 0.0 <= r["frac_variance"] <= 1.0


# ---------------------------------------------------------------------------
# features_target_encoding_loo
# ---------------------------------------------------------------------------


def test_loo_encoding_hand_arithmetic(spark, tmp_path):
    """Segment X = {100, 200, 300}: LOO(100) = 250, LOO(200) = 200,
    LOO(300) = 150; a singleton segment encodes NULL but still gets the
    smoothed value (= global mean exactly, since n−1 = 0)."""
    custs = [
        (1, "a", 1, 0.0, "X"),
        (2, "b", 1, 0.0, "X"),
        (3, "c", 1, 0.0, "X"),
        (4, "d", 1, 0.0, "Y"),
    ]
    orders = [
        (10, 1, "O", 100.0, _D(2024, 1, 1), "1-URGENT"),
        (11, 2, "O", 200.0, _D(2024, 1, 1), "1-URGENT"),
        (12, 3, "O", 300.0, _D(2024, 1, 1), "1-URGENT"),
        (13, 4, "O", 400.0, _D(2024, 1, 1), "1-URGENT"),
    ]
    _write(spark, tmp_path, "customer", custs, _CUST_SCHEMA)
    _write(spark, tmp_path, "orders", orders, _ORD_SCHEMA)
    got = {
        r["o_orderkey"]: r
        for r in REGISTRY["features_target_encoding_loo"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert got[10]["loo_enc"] == 250.0
    assert got[11]["loo_enc"] == 200.0
    assert got[12]["loo_enc"] == 150.0
    assert got[13]["loo_enc"] is None
    gmean = (100 + 200 + 300 + 400) / 4.0
    assert got[13]["loo_smoothed"] == gmean  # (0 + 20·ȳ)/(0 + 20)
    # smoothed(100) = (500_00 + 20·250_00)/(2+20)/100
    want = round((50000 + 20.0 * 25000.0) / 22.0 / 100.0, 6)
    assert abs(got[10]["loo_smoothed"] - want) < 1e-9


def test_loo_encodings_average_back_to_segment_mean(spark):
    """Defining identity: within each segment the mean of the LOO
    encodings equals the segment mean of the target — LOO removes
    leakage without shifting the segment-level signal."""
    rows = REGISTRY["features_target_encoding_loo"].fn(spark, SF_DIR).collect()
    from collections import defaultdict

    by_seg = defaultdict(list)
    for r in rows:
        if r["loo_enc"] is not None:
            by_seg[r["segment"]].append(r["loo_enc"])
    from python_etl_sample_spark.sources import table

    import pyspark.sql.functions as F

    seg_means = {}
    o = table(spark, SF_DIR, "orders")
    c = table(spark, SF_DIR, "customer")
    for r in (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.avg("o_totalprice").alias("m"))
        .collect()
    ):
        seg_means[r["c_mktsegment"]] = r["m"]
    for seg, encs in by_seg.items():
        assert abs(sum(encs) / len(encs) - seg_means[seg]) < 1e-3, seg


# ---------------------------------------------------------------------------
# stats_kendall_tau
# ---------------------------------------------------------------------------


def _kendall_events(series):
    """events rows with one purchase-day per (day, (cents, count))
    spec: count events of 1 cent each except the first carries the
    remainder so the daily sum is exact."""
    base = _D(2024, 6, 1)
    rows, eid = [], 0
    for d, cents, cnt in series:
        first = cents - (cnt - 1)
        assert first >= 1
        for i in range(cnt):
            eid += 1
            v = first if i == 0 else 1
            rows.append(
                (eid, base + dt.timedelta(days=d), 1, "purchase",
                 v / 100.0, "{}")
            )
    return rows


def test_kendall_perfect_concordance_and_discordance(spark, tmp_path):
    """Strictly co-monotone daily (revenue, volume) gives τ_b = 1;
    reversing the volume ordering gives −1."""
    up = [(0, 100, 1), (1, 200, 2), (2, 300, 3), (3, 400, 4)]
    _write(spark, tmp_path, "events", _kendall_events(up), _EV_SCHEMA)
    r = REGISTRY["stats_kendall_tau"].fn(spark, str(tmp_path)).collect()[0]
    assert r["n_days"] == 4
    assert r["n_concordant"] == 6
    assert r["n_discordant"] == 0
    assert r["tau_b"] == 1.0
    down = [(0, 100, 4), (1, 200, 3), (2, 300, 2), (3, 400, 1)]
    _write(spark, tmp_path, "events", _kendall_events(down), _EV_SCHEMA)
    r = REGISTRY["stats_kendall_tau"].fn(spark, str(tmp_path)).collect()[0]
    assert r["tau_b"] == -1.0


def test_kendall_tie_correction_hand_value(spark, tmp_path):
    """Series with one tie in each variable: x = (100,100,300),
    y = (1,2,2). Pairs: (1,2) x-tied; (2,3) y-tied; (1,3) concordant.
    C=1, D=0, n0=3, n1=1, n2=1 → τ_b = 1/√(2·2) = 0.5."""
    series = [(0, 100, 1), (1, 100, 2), (2, 300, 2)]
    _write(spark, tmp_path, "events", _kendall_events(series), _EV_SCHEMA)
    r = REGISTRY["stats_kendall_tau"].fn(spark, str(tmp_path)).collect()[0]
    assert r["n_concordant"] == 1
    assert r["n_discordant"] == 0
    assert r["tied_pairs_x"] == 1
    assert r["tied_pairs_y"] == 1
    assert r["tau_b"] == 0.5


def test_kendall_degenerate_all_tied_is_null(spark, tmp_path):
    """A constant variable makes the denominator zero → NULL, not an
    error, on both engines."""
    series = [(0, 100, 2), (1, 100, 2), (2, 100, 2)]
    _write(spark, tmp_path, "events", _kendall_events(series), _EV_SCHEMA)
    r = REGISTRY["stats_kendall_tau"].fn(spark, str(tmp_path)).collect()[0]
    assert r["tau_b"] is None
    assert r["tied_pairs_x"] == 3
    assert r["tied_pairs_y"] == 3


def test_kendall_fixture_bounds_and_pair_accounting(spark):
    """τ_b ∈ [−1, 1]; concordant + discordant + pairs-with-a-tie cover
    all n(n−1)/2 day pairs (a pair tied in x or y is neither C nor D)."""
    r = REGISTRY["stats_kendall_tau"].fn(spark, SF_DIR).collect()[0]
    n0 = r["n_days"] * (r["n_days"] - 1) // 2
    assert -1.0 <= r["tau_b"] <= 1.0
    assert r["n_concordant"] + r["n_discordant"] <= n0
    covered = (
        r["n_concordant"] + r["n_discordant"]
        + r["tied_pairs_x"] + r["tied_pairs_y"]
    )
    assert covered >= n0  # both-tied pairs count twice, hence >=
