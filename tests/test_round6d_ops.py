"""Round-6 batch-4 invariants (operators/round6d_ops.py): MMR's
diversification behavior vs a pure-Python greedy reference, Mann-Kendall
on monotone and alternating series, Theil's decomposition identity and
zero-on-equality, and the lifecycle accounting identity."""

from __future__ import annotations

import datetime as dt
import math

from python_etl_sample_spark.registry import REGISTRY, load_all_operators

load_all_operators()

SF001 = "/root/testdata/sf0.001"
_D = dt.datetime

_ORD_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string,"
    " o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
)
_CUST_SCHEMA = (
    "c_custkey long, c_name string, c_nationkey long, c_acctbal double,"
    " c_mktsegment string"
)
_EV_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string,"
    " value double, props string"
)


def _write(spark, tmpdir, name, rows, schema):
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        f"{tmpdir}/{name}.parquet"
    )


def test_mmr_matches_python_greedy_reference(spark):
    """Replay the greedy MMR loop in pure Python from the same fixture
    embeddings and check the Spark selection item-for-item (ids AND
    rounded scores)."""
    import numpy as np
    import pyarrow.parquet as pq

    from python_etl_sample_spark.operators.similarity import (
        _MMR_LAMBDA,
        _MMR_POOL,
        _MMR_QUERIES,
        _MMR_SELECT,
    )

    t = pq.read_table(f"{SF001}/embeddings.parquet").to_pydict()
    vecs = {
        i: np.asarray(v, dtype=np.float64)
        for i, v in zip(t["vec_id"], t["embedding"])
    }
    nrm = {i: math.sqrt(float(v @ v)) for i, v in vecs.items()}

    def cos(a, b):
        return round(float(vecs[a] @ vecs[b]) / (nrm[a] * nrm[b]), 9)

    want = {}
    for q in _MMR_QUERIES:
        rel = {c: cos(q, c) for c in vecs if c != q}
        pool = sorted(rel, key=lambda c: (-rel[c], c))[:_MMR_POOL]
        chosen = []
        for rank in range(1, _MMR_SELECT + 1):
            best = None
            for cand in pool:
                if cand in [c for c, _ in chosen]:
                    continue
                if not chosen:
                    score = rel[cand]
                else:
                    score = _MMR_LAMBDA * rel[cand] - (1 - _MMR_LAMBDA) * max(
                        cos(cand, c) for c, _ in chosen
                    )
                key = (-score, cand)
                if best is None or key < best[0]:
                    best = (key, cand, score)
            chosen.append((best[1], best[2]))
            want[(q, rank)] = (best[1], round(best[2], 6))

    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["mmr_score"])
        for r in REGISTRY["sim_mmr_rerank"].fn(spark, SF001).collect()
    }
    assert got == want


def test_mann_kendall_monotone_and_flat(spark, tmp_path):
    """A strictly increasing monthly series gives tau exactly 1; a
    constant series gives S = 0."""
    rows, ok = [], 0
    custs = [
        (1, "Customer#1", 1, 0.0, "BUILDING"),
        (2, "Customer#2", 1, 0.0, "MACHINERY"),
    ]
    for m in range(12):
        day = _D(1996, 1 + m, 5)
        rows.append((ok, 1, "O", 1000.0 + 100 * m, day, "1-URGENT")); ok += 1
        rows.append((ok, 2, "O", 5000.0, day, "1-URGENT")); ok += 1
    _write(spark, tmp_path, "orders", rows, _ORD_SCHEMA)
    _write(spark, tmp_path, "customer", custs, _CUST_SCHEMA)
    out = {r["seg"]: r for r in REGISTRY["stats_mann_kendall_trend"].fn(spark, str(tmp_path)).collect()}
    assert out["BUILDING"]["kendall_tau"] == 1.0
    assert out["BUILDING"]["s_stat"] == 66  # C(12,2)
    assert out["MACHINERY"]["s_stat"] == 0


def test_theil_zero_when_equal_and_decomposition(spark, tmp_path):
    """Equal revenues inside a nation → theil_within exactly 0; and the
    reported pieces reconstruct the total Theil index computed
    independently in Python."""
    custs, rows, ok = [], [], 0
    # nation 1: 4 customers x 1000 (equal); nation 2: 100 / 3900
    for i in range(4):
        custs.append((i, f"Customer#{i}", 1, 0.0, "BUILDING"))
        rows.append((ok, i, "O", 1000.0, _D(1996, 1, 2), "1-URGENT")); ok += 1
    custs += [(10, "Customer#10", 2, 0.0, "AUTOMOBILE"),
              (11, "Customer#11", 2, 0.0, "AUTOMOBILE")]
    rows.append((ok, 10, "O", 100.0, _D(1996, 1, 2), "1-URGENT")); ok += 1
    rows.append((ok, 11, "O", 3900.0, _D(1996, 1, 2), "1-URGENT")); ok += 1
    _write(spark, tmp_path, "orders", rows, _ORD_SCHEMA)
    _write(spark, tmp_path, "customer", custs, _CUST_SCHEMA)
    out = {r["nation"]: r for r in REGISTRY["agg_theil_index"].fn(spark, str(tmp_path)).collect()}
    assert out[1]["theil_within"] == 0.0
    # independent total Theil over all 6 incomes
    xs = [1000.0] * 4 + [100.0, 3900.0]
    mu = sum(xs) / len(xs)
    total = sum((x / sum(xs)) * math.log(x / mu) for x in xs)
    got_total = sum(
        r["revenue_share"] * r["theil_within"] + r["between_term"]
        for r in out.values()
    )
    assert abs(got_total - total) < 1e-5
    assert abs(sum(r["revenue_share"] for r in out.values()) - 1.0) < 1e-6


def test_lifecycle_accounting_identity(spark, tmp_path):
    """Hand-built user histories hit every state on the epoch-day
    grain: u1 active three consecutive days (new then retained), u2
    skips a day (resurrected + churned), u3 one-shot (new then
    churned)."""
    rows = []
    eid = 0
    base = _D(2024, 1, 10, 12)  # noon, so day index is unambiguous

    def ev(uid, day_off):
        nonlocal eid
        rows.append((eid, base + dt.timedelta(days=day_off), uid, "view", 1.0, "{}"))
        eid += 1

    for d in (0, 1, 2):
        ev(1, d)
    ev(2, 0); ev(2, 2)
    ev(3, 1)
    _write(spark, tmp_path, "events", rows, _EV_SCHEMA)
    out = {
        (r["day_idx"], r["state"]): r["n_users"]
        for r in REGISTRY["events_user_lifecycle"].fn(spark, str(tmp_path)).collect()
    }
    d0 = int(base.timestamp()) // 86400
    assert out == {
        (d0, "new"): 2,            # u1, u2
        (d0 + 1, "new"): 1,        # u3
        (d0 + 1, "retained"): 1,   # u1
        (d0 + 1, "churned"): 1,    # u2 absent on day 1
        (d0 + 2, "retained"): 1,   # u1
        (d0 + 2, "resurrected"): 1,  # u2 back on day 2
        (d0 + 2, "churned"): 1,    # u3 absent on day 2
    }


def test_degenerate_guards_yield_null_not_nan(spark, tmp_path):
    """Divide-by-zero parity guards (tests/test_ansi_edges divergence
    matrix: Spark errors or IEEE-NaNs where DuckDB NULLs): a
    single-month segment's tau, a zero-variance cross-correlation, and
    a one-era-only KS priority must all come back NULL — in BOTH
    engines, because the guard nulls the divisor before any division
    happens."""
    custs = [
        (1, "Customer#1", 1, 0.0, "BUILDING"),
        (2, "Customer#2", 1, 0.0, "AUTOMOBILE"),
        (3, "Customer#3", 1, 0.0, "MACHINERY"),
    ]
    spark.createDataFrame(custs, _CUST_SCHEMA).write.mode("overwrite").parquet(
        f"{tmp_path}/customer.parquet"
    )
    rows, ok = [], 0
    # MACHINERY: ONE month only -> tau divisor 0
    rows.append((ok, 3, "O", 500.0, _D(1996, 3, 3), "1-URGENT")); ok += 1
    # BUILDING & AUTOMOBILE: constant identical daily series ->
    # zero-variance xcorr denominator at every lag
    for i in range(10):
        day = _D(1996, 1, 1) + dt.timedelta(days=i)
        rows.append((ok, 1, "O", 777.0, day, "1-URGENT")); ok += 1
        rows.append((ok, 2, "O", 777.0, day, "2-HIGH")); ok += 1
    spark.createDataFrame(rows, _ORD_SCHEMA).write.mode("overwrite").parquet(
        f"{tmp_path}/orders.parquet"
    )
    mk = {r["seg"]: r for r in REGISTRY["stats_mann_kendall_trend"].fn(spark, str(tmp_path)).collect()}
    assert mk["MACHINERY"]["n_months"] == 1
    assert mk["MACHINERY"]["kendall_tau"] is None
    xc = REGISTRY["ts_cross_correlation"].fn(spark, str(tmp_path)).collect()
    assert xc  # lag 0 at least joins
    assert all(r["xcorr"] is None for r in xc)
    # KS: 1-URGENT exists only pre-1998 (all 1996) -> nb = 0 -> NULL
    ks = {r["priority"]: r for r in REGISTRY["stats_ks_two_sample"].fn(spark, str(tmp_path)).collect()}
    assert ks["1-URGENT"]["n_after"] == 0
    assert ks["1-URGENT"]["ks_d"] is None
