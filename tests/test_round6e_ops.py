"""Round-6 batch-5 invariants (operators/round6e_ops.py): CUSUM vs the
literal sequential recursion in Python, alarm localization on a planted
level shift, and top-paths against a hand-counted trigram reference."""

from __future__ import annotations

import datetime as dt

from python_etl_sample_spark.registry import REGISTRY, load_all_operators

load_all_operators()

_D = dt.datetime

_ORD_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string,"
    " o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
)
_EV_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string,"
    " value double, props string"
)


def _write(spark, tmpdir, name, rows, schema):
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        f"{tmpdir}/{name}.parquet"
    )


def test_cusum_matches_sequential_recursion_and_localizes_shift(spark, tmp_path):
    """Plant a level shift at day 20 of a 30-day series and check (a)
    max CUSUM equals the literal S_t = max(0, S_{t-1} + x_t - mu)
    recursion replayed in Python, and (b) the alarm fires after the
    shift, never before."""
    from python_etl_sample_spark.operators.inference import _H_SIGMAS

    vals = [1000.0 + 50 * ((3 * i) % 7) for i in range(30)]
    for i in range(20, 30):
        vals[i] += 2000.0  # the planted shift
    rows = []
    base = _D(1996, 1, 1, 12)
    for i, v in enumerate(vals):
        rows.append((i, 1, "O", v, base + dt.timedelta(days=i), "1-URGENT"))
    _write(spark, tmp_path, "orders", rows, _ORD_SCHEMA)
    out = REGISTRY["stats_cusum_changepoint"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    # sequential reference
    mu = sum(vals) / len(vals)
    var = sum(v * v for v in vals) / len(vals) - mu * mu
    h = _H_SIGMAS * var**0.5
    s, smax, alarm = 0.0, 0.0, None
    d0 = int(base.timestamp()) // 86400
    for i, v in enumerate(vals):
        s = max(0.0, s + (v - mu))
        smax = max(smax, s)
        if alarm is None and s > h:
            alarm = d0 + i
    assert r["n_days"] == 30
    # r14: the engine's prefix sum routes per-row deviations through
    # decimal(28,6) (order-free cross-engine determinism — see the
    # operator), so each step may differ from this float recursion by
    # up to 5e-7; tolerance is n·5e-7 for the 30-day series
    assert abs(r["max_cusum"] - round(smax, 6)) < 30 * 5e-7
    assert r["first_alarm_day"] == alarm
    assert alarm >= d0 + 20  # never fires before the shift


def test_top_paths_hand_counted(spark, tmp_path):
    """Two users with known journeys: trigram counts and the
    (n DESC, path ASC) ordering match a hand count."""
    rows, eid = [], 0
    base = _D(2024, 1, 1)

    def ev(uid, off, et):
        nonlocal eid
        rows.append((eid, base + dt.timedelta(minutes=off), uid, et, 1.0, "{}"))
        eid += 1

    # u1: a b a b a  -> trigrams: a>b>a, b>a>b, a>b>a
    for off, et in enumerate(["a", "b", "a", "b", "a"]):
        ev(1, off, et)
    # u2: a b a      -> a>b>a
    for off, et in enumerate(["a", "b", "a"]):
        ev(2, off, et)
    _write(spark, tmp_path, "events", rows, _EV_SCHEMA)
    got = [
        (r["path"], r["n"])
        for r in REGISTRY["events_top_paths"].fn(spark, str(tmp_path)).collect()
    ]
    assert got == [("a>b>a", 3), ("b>a>b", 1)]
