"""Round-10f invariants: Hamilton apportionment properties as tests —
the budget identity, quota-bounding, and agreement with a pure-Python
largest-remainder replay."""

from __future__ import annotations

import math
from collections import defaultdict

import pyarrow.parquet as pq

from python_etl_sample_spark.registry import REGISTRY, load_all_operators

load_all_operators()

SF_DIR = "/root/testdata/sf0.001"


def test_apportionment_properties_and_replay(spark):
    from python_etl_sample_spark.operators.text_extras import _BUDGET

    rows = REGISTRY["corpus_apportion_budget"].fn(spark, SF_DIR).collect()
    # the structural identity: allocations sum to the budget EXACTLY
    assert sum(r["alloc"] for r in rows) == _BUDGET
    # Hamilton stays within the quota: floor(q) <= alloc <= ceil(q)
    for r in rows:
        assert math.floor(r["quota"]) <= r["alloc"] <= math.ceil(r["quota"]) + 1

    # pure-Python replay of the whole method
    docs = pq.read_table(
        f"{SF_DIR}/documents.parquet", columns=["lang", "source", "n_chars"]
    ).to_pylist()
    chars = defaultdict(int)
    for d in docs:
        chars[(d["lang"], d["source"])] += d["n_chars"]
    total = sum(chars.values())
    sq9 = {k: round(math.sqrt(v / total), 9) for k, v in chars.items()}
    z = sum(sq9.values())  # decimal-sum of 9-dp values == float sum here
    q = {k: round(_BUDGET * (s / z), 9) for k, s in sq9.items()}
    base = {k: math.floor(v) for k, v in q.items()}
    deficit = _BUDGET - sum(base.values())
    order = sorted(
        q, key=lambda k: (-round(q[k] - base[k], 9), k[0], k[1])
    )
    alloc = dict(base)
    for k in order[:deficit]:
        alloc[k] += 1

    got = {(r["lang"], r["source"]): r["alloc"] for r in rows}
    assert got == alloc


def test_delong_matches_pure_python_replay(spark):
    """Replay DeLong placements in plain Python over the fixture and
    compare AUC/SE/CI; also cross-pin the AUC against ml_roc_auc."""
    rows = REGISTRY["ml_auc_delong_ci"].fn(spark, SF_DIR).collect()
    assert len(rows) == 1
    r = rows[0]

    tbl = pq.read_table(
        f"{SF_DIR}/orders.parquet", columns=["o_totalprice", "o_orderpriority"]
    ).to_pylist()
    scores, ys = [], []
    for rec in tbl:
        scores.append(round(rec["o_totalprice"] * 100))
        ys.append(1 if rec["o_orderpriority"] in ("1-URGENT", "2-HIGH") else 0)
    pos = sorted(s for s, y in zip(scores, ys) if y == 1)
    neg = sorted(s for s, y in zip(scores, ys) if y == 0)
    n1, n0 = len(pos), len(neg)
    assert (r["n_pos"], r["n_neg"]) == (n1, n0)

    import bisect

    def placements(xs, others):
        out = []
        for s in xs:
            below = bisect.bisect_left(others, s)
            ties = bisect.bisect_right(others, s) - below
            out.append((below + 0.5 * ties) / len(others))
        return out

    v10 = placements(pos, neg)
    v01 = [1.0 - p for p in placements(neg, pos)]
    auc = sum(v10) / n1
    assert abs(sum(v01) / n0 - auc) < 1e-12  # identity sanity
    s10 = sum((v - auc) ** 2 for v in v10) / (n1 - 1)
    s01 = sum((v - auc) ** 2 for v in v01) / (n0 - 1)
    se = (s10 / n1 + s01 / n0) ** 0.5

    assert abs(r["auc"] - auc) < 1e-5
    assert abs(r["se_delong"] - se) < 1e-5
    assert abs(r["ci95_lo"] - max(r["auc"] - 1.96 * r["se_delong"], 0.0)) < 1e-6
    assert abs(r["ci95_hi"] - min(r["auc"] + 1.96 * r["se_delong"], 1.0)) < 1e-6

    roc = REGISTRY["ml_roc_auc"].fn(spark, SF_DIR).collect()[0]
    assert abs(roc["auc"] - r["auc"]) < 2e-6  # same quantity, both 6 dp
