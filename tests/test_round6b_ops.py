"""Round-6 batch-2 operator invariants (operators/round6b_ops.py):
the sketch guarantees and statistical identities the sf parity run
checks only pointwise — CMS's one-sided error, KMV's merge identity,
PSI's zero-on-identical-distributions, and target encoding's
shrinkage direction."""

from __future__ import annotations

import datetime as dt
import hashlib
import random

from python_etl_sample_spark.operators.sketches import _KMV_K
from python_etl_sample_spark.operators.features import _TE_M
from python_etl_sample_spark.registry import REGISTRY, load_all_operators

load_all_operators()

SF01 = "/root/testdata/sf0.01"
_D = dt.datetime


def test_cms_never_undercounts(spark):
    """The Count-Min guarantee is ONE-sided: min-over-depths can only
    collide upward, never below the true count — over every user at
    sf0.01, est >= exact, and `overcounted` is exactly (est > exact)."""
    rows = REGISTRY["sketch_cms_frequency"].fn(spark, SF01).collect()
    assert rows
    for r in rows:
        assert r["cms_est"] >= r["n_exact"], r
        assert r["overcounted"] == int(r["cms_est"] > r["n_exact"])


def test_kmv_merge_identity():
    """Mergeability, the property the operator docstring claims: the k
    smallest of a union equals the k smallest of the per-shard
    k-smallest sets — pure-Python check on random shards, the identity
    that lets 100 TB shards exchange 64 hashes instead of raw keys."""
    rng = random.Random(606)
    values = [rng.getrandbits(48) for _ in range(5000)]
    shards = [values[i::7] for i in range(7)]
    direct = sorted(set(values))[:_KMV_K]
    per_shard = [sorted(set(s))[:_KMV_K] for s in shards]
    merged = sorted(set().union(*map(set, per_shard)))[:_KMV_K]
    assert merged == direct


def test_kmv_estimate_tracks_exact(spark):
    """At sf0.01 (150 distinct users per type, k=64) the KMV estimate
    must land within the ~4/sqrt(k) coarse envelope of exact — a sanity
    band, not the parity check (the oracle already pins exact
    equality)."""
    rows = REGISTRY["sketch_kmv_distinct"].fn(spark, SF01).collect()
    assert rows
    for r in rows:
        if r["n_exact"] >= _KMV_K:
            assert 0.5 * r["n_exact"] <= r["kmv_est"] <= 2.0 * r["n_exact"], r


def test_psi_zero_on_identical_distributions(spark, tmp_path):
    """PSI of a distribution against itself is exactly 0: every smoothed
    share pair is equal, each term is (p-p)*ln(1) = 0. Built by mirroring
    the same orders into both periods."""
    rows = []
    rng = random.Random(99)
    for i in range(400):
        price = rng.uniform(2000, 480000)
        # same (priority, price) once in each period
        rows.append((2 * i, 1, "O", price, _D(1996, 6, 1), "1-URGENT"))
        rows.append((2 * i + 1, 1, "O", price, _D(2000, 6, 1), "1-URGENT"))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    out = REGISTRY["stats_psi_drift"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert out[0]["psi"] == 0.0
    assert out[0]["n_before"] == 400 and out[0]["n_after"] == 400


def test_target_encoding_shrinks_toward_global(spark):
    """Smoothed target encoding lies strictly BETWEEN the raw brand rate
    and the global rate (when they differ): the defining property of
    empirical-Bayes shrinkage, with the pull stronger for smaller n."""
    rows = REGISTRY["features_target_encoding"].fn(spark, SF01).collect()
    assert rows
    total = sum(r["n_lines"] for r in rows)
    hits = sum(r["n_returns"] for r in rows)
    g = hits / total
    for r in rows:
        raw = r["n_returns"] / r["n_lines"]
        enc = r["brand_return_encoding"]
        lo, hi = sorted((raw, g))
        assert lo - 1e-9 <= enc <= hi + 1e-9, r
        # reconstruct the formula independently
        want = (r["n_returns"] + _TE_M * g) / (r["n_lines"] + _TE_M)
        assert abs(enc - round(want, 6)) < 1e-9


def test_cms_hash_matches_sha256_reference(spark):
    """The Spark-side bucket hash is EXACTLY the first-6-hex-digits of
    sha256 idiom (the cross-engine contract) — re-derived in pure
    Python for a probe of user ids."""
    from python_etl_sample_spark.operators.sketches import _CMS_WIDTH, _spark_hexhash
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i,) for i in range(50)], "user_id long")
    got = {
        r["user_id"]: r["b"]
        for r in df.select(
            "user_id",
            (
                _spark_hexhash(
                    F.col("user_id"), 6, salt=F.lit(":2")
                )
                % _CMS_WIDTH
            ).alias("b"),
        ).collect()
    }
    for uid in range(50):
        h = hashlib.sha256(f"{uid}:2".encode()).hexdigest()
        assert got[uid] == int(h[:6], 16) % _CMS_WIDTH
