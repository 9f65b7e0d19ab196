"""Round-13 hardening tests.

VERDICT r12 item 3: the HITS degree guard documents "set
_HITS_RENORM_EVERY = 1" as the remediation for a hot-node graph, but
until round 13 the guard bound was hard-wired to the cadence-2 value,
so following the remediation would have tripped the guard anyway.
These tests pin both halves on a synthetic hot-node (star) graph whose
max degree exceeds the cadence-2 bound:

- shipped cadence 2 → the guard trips loudly (no silent NULLs);
- remediation cadence 1 → the guard admits the graph (bound widens to
  ~10¹⁴) and the run completes with non-NULL, mass-conserving scores.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from python_etl_sample_spark.operators import graph_analytics as mod
from python_etl_sample_spark.operators.graph_analytics import (
    _HITS_RENORM_EVERY,
    _HITS_SCALE,
    _hits_maxdeg_bound,
    graph_hits_scores,
)

#: star fan-out: one customer shipping to this many suppliers —
#: just past the shipped cadence-2 bound (~4.6e4), far under the
#: cadence-1 bound (1e14)
_FAN = _hits_maxdeg_bound(2) + 100


@pytest.fixture(scope="module")
def hot_node_sf_dir(tmp_path_factory):
    """Minimal lineitem/orders fixture dir: customer 1 → suppliers
    1.._FAN via a single 1995-shipped order per supplier."""
    d = tmp_path_factory.mktemp("hits_hot_node")
    # 1995-06-01 00:00:00 (naive) in ms since epoch — inside the
    # query's 1995 ship-date window
    ship = pa.array([801964800000] * _FAN, pa.timestamp("ms"))
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([1] * _FAN, pa.int64()),
                "l_suppkey": pa.array(range(1, _FAN + 1), pa.int64()),
                "l_shipdate": ship,
            }
        ),
        str(d / "lineitem.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([1], pa.int64()),
                "o_custkey": pa.array([1], pa.int64()),
            }
        ),
        str(d / "orders.parquet"),
    )
    return str(d)


def test_maxdeg_bound_formula():
    """The audited anchors: cadence 2 → ~4.6e4 (the shipped value),
    cadence 1 → the round-10 ~1e14 headroom."""
    assert _hits_maxdeg_bound(2) == 46_415
    assert _hits_maxdeg_bound(1) == 10**14
    assert _FAN > _hits_maxdeg_bound(2)
    assert _FAN < _hits_maxdeg_bound(1)


def test_hits_guard_trips_on_hot_node_graph(spark, hot_node_sf_dir):
    """Shipped cadence: a graph with maxdeg past the audited bound
    fails loudly with the remediation message."""
    assert _HITS_RENORM_EVERY == 2  # the shipped cadence this pins
    with pytest.raises(Exception, match="_HITS_RENORM_EVERY"):
        graph_hits_scores(spark, hot_node_sf_dir).collect()


def test_hits_fallback_cadence_admits_hot_node_graph(
    spark, hot_node_sf_dir, monkeypatch
):
    """The documented remediation actually works: under cadence 1 the
    guard widens to ~1e14, the hot-node run completes, every score is
    non-NULL, and each role's mass is SCALE minus < 1 unit per node
    (the renorm flooring invariant)."""
    monkeypatch.setattr(mod, "_HITS_RENORM_EVERY", 1)
    rows = graph_hits_scores(spark, hot_node_sf_dir).collect()
    assert len(rows) == _FAN + 1  # one hub + _FAN authorities
    assert all(r.score_scaled is not None for r in rows)
    hub_mass = sum(r.score_scaled for r in rows if r.role == "hub")
    auth_mass = sum(r.score_scaled for r in rows if r.role == "authority")
    n_hubs, n_auths = 1, _FAN
    assert _HITS_SCALE - n_hubs <= hub_mass <= _HITS_SCALE
    assert _HITS_SCALE - n_auths <= auth_mass <= _HITS_SCALE
    # star symmetry: the single hub holds all hub mass; authorities
    # split theirs evenly
    auth_scores = {
        r.score_scaled for r in rows if r.role == "authority"
    }
    assert len(auth_scores) == 1


def test_watermark_boundary_emission_is_inclusive(spark, tmp_path):
    """Pins the emission convention stream_demo_watermark_late's oracle
    assumes (`HAVING wend <= wm`): a window whose END equals the
    watermark EXACTLY is emitted. The graded fixtures never land on the
    boundary (wm = max ts − 10 min, window ends are whole hours), so
    parity alone cannot distinguish <= from < — this synthetic replay
    can: one event in [01:00, 02:00) plus a max event at exactly
    02:10:00.000 puts the watermark at precisely 02:00:00.000."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    t0 = 1704067200000  # 2024-01-01T00:00 naive, ms
    d = str(tmp_path)

    def write(name, ms_list, mtime):
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array(ms_list, pa.timestamp("ms")),
                    "k": pa.array(["a"] * len(ms_list), pa.string()),
                }
            ),
            f"{d}/{name}",
        )
        os.utime(f"{d}/{name}", (mtime, mtime))

    write("0_on.parquet", [t0 + 3600_000, t0 + (2 * 3600 + 600) * 1000],
          1_700_000_000)
    write("1_hb.parquet", [], 1_700_000_100)
    write("2_late.parquet", [t0 + 1800_000], 1_700_000_200)

    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    agg = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = "wm_boundary_pin"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table(name).collect()
    # the boundary window [01:00, 02:00) IS emitted (wend == wm), the
    # late 00:30 row was dropped, and the open [02:00, 03:00) window
    # (holding the max event) is not emitted
    assert [(r.w.start.hour, r.w.end.hour, r.n) for r in rows] == [(1, 2, 1)]
