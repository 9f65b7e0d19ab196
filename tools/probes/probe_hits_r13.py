"""Round-13 interleaved HITS floor probe (VERDICT r12 item 2).

Builds graph_hits_scores variants in ONE session and interleaves reps
so ambient load hits all variants equally. Known variants (select by
name on the command line; default shipped,noguard,guardn):

  shipped  — the r13 form exactly (guard + half-cadence renorm)
  noguard  — r11 form: identical except the runtime degree guard
  guardn   — guard folded into the broadcast scalar n (one CASE
             evaluation instead of per-h0-row)
  renorm1  — r10 form: renorm every round
  fused    — renorm total fused as a scalar subquery instead of
             crossJoin(broadcast(agg)) (r11 verdict item 3 sketch)
  guardout — guard CASE moved to the output projection

BENCH_NOTES r13 records the measured sessions: s1 ran
shipped/noguard/renorm1/fused, s2 shipped/noguard/guardout, s3
shipped/noguard/guardn.

Usage: python tools/probes/probe_hits_r13.py [reps] [v1,v2,...]
"""
from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from python_etl_sample_spark.cache import cached_df  # noqa: E402
from python_etl_sample_spark.operators.graph_analytics import (  # noqa: E402
    _HITS_RENORM_EVERY,
    _HITS_ROUNDS,
    _hits_maxdeg_bound,
    _HITS_SCALE,
)
from python_etl_sample_spark.session import get_spark  # noqa: E402
from python_etl_sample_spark.sources import table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def build(spark: SparkSession, guard: bool, renorm_every: int,
          fused_total: bool, guard_at_output: bool = False,
          guard_in_n: bool = False) -> DataFrame:
    def _edges() -> DataFrame:
        li = (
            table(spark, SF_DIR, "lineitem")
            .filter(
                (F.col("l_shipdate") >= F.lit("1995-01-01"))
                & (F.col("l_shipdate") < F.lit("1996-01-01"))
            )
            .select("l_orderkey", "l_suppkey")
        )
        orders = table(spark, SF_DIR, "orders").select(
            "o_orderkey", "o_custkey"
        )
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select(F.col("o_custkey").alias("c"),
                    F.col("l_suppkey").alias("s"))
            .distinct()
        )

    edges = cached_df(spark, ("hits_edges", os.path.abspath(SF_DIR)), _edges)
    outdeg = edges.groupBy("c").agg(F.count(F.lit(1)).alias("deg"))
    indeg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    n_hubs = (
        outdeg.select("deg", F.lit(1).alias("is_hub"))
        .unionAll(indeg.select("deg", F.lit(0).alias("is_hub")))
        .agg(F.sum("is_hub").alias("n"), F.max("deg").alias("md"))
    )
    guard_case = (
        f"(CASE WHEN md > {_hits_maxdeg_bound(renorm_every)} THEN raise_error("
        f"'over bound') ELSE 0 END)"
    )
    if guard and guard_in_n:
        # guard folded into the scalar n itself: one CASE evaluation
        # when the 1-row broadcast frame is built; n is consumed by
        # h0, so pruning can't drop it
        n_hubs = n_hubs.select(
            F.expr(
                f"CASE WHEN md > {_hits_maxdeg_bound(renorm_every)} THEN "
                f"raise_error('over bound') ELSE n END"
            ).alias("n")
        )
    deg_guard = (
        guard_case
        if (guard and not guard_at_output and not guard_in_n)
        else "0"
    )
    renorm = (
        f"CAST((raw * CAST({_HITS_SCALE} AS DECIMAL(38,0))) DIV t AS BIGINT)"
    )
    dec = "decimal(38,0)"
    hubs = outdeg.crossJoin(F.broadcast(n_hubs)).select(
        "c",
        F.expr(f"CAST({_HITS_SCALE} DIV n + {deg_guard} AS {dec})").alias("h"),
    )
    a_raw = None
    for rnd in range(1, _HITS_ROUNDS + 1):
        a_raw = (
            edges.join(hubs, "c").groupBy("s").agg(F.sum("h").alias("raw"))
        )
        if rnd == _HITS_ROUNDS:
            a_raw = a_raw.localCheckpoint(eager=False)
        h_raw = edges.join(a_raw, "s").groupBy("c").agg(
            F.sum("raw").alias("raw")
        )
        if rnd % renorm_every == 0:
            h_raw = h_raw.localCheckpoint(eager=False)
            if fused_total:
                h_raw.createOrReplaceTempView(f"hraw_{rnd}_{id(h_raw)}")
                v = f"hraw_{rnd}_{id(h_raw)}"
                hubs = spark.sql(
                    f"SELECT c, CAST((raw * CAST({_HITS_SCALE} AS "
                    f"DECIMAL(38,0))) DIV (SELECT SUM(raw) FROM {v}) "
                    f"AS BIGINT) AS h FROM {v}"
                ).select("c", F.col("h").cast(dec).alias("h"))
            else:
                h_tot = h_raw.agg(F.sum("raw").alias("t"))
                hubs = h_raw.crossJoin(F.broadcast(h_tot)).select(
                    "c", F.expr(renorm).cast(dec).alias("h")
                )
        else:
            hubs = h_raw.select("c", F.col("raw").alias("h"))
    a_tot = a_raw.agg(F.sum("raw").alias("t"))
    auths = a_raw.crossJoin(F.broadcast(a_tot)).select(
        "s", F.expr(renorm).alias("a")
    )
    hub_score = (
        F.expr(f"CAST(h AS BIGINT) + {guard_case}")
        if (guard and guard_at_output)
        else F.col("h").cast("long")
    )
    hub_base = hubs.join(outdeg, "c")
    if guard and guard_at_output:
        hub_base = hub_base.crossJoin(F.broadcast(n_hubs.select("md")))
    hub_rows = hub_base.select(
        F.lit("hub").alias("role"),
        F.col("c").alias("node_id"),
        F.col("deg").alias("degree"),
        hub_score.alias("score_scaled"),
    )
    auth_rows = auths.join(indeg, "s").select(
        F.lit("authority").alias("role"),
        F.col("s").alias("node_id"),
        F.col("deg").alias("degree"),
        F.col("a").alias("score_scaled"),
    )
    return hub_rows.unionAll(auth_rows)


ALL_VARIANTS = {
    "shipped": dict(guard=True, renorm_every=_HITS_RENORM_EVERY,
                    fused_total=False),
    "noguard": dict(guard=False, renorm_every=_HITS_RENORM_EVERY,
                    fused_total=False),
    "guardn": dict(guard=True, renorm_every=_HITS_RENORM_EVERY,
                   fused_total=False, guard_in_n=True),
    "renorm1": dict(guard=True, renorm_every=1, fused_total=False),
    "fused": dict(guard=True, renorm_every=_HITS_RENORM_EVERY,
                  fused_total=True),
    "guardout": dict(guard=True, renorm_every=_HITS_RENORM_EVERY,
                     fused_total=False, guard_at_output=True),
}


def main() -> int:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    picked = (
        sys.argv[2].split(",") if len(sys.argv) > 2
        else ["shipped", "noguard", "guardn"]
    )
    spark = get_spark("hits-probe")
    spark.sparkContext.setLogLevel("ERROR")

    variants = {n: ALL_VARIANTS[n] for n in picked}
    # sentinel for ambient calibration
    t0 = time.perf_counter()
    table(spark, SF_DIR, "lineitem").select("l_orderkey").count()
    print(f"sentinel scan: {time.perf_counter() - t0:.3f}")
    # warm-up: one throwaway build per variant
    for kw in variants.values():
        build(spark, **kw).count()
    # value parity check (hash-insensitive quick check: sorted sums)
    sums = {}
    for name, kw in variants.items():
        r = build(spark, **kw).agg(
            F.sum("score_scaled"), F.count(F.lit(1))).collect()[0]
        sums[name] = tuple(r)
    print("parity:", sums)
    times: dict[str, list[float]] = {n: [] for n in variants}
    for _ in range(reps):
        for name, kw in variants.items():
            t0 = time.perf_counter()
            build(spark, **kw).count()
            times[name].append(time.perf_counter() - t0)
    for name, ts in times.items():
        runs = " ".join(f"{t:.2f}" for t in ts)
        print(f"{name}: [{runs}] min {min(ts):.3f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
