"""Deterministic Lloyd k-means fit shared by the similarity, dedup and
embedding tiers: ``cluster_kmeans_lloyd``, the IVF quantizers, the
cluster-pruned semantic dedup and the silhouette, recall and outlier
queries all consume the identical fit.

Corpus-scale distributed Lloyd k-means over the embeddings table, with
fixed unrolled rounds and deterministic hash-of-id seeding.
``_km_fit`` runs the fit (memoized per session and fixture directory);
``_km_ctes`` replays it in SQL for the oracles.

Scale posture: nothing driver-side grows with the corpus. The only
driver materializations are the k seed rows and the k×64 centroid
frame per round, so the fit lives here rather than in the collect-free
similarity module.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from python_etl_sample_spark.cache import cached_df, cached_value
from python_etl_sample_spark.functions.determinism import DEC, _d2
from python_etl_sample_spark.sources import table


_KM_K = 8
_KM_ROUNDS = 3
_KM_DIM = 64
#: Seeding hash — the same overflow-audited shape as the repo's other
#: multiplicative hashes: (key % p) * 2654435761 stays inside int64
#: because (p−1)·2654435761 < 2^63 (see operators/inference.py).
_KM_SEED_SQL = "((vec_id % 3221225473) * 2654435761) % 1000003"


def _km_dist_sql(a: str, b: str) -> str:
    """Squared L2 distance, index-ordered sum — the SQL twin of the
    Spark ``zip_with`` + left fold (both engines accumulate dim 0→63)."""
    return (
        f"(SELECT SUM(({a}[i+1] - {b}[i+1]) * ({a}[i+1] - {b}[i+1]))"
        f" FROM range({_KM_DIM}) t(i))"
    )


def _km_ctes() -> str:
    """WITH-body replaying the full Lloyd fit through ``fin``
    (vec_id → cid, dist) — shared by every oracle that consumes the
    deterministic clustering (``cluster_kmeans_lloyd`` itself and the
    cluster-pruned semantic dedup in operators/dedup.py)."""
    parts = [
        f"""
    v AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
      FROM embeddings
    ),
    seed AS (
      SELECT vec_id, emb FROM v ORDER BY {_KM_SEED_SQL}, vec_id LIMIT {_KM_K}
    ),
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY {_KM_SEED_SQL}, vec_id) - 1 AS cid,
             emb
      FROM seed
    )"""
    ]
    for r in range(1, _KM_ROUNDS + 1):
        parts.append(f"""
    d{r} AS (
      SELECT a.vec_id, a.emb, c.cid,
             round({_km_dist_sql('a.emb', 'c.emb')}, 9) AS dist
      FROM v a CROSS JOIN c{r - 1} c
    ),
    a{r} AS (
      SELECT vec_id, emb, cid, dist FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cid) AS rn
        FROM d{r}
      ) WHERE rn = 1
    ),
    c{r} AS (
      SELECT cid, array_agg(val ORDER BY dim) AS emb FROM (
        SELECT a.cid, t.i AS dim,
               CAST(SUM(CAST(a.emb[t.i + 1] AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*) AS val
        FROM a{r} a CROSS JOIN range({_KM_DIM}) t(i)
        GROUP BY a.cid, t.i
      ) GROUP BY cid
    )""")
    r = _KM_ROUNDS
    parts.append(f"""
    fin AS MATERIALIZED (
      -- MATERIALIZED (r14): fin is scanned repeatedly by the IVF
      -- consumers (csize/own/nr, probe joins); inlined it re-runs the
      -- whole Lloyd chain per reference
      SELECT a.vec_id, a.cid, a.dist FROM (
        SELECT v.vec_id, c.cid,
               round({_km_dist_sql('v.emb', 'c.emb')}, 9) AS dist,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY round({_km_dist_sql('v.emb', 'c.emb')}, 9),
                                           c.cid) AS rn
        FROM v CROSS JOIN c{r} c
      ) a WHERE rn = 1
    )""")
    return ",".join(parts)


def _km_centroid_literal(rows: list[tuple[int, list[float]]]) -> Column:
    """Array-of-structs literal of the current centroids — embedding
    the (constant-size) centroid frame in the plan makes assignment a
    pure map stage: per vector, transform over k centroids + array_min
    under the (dist, cid) struct order. Collected doubles round-trip
    exactly (JVM double → Python float → literal double)."""
    return F.array(
        *[
            F.struct(
                F.lit(cid).alias("cid"),
                F.array(*[F.lit(float(x)) for x in emb]).alias("emb"),
            )
            for cid, emb in rows
        ]
    )


def _km_dists(cents: list[tuple[int, list[float]]]) -> Column:
    """Per vector (the ``emb`` column), the array of (dist, cid) structs
    over the centroids. Distance is the index-ordered left fold of
    (x−y)² (the exact twin of the oracle's range-indexed SUM), rounded
    at 9 dp; Spark's struct ordering IS the (distance, centroid-id)
    tie-break the oracle's window uses, so ``array_min`` picks the
    nearest centroid and ``array_sort`` gives the probe order."""
    return F.transform(
        _km_centroid_literal(cents),
        lambda c: F.struct(
            F.round(_d2(F.col("emb"), c["emb"]), 9).alias("dist"),
            c["cid"].alias("cid"),
        ),
    )


def _km_assign(vecs: DataFrame, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """(vec_id, emb, cid, dist): nearest centroid per vector, map-only."""
    best = F.array_min(_km_dists(cents))
    return vecs.select(
        "vec_id", "emb", best["cid"].alias("cid"), best["dist"].alias("dist")
    )


def _km_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding frame the fit runs on. Repartition after the
    scan: the fixture table is a single parquet file (one input
    split); without this every assignment map and update explode runs
    on ONE task. Decimal centroid sums are order-independent, so the
    repartition cannot move the result."""
    return (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .repartition(32)
    )


def _km_fit(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Run the deterministic Lloyd fit; return the final assignment
    frame (vec_id, emb, cid, dist) and the final centroids. The only
    driver-side materializations are the k seed rows and the k×64
    centroid frame per round — constant in corpus size.

    Memoized per (session, sf_dir) via functions of the cache module
    (VERDICT r7 item 3): five queries consume this identical
    deterministic fit (cluster_kmeans_lloyd, dedup_semantic_cluster,
    cluster_silhouette, dedup_semantic_recall, embedding_knn_outlier's
    family), and the fit is a pure function of the table, so the memo
    is contract-legal — each callable still works standalone in a
    fresh session (clean cache miss re-runs the fit)."""
    key = os.path.abspath(sf_dir)

    def fit_cents() -> list[tuple[int, list[float]]]:
        vecs = _km_vecs(spark, sf_dir)
        hkey = ((F.col("vec_id") % 3221225473) * 2654435761) % 1000003
        seed_rows = (
            vecs.orderBy(hkey.asc(), F.col("vec_id").asc())
            .limit(_KM_K)
            .collect()
        )
        # constant-size (k rows) driver materialization; cid = position
        # in the (hash, id) order, exactly the oracle's window
        cents = [(i, list(r["emb"])) for i, r in enumerate(seed_rows)]
        for _ in range(_KM_ROUNDS):
            assigned = _km_assign(vecs, cents)
            upd = (
                assigned.select(
                    "cid", F.posexplode("emb").alias("dim", "x")
                )
                .groupBy("cid", "dim")
                .agg(
                    (
                        F.sum(F.col("x").cast(DEC)).cast("double")
                        / F.count(F.lit(1))
                    ).alias("val")
                )
                .groupBy("cid")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("dim", "val"))),
                        lambda s: s["val"],
                    ).alias("emb")
                )
                .collect()  # k×64 doubles — constant in corpus size
            )
            cents = sorted((r["cid"], list(r["emb"])) for r in upd)
        return cents

    cents = cached_value(spark, ("km_fit_cents", key), fit_cents)
    assigned = cached_df(
        spark,
        ("km_fit_assigned", key),
        lambda: _km_assign(_km_vecs(spark, sf_dir), cents),
    )
    return assigned, cents
