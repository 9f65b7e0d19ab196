"""Round-7 batch 2 — embedding-space curation operators on top of the
deterministic k-means fit (round7_ops):

- ``dedup_semantic_cluster``: cluster-pruned semantic dedup — the
  100 TB route for embedding near-dup detection: cosine pairs are only
  computed WITHIN a k-means cluster, shrinking the pair space from
  O(n²) to Σ|cluster|² while the deterministic fit keeps the result
  exactly replayable (full DuckDB oracle — unlike the LSH tiers, this
  prune is hash-checkable because the clustering itself is).
- ``embedding_pca_power``: top-principal-component diagnostics of the
  embedding space (anisotropy / dominant-direction analysis) via an
  exact decimal-summed covariance matrix and a fixed-iteration power
  method over the constant-size 64×64 matrix.

Determinism: covariance entries are decimal sums of per-row 12-dp
rounded products; the power iteration runs on the driver over the
CONSTANT-SIZE matrix with every intermediate rounded at 12 dp, and the
oracle unrolls the identical iterations in SQL; cosine similarities are
the block-proven dot/norm formulation of operators/similarity.py
rounded at 9 dp.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_etl_sample_spark.functions.determinism import DEC, dsum_sql
from python_etl_sample_spark.operators.round7_ops import _km_ctes, _km_fit
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table

_DIM = 64
#: covariance accumulator — integral decimal wide enough past int64
_ACC = "decimal(38,0)"
_COS_T = "0.45"  # same semantic-dup threshold as dedup_embedding_cosine
# bit-identical to the older SUM-over-range(64) form but per-row
# vectorized — sf1 within-cluster all-pairs tractability
# (similarity.py note)
_DOT = "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"


# ---------------------------------------------------------------------------
# dedup_semantic_cluster
# ---------------------------------------------------------------------------

@query(
    "dedup_semantic_cluster",
    oracle=f"""
    WITH {_km_ctes()},
    emb AS (
      SELECT f.vec_id, f.cid, v.emb,
             sqrt({_DOT.format(a='v.emb', b='v.emb')}) AS nrm
      FROM fin f JOIN v ON v.vec_id = f.vec_id
    )
    SELECT a.cid, a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({_DOT.format(a='a.emb', b='b.emb')} / (a.nrm * b.nrm), 9) AS sim
    FROM emb a JOIN emb b ON a.cid = b.cid AND a.vec_id < b.vec_id
    WHERE round({_DOT.format(a='a.emb', b='b.emb')} / (a.nrm * b.nrm), 9)
          >= {_COS_T}
    """,
    tags=("memo",),
)
def dedup_semantic_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-pruned semantic dedup: cosine near-dup pairs (sim ≥
    0.45, the dedup_embedding_cosine threshold) computed ONLY within a
    k-means cluster of the deterministic Lloyd fit (round7_ops._km_fit)
    — the semantic-dedup shape that survives 100 TB: candidate pairs
    shrink from O(n²) to Σ|cluster|², and because the clustering is
    exactly replayable the prune itself is hash-checked against the
    oracle (the LSH/ANN tiers can't make that claim; this operator and
    dedup_embedding_ann bracket them from both sides).

    Recall note (honest by construction): a cross-cluster near-dup pair
    is invisible here — that is the deliberate trade every clustered
    semantic dedup makes; k scales with the corpus so cluster diameter,
    not corpus size, bounds the miss rate.

    Scale: the pair join is an equi-join on cid (shuffle, never
    cartesian); per-cluster pair fan-out is the skew risk — AQE
    skew-split handles moderate cases, and at 100 TB k is raised so
    clusters stay task-sized. Cosine = the similarity.py dot/norm
    formulation (float32 products are exact in double), rounded 9 dp.

    Warm-up tag ``memo``: reads the memoized Lloyd fit."""
    assigned, _ = _km_fit(spark, sf_dir)
    nrm = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("emb"), F.col("emb"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    e = assigned.select("cid", "vec_id", "emb", nrm.alias("nrm"))
    a = e.select(
        "cid",
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = e.select(
        "cid",
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("emb_a"), F.col("emb_b"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sim = F.round(dot / (F.col("nrm_a") * F.col("nrm_b")), 9)
    return (
        a.join(b, "cid")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("sim", sim)
        .filter(F.col("sim") >= float(_COS_T))
        .select("cid", "vec_a", "vec_b", "sim")
    )


# ---------------------------------------------------------------------------
# embedding_pca_power
# ---------------------------------------------------------------------------

_PCA_ITERS = 8


def _rhu(v: float, nd: int) -> float:
    """HALF_UP decimal rounding of a double via its shortest repr —
    bit-identical to Spark's F.round and DuckDB's round (Python's
    built-in round is HALF_EVEN and diverges on exact ties)."""
    q = Decimal(1).scaleb(-nd)
    return float(Decimal(repr(v)).quantize(q, rounding=ROUND_HALF_UP))


def _r12(v: float) -> float:
    return _rhu(v, 12)


def _pca_oracle() -> str:
    """Covariance (decimal-summed 12-dp products) + unrolled power
    iteration over the 64×64 matrix, every intermediate rounded at
    12 dp — the same bounded-rounds replay pattern as the k-means and
    LPA oracles, applied to a CONSTANT-size iteration."""
    parts = [
        f"""
    x AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, e -> e::DOUBLE) AS emb
      FROM embeddings
    ),
    n AS (SELECT COUNT(*) AS n FROM x),
    mu AS MATERIALIZED (
      SELECT t.i AS d,
             round({dsum_sql('emb[t.i + 1]')} / (SELECT n FROM n), 12) AS m
      FROM x CROSS JOIN range({_DIM}) t(i)
      GROUP BY t.i
    ),
    cov AS MATERIALIZED (
      SELECT i.i AS ri, j.i AS cj,
             round((CAST(SUM(CAST(round(
                      (x.emb[i.i+1] - mi.m) * (x.emb[j.i+1] - mj.m) * 1e12,
                      0) AS BIGINT)) AS DOUBLE) / 1e12)
                   / (SELECT n FROM n), 12) AS c
      FROM x
      CROSS JOIN range({_DIM}) i(i)
      CROSS JOIN range({_DIM}) j(i)
      JOIN mu mi ON mi.d = i.i
      JOIN mu mj ON mj.d = j.i
      GROUP BY i.i, j.i
    ),
    v0 AS (
      SELECT i.i AS d, round(1.0 / sqrt({_DIM}.0), 12) AS v
      FROM range({_DIM}) i(i)
    )"""
    ]
    for t in range(1, _PCA_ITERS + 1):
        parts.append(f"""
    w{t} AS MATERIALIZED (
      SELECT cov.ri AS d,
             round(SUM(cov.c * v.v ORDER BY cov.cj), 12) AS w
      FROM cov JOIN v{t - 1} v ON v.d = cov.cj
      GROUP BY cov.ri
    ),
    s{t} AS (
      SELECT round(sqrt(SUM(w * w ORDER BY d)), 12) AS s FROM w{t}
    ),
    v{t} AS MATERIALIZED (
      SELECT d, round(w / (SELECT s FROM s{t}), 12) AS v FROM w{t}
    )""")
    t = _PCA_ITERS
    return f"""WITH {",".join(parts)},
    lam AS (
      -- Rayleigh quotient of the final iterate: λ = vᵀCv = vᵀw·s
      SELECT round(SUM(v.v * w.w ORDER BY v.d), 12) AS l
      FROM v{t - 1} v JOIN w{t} w ON w.d = v.d
    ),
    tr AS (
      SELECT round(SUM(c ORDER BY ri), 12) AS tr FROM cov WHERE ri = cj
    ),
    dom AS (
      SELECT d, v FROM v{t} ORDER BY abs(v) DESC, d LIMIT 1
    )
    SELECT (SELECT n FROM n) AS n_vecs,
           round((SELECT l FROM lam), 6) AS lambda1,
           round((SELECT l FROM lam) / (SELECT tr FROM tr), 6) AS evr1,
           (SELECT CAST(d AS INT) FROM dom) AS dominant_dim,
           round(abs((SELECT v FROM dom)), 6) AS dominant_loading"""


@query("embedding_pca_power", oracle=_pca_oracle())
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-principal-component diagnostics of the embedding space: the
    8-step power iterate of the exact covariance matrix, its Rayleigh
    quotient λ₁, the explained-variance ratio λ₁/trace(C) (the standard
    anisotropy measure — embedding spaces with one dominant direction
    retrieve poorly), and the dominant dimension of the component.

    The OUTPUT is defined as the fixed-8-iteration power iterate (not
    "the eigenvector"), so it is a deterministic pure function of the
    corpus that both engines replay exactly: covariance entries are
    decimal sums of per-row 12-dp-rounded centered products divided by
    n; each iteration's matrix-vector product, norm, and normalized
    vector are rounded at 12 dp (the oracle unrolls the same 8 steps;
    SUMs carry ORDER BY so both engines fold in index order).

    Scale: one (dim_i, dim_j) shuffle carrying 64×64 decimal partial
    sums per task (combiner-reduced — the map side emits at most 4 096
    accumulators regardless of row count); the power iteration runs on
    the driver over the CONSTANT-SIZE 4 096-entry matrix — the same
    bounded-materialization class as the k-means centroid frame. At
    100 TB: one scan, one 4 096-group aggregate, O(1) driver work."""
    # repartition after the scan: the fixture table is one parquet file
    # (one input split), and without this the 64×64 expansion below runs
    # on a SINGLE task — measured 17 s → ~1 s at sf0.1 on local[32]; on
    # a real cluster the same line spreads the expansion over executors
    # persist (r14): the mean pass and the covariance pass both read
    # this frame — one scan + repartition instead of two
    x = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .repartition(32)
        .persist()
    )

    # per-dimension means AND the row count in one pass: exact decimal
    # sums / per-dim counts (each dim appears once per row), 12 dp
    mu_rows = (
        x.select(F.posexplode("emb").alias("d", "val"))
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("val").cast(DEC)).cast("double").alias("s"),
        )
        .collect()
    )
    n = mu_rows[0]["cnt"]
    mu = [0.0] * _DIM
    for r in mu_rows:
        # HALF_UP at 12 dp exactly as both engines' round(x, 12) —
        # Python's round() is HALF_EVEN and diverges on ties
        mu[r["d"]] = _r12(r["s"] / n)
    mu_lit = F.array(*[F.lit(m) for m in mu])

    # covariance: explode (i, j); each product is scaled by 1e12 and
    # HALF_UP-rounded to an EXACT integer (one IEEE multiply chain on
    # identical operands in both engines), so the per-cell reduction is
    # an integer sum — order-independent like the decimal path but on
    # the fast long/decimal-int aggregate. 38-digit accumulator keeps
    # it exact past int64 row counts; 4 096 groups, combiner-reduced.
    centered = x.select(
        F.zip_with(F.col("emb"), mu_lit, lambda e, m: e - m).alias("c")
    )
    cells = centered.select(
        F.posexplode("c").alias("i", "xi"), F.col("c")
    ).select(
        "i", "xi", F.posexplode("c").alias("j", "xj")
    )
    si = F.round(F.col("xi") * F.col("xj") * 1e12, 0).cast(_ACC)
    cov_rows = (
        cells.groupBy("i", "j")
        .agg(
            F.round(
                (F.sum(si).cast("double") / 1e12) / n,
                12,
            ).alias("c")
        )
        .collect()  # 4 096 doubles — constant in corpus size
    )
    C = [[0.0] * _DIM for _ in range(_DIM)]
    for r in cov_rows:
        C[r["i"]][r["j"]] = r["c"]

    # fixed-iteration power method, every intermediate HALF_UP-rounded
    # at 12 dp in the same index order as the oracle's ORDER BY sums
    v = [_r12(1.0 / math.sqrt(float(_DIM)))] * _DIM
    lam = 0.0
    for _ in range(_PCA_ITERS):
        w = [_r12(sum(C[i][j] * v[j] for j in range(_DIM))) for i in range(_DIM)]
        lam = _r12(sum(v[d] * w[d] for d in range(_DIM)))
        s = _r12(math.sqrt(sum(wi * wi for wi in w)))
        v = [_r12(wi / s) for wi in w]
    trace = _r12(sum(C[d][d] for d in range(_DIM)))
    dom = max(range(_DIM), key=lambda d: (abs(v[d]), -d))

    return spark.range(1).select(
        F.lit(n).alias("n_vecs"),
        F.lit(_rhu(lam, 6)).alias("lambda1"),
        F.lit(_rhu(lam / trace, 6)).alias("evr1"),
        F.lit(dom).alias("dominant_dim"),
        F.lit(_rhu(abs(v[dom]), 6)).alias("dominant_loading"),
    )
