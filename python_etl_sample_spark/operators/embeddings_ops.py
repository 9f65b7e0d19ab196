"""Embedding-column transforms round 4: int8 quantization and
matryoshka truncation energy — the storage/bandwidth levers of a
100 TB vector corpus.

Both are map-only JVM plans: higher-order array functions
(``transform`` / ``aggregate`` / ``slice``) run inside whole-stage
codegen over the ``array<float>`` column — no Python workers, no
shuffle except the final small per-label rollup.

Determinism rules for float arrays (shared with
embeddings_class_separation): element arithmetic (cast float→double,
multiply, abs, divide by a scalar) is bitwise-identical across engines;
any SUM over elements or rows goes through decimal(28,6); any emitted
ratio is computed in double from those exact sums and rounded to 6 dp;
int8 codes use explicit TRUNCATION (Spark's double→int cast semantics,
``trunc()`` spelled out in the oracle) because the engines' ROUND
conventions differ at half-way points but their trunc cannot.

- ``embedding_pca_power``: top-principal-component diagnostics of the
  embedding space (anisotropy / dominant-direction analysis) via an
  exact decimal-summed covariance matrix and a fixed-iteration power
  method over the constant-size 64×64 matrix. Covariance entries are
  decimal sums of per-row 12-dp rounded products; the power iteration
  runs on the driver over the CONSTANT-SIZE matrix with every
  intermediate rounded at 12 dp, and the oracle unrolls the identical
  iterations in SQL.

- ``embedding_knn_outlier``: mean cosine distance to the 5 nearest
  neighbors, top-50 most isolated vectors — the kNN-distance outlier
  score corpus curation uses to surface mis-embedded / off-manifold
  documents before they poison clustering and dedup.

- ``embedding_binary_hamming``: sign-quantized binary embeddings
  (64 dims → two 32-bit words) with exact Hamming top-5 per probe —
  the 64×-compression retrieval tier used when float vectors are too
  big to shuffle.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_sample_spark.functions.determinism import DEC, dsum_sql
from python_etl_sample_spark.operators.similarity import (
    _dot,
    _dot_sql,
    _self_grid,
    _unpack,
)
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table


@query(
    "embedding_int8_quantize",
    oracle="""
    WITH q AS (
      SELECT vec_id, label,
             nullif(list_max(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE)))), 0.0) / 127.0 AS scale
      FROM embeddings
    ), codes AS (
      SELECT e.vec_id, e.label, q.scale,
             list_transform(e.embedding,
                 x -> CAST(trunc(CAST(x AS DOUBLE) / q.scale) AS BIGINT)) AS code
      FROM embeddings e JOIN q ON e.vec_id = q.vec_id
    )
    SELECT vec_id, label,
           CAST(list_sum(code) AS BIGINT) AS code_sum,
           CAST(list_max(list_transform(code, c -> abs(c))) AS BIGINT)
             AS code_max_abs
    FROM codes
    """,
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x|/127, code
    = trunc(x/scale) ∈ [-127, 127] — the standard 4× compression for
    ANN serving tiers. Emits integer per-vector summaries (code sum and
    max |code|) that pin the whole code vector's correctness.

    Plan: pure map — two higher-order array passes (max-abs, then the
    quantize transform) fused into the scan's codegen stage. At 100 TB
    this runs at I/O speed; codes would be written back as
    array<tinyint> for a 4× footprint cut. Truncation (not rounding) is
    deliberate: both engines truncate identically, and the ≤0.5-code
    accuracy cost is irrelevant next to cross-engine half-way-rounding
    divergence."""
    e = table(spark, sf_dir, "embeddings")
    xd = lambda x: x.cast("double")  # noqa: E731
    max_abs = F.array_max(F.transform("embedding", lambda x: F.abs(xd(x))))
    # nullif guards the all-zero vector: 0/0 would be NaN, and Spark's
    # non-ANSI NaN→bigint cast (0) diverges from DuckDB's error. With a
    # NULL scale both engines emit NULL codes identically.
    scale = F.nullif(max_abs, F.lit(0.0)) / 127.0
    code = F.transform("embedding", lambda x: (xd(x) / scale).cast("bigint"))
    return e.select(
        "vec_id",
        "label",
        F.aggregate(code, F.lit(0).cast("bigint"), lambda a, c: a + c).alias(
            "code_sum"
        ),
        F.array_max(F.transform(code, lambda c: F.abs(c))).alias("code_max_abs"),
    )


@query(
    "embedding_matryoshka_energy",
    oracle=f"""
    WITH e AS (
      SELECT label,
             CAST(list_sum(list_transform(embedding,
                  x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                       AS DECIMAL(28,6)))) AS DECIMAL(28,6)) AS e64,
             CAST(list_sum(list_transform(embedding[1:16],
                  x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                       AS DECIMAL(28,6)))) AS DECIMAL(28,6)) AS e16
      FROM embeddings
    )
    SELECT label, COUNT(*) AS n_vecs,
           ROUND(CAST(SUM(e16) AS DOUBLE) / CAST(SUM(e64) AS DOUBLE), 6)
             AS retained_energy_16
    FROM e GROUP BY label
    """,
)
def embedding_matryoshka_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation check: the fraction of L2 energy the first
    16 of 64 dimensions retain, per label — the number that decides
    whether a cheap 16-dim prefix index is good enough for first-stage
    retrieval (matryoshka representation learning's core claim).

    Element squares are bit-identical doubles cast to decimal(28,6), so
    every sum (within a vector AND across vectors) is exact and
    order-free; one double division at the end, rounded. Plan: map-side
    per-vector energies, one tiny groupBy(label) rollup — the 100 TB
    cost is the scan."""
    e = table(spark, sf_dir, "embeddings")
    sq_dec = lambda x: (x.cast("double") * x.cast("double")).cast(DEC)  # noqa: E731
    zero = F.lit(0).cast(DEC)
    # re-cast each partial sum: Spark widens decimal(28,6)+decimal(28,6)
    # to (29,6), which would no longer match the accumulator's type
    add_dec = lambda a, x: (a + x).cast(DEC)  # noqa: E731
    e64 = F.aggregate(F.transform("embedding", sq_dec), zero, add_dec)
    e16 = F.aggregate(
        F.transform(F.slice("embedding", 1, 16), sq_dec), zero, add_dec
    )
    per_vec = e.select("label", e64.alias("e64"), e16.alias("e16"))
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            F.sum("e16").cast("double") / F.sum("e64").cast("double"), 6
        ).alias("retained_energy_16"),
    )


#: Matryoshka truncation depths (embedding dim is 64 across fixtures)
_MATRYOSHKA_KS = (8, 16, 32)


def _slice_dot_sql(k: int) -> str:
    return (
        f"(SELECT SUM(embedding[i+1]::DOUBLE * embedding[i+1]::DOUBLE)"
        f" FROM range({k}) t(i))"
    )


@query(
    "embedding_matryoshka_quality",
    oracle=f"""
    WITH per_vec AS (
      SELECT label,
             {_slice_dot_sql(64)} AS dotf,
             {_slice_dot_sql(8)} AS dot8,
             {_slice_dot_sql(16)} AS dot16,
             {_slice_dot_sql(32)} AS dot32
      FROM embeddings
    ),
    r AS (
      SELECT label,
             round(sqrt(dot8 / nullif(dotf, 0)), 9) AS r8,
             round(sqrt(dot16 / nullif(dotf, 0)), 9) AS r16,
             round(sqrt(dot32 / nullif(dotf, 0)), 9) AS r32
      FROM per_vec
    )
    SELECT label,
           COUNT(*) AS n_vectors,
           COUNT(r8) AS n_scored,
           round(CAST(SUM(CAST(r8 AS DECIMAL(28,9))) AS DOUBLE)
                 / COUNT(r8), 6) AS avg_retention_8,
           round(CAST(SUM(CAST(r16 AS DECIMAL(28,9))) AS DOUBLE)
                 / COUNT(r16), 6) AS avg_retention_16,
           round(CAST(SUM(CAST(r32 AS DECIMAL(28,9))) AS DOUBLE)
                 / COUNT(r32), 6) AS avg_retention_32
    FROM r GROUP BY label
    """,
)
def embedding_matryoshka_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation quality: how much of each embedding's norm
    survives truncation to the first k ∈ {8, 16, 32} of 64 dims —
    ‖v[:k]‖ / ‖v‖, the norm-retention statistic behind
    Matryoshka-representation rollouts (truncate stored vectors to cut
    ANN index cost; ship only if retention stays high per label).

    Parity: the sliced self-dots are index-ordered folds mirrored
    textually (same convention the similarity tier verified); retention
    is one mirrored divide + sqrt rounded to 9 dp per vector BEFORE the
    per-label mean, which routes through DECIMAL(28,9) so the sum is
    association-free; zero vectors yield NULL retention via nullif (the
    embedding_int8_quantize lesson) and drop out of COUNT/AVG on both
    engines identically. Scale: map-side per-vector arithmetic + one
    partial-agg shuffle on the tiny label key."""
    e = table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    dotf = _dot(v, v)
    cols = [F.col("label")]
    for k in _MATRYOSHKA_KS:
        vk = F.slice(v, 1, k)
        cols.append(
            F.round(
                F.sqrt(_dot(vk, vk) / F.nullif(dotf, F.lit(0.0))), 9
            ).alias(f"r{k}")
        )
    r = e.select(*cols)
    aggs = [
        F.count(F.lit(1)).alias("n_vectors"),
        F.count("r8").alias("n_scored"),
    ]
    for k in _MATRYOSHKA_KS:
        aggs.append(
            F.round(
                F.sum(F.col(f"r{k}").cast("decimal(28,9)")).cast("double")
                / F.count(f"r{k}"),
                6,
            ).alias(f"avg_retention_{k}")
        )
    return r.groupBy("label").agg(*aggs)


_DIM = 64
#: covariance accumulator — integral decimal wide enough past int64
_ACC = "decimal(38,0)"


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


# ---------------------------------------------------------------------------
# embedding_knn_outlier
# ---------------------------------------------------------------------------

_KNN_K = 5
_OUT_TOPK = 50


@query(
    "embedding_knn_outlier",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding,
             sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
      FROM embeddings
    ),
    p AS (
      SELECT a.vec_id,
             round({_dot_sql('a.embedding', 'b.embedding')}
                   / (a.nrm * b.nrm), 9) AS sim,
             b.vec_id AS other_id
      FROM v a JOIN v b ON a.vec_id <> b.vec_id
    ),
    t AS (
      SELECT vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, other_id) AS rn
      FROM p
    ),
    k AS (
      SELECT vec_id,
             round(1.0 - CAST(SUM(CAST(sim AS DECIMAL(28,12))) AS DOUBLE)
                         / COUNT(*), 6) AS knn_mean_dist
      FROM t WHERE rn <= {_KNN_K} GROUP BY vec_id
    )
    SELECT vec_id, knn_mean_dist, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY knn_mean_dist DESC, vec_id)
                    AS rnk
          FROM k)
    WHERE rnk <= {_OUT_TOPK}
    """,
)
def embedding_knn_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-distance outlier score over the embedding corpus: for each
    vector, the mean cosine distance to its 5 nearest neighbors; the
    top-50 most isolated vectors are reported. The standard
    density-based outlier screen a curation pipeline runs on
    embeddings — off-manifold vectors (encoding failures, garbage
    docs, adversarial content) have no close neighbors and float to
    the top, BEFORE they distort k-means centroids or semantic-dedup
    thresholds.

    Plan: the same block-partitioned GEMM grid as the exact cosine
    family (similarity.py — one shuffle to pack blocks, the nb² cell
    grid via equi-join, NumPy GEMM per cell, no cartesian): each cell
    emits its per-vector top-5 block-local sims (k·nb rows per
    vector, constant), and one groupBy merges block-local top-5s into
    the global top-5 — valid because the global top-k is contained in
    the union of per-block top-ks. At 100 TB the ANN tier
    (sim_ann_lsh / IVF) replaces the exact grid; this operator is the
    exact reference the ANN recall is measured against.

    Determinism: sims are 9-dp-rounded doubles from index-ordered
    dot products; the top-5 MEAN is tie-independent (boundary ties
    share the same sim value, so the sum over any 5 tied choices is
    equal); the final rank breaks ties on vec_id."""
    import numpy as np
    import pandas as pd

    grid = _self_grid(spark, sf_dir)
    k = _KNN_K

    def block_topk(batches):
        for pdf in batches:
            for qcell, ccell in zip(pdf["qrows"], pdf["crows"]):
                q_ids, q_mat, q_norms = _unpack(qcell)
                c_ids, c_mat, c_norms = _unpack(ccell)
                sims = np.round(
                    (q_mat @ c_mat.T) / np.outer(q_norms, c_norms), 9
                )
                sims[q_ids[:, None] == c_ids[None, :]] = -2.0  # mask self
                kk = min(k, sims.shape[1])
                idx = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
                rows = np.repeat(q_ids, kk)
                vals = np.take_along_axis(sims, idx, axis=1).ravel()
                keep = vals > -2.0
                if keep.any():
                    yield pd.DataFrame(
                        {"vec_id": rows[keep], "sim": vals[keep]}
                    )

    block_hits = grid.mapInPandas(block_topk, "vec_id bigint, sim double")
    topk = block_hits.groupBy("vec_id").agg(
        F.slice(
            F.sort_array(F.collect_list("sim"), asc=False), 1, k
        ).alias("top")
    )
    scored = topk.select(
        "vec_id",
        F.round(
            1.0
            - F.aggregate(
                F.col("top"),
                F.lit(0).cast("decimal(28,12)"),
                lambda acc, x: (acc + x.cast("decimal(28,12)")).cast(
                    "decimal(28,12)"
                ),
            ).cast("double")
            / F.size("top"),
            6,
        ).alias("knn_mean_dist"),
    )
    top = scored.orderBy(
        F.desc("knn_mean_dist"), F.asc("vec_id")
    ).limit(_OUT_TOPK)
    # bounded-window: ranking the LIMIT-50 frame (query constant).
    w = Window.orderBy(F.desc("knn_mean_dist"), F.asc("vec_id"))
    return top.select(
        "vec_id",
        "knn_mean_dist",
        F.row_number().over(w).cast("long").alias("rnk"),
    )


# ---------------------------------------------------------------------------
# embedding_binary_hamming
# ---------------------------------------------------------------------------

_BH_PROBES = 10
_BH_TOPK = 5


def _sig_sql(alias: str, lo: int, hi: int) -> str:
    """SQL for the sign-bit word over dims [lo, hi) of an embedding."""
    return (
        f"(SELECT SUM(CASE WHEN {alias}.embedding[i + 1] > 0"
        f" THEN (1::BIGINT << (i - {lo})) ELSE 0 END)"
        f" FROM range({lo}, {hi}) t(i))"
    )


@query(
    "embedding_binary_hamming",
    oracle=f"""
    WITH sig AS (
      SELECT v.vec_id,
             COALESCE({_sig_sql('v', 0, 32)}, 0) AS w1,
             COALESCE({_sig_sql('v', 32, 64)}, 0) AS w2
      FROM embeddings v
    ),
    probes AS (SELECT * FROM sig ORDER BY vec_id LIMIT {_BH_PROBES}),
    cand AS (
      SELECT p.vec_id AS probe_id, s.vec_id AS neighbor_id,
             bit_count(xor(p.w1, s.w1))
             + bit_count(xor(p.w2, s.w2)) AS hamming
      FROM probes p JOIN sig s ON s.vec_id <> p.vec_id
    )
    SELECT probe_id, neighbor_id, CAST(hamming AS BIGINT) AS hamming,
           CAST(rn AS BIGINT) AS rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                       ORDER BY hamming, neighbor_id) AS rn
          FROM cand)
    WHERE rn <= {_BH_TOPK}
    """,
)
def embedding_binary_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-embedding retrieval: sign-quantize each 64-dim embedding
    into two 32-bit sign words (bit i set iff dim i > 0 — 64×
    compression of the float vector), then exact Hamming-distance
    top-5 neighbors for the first 10 probe vectors. The
    coarse-quantization tier real vector stacks deploy when float
    vectors are too large to move: Hamming on sign bits approximates
    angular distance (Charikar's hyperplane bound), costs two XOR +
    popcounts per comparison, and shuffles 16 bytes per vector
    instead of 512.

    Scale: signature construction is map-only (an integer fold over
    the vector); the probe side is a constant 10-row broadcast, so
    the scan streams once with no pairwise blow-up beyond probes ×
    corpus — and at 100 TB the signatures themselves become the
    compact index the ANN tiers bucket on.

    Determinism: signatures and Hamming distances are exact integers;
    ties rank by neighbor id."""
    v = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )

    def word(lo: int, hi: int):
        return F.aggregate(
            F.sequence(F.lit(lo), F.lit(hi - 1)),
            F.lit(0).cast("long"),
            lambda acc, i: acc
            + F.when(
                F.element_at(F.col("emb"), (i + 1).cast("int")) > 0,
                # 2^(i-lo) ≤ 2^31 is exact in double -> exact long
                F.pow(F.lit(2.0), i - lo).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )

    sig = v.select(
        "vec_id", word(0, 32).alias("w1"), word(32, 64).alias("w2")
    )
    probes = sig.orderBy("vec_id").limit(_BH_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("w1").alias("p1"),
        F.col("w2").alias("p2"),
    )
    cand = sig.crossJoin(F.broadcast(probes)).filter(
        F.col("vec_id") != F.col("probe_id")
    )
    hamming = F.bit_count(
        F.col("p1").bitwiseXOR(F.col("w1"))
    ) + F.bit_count(F.col("p2").bitwiseXOR(F.col("w2")))
    w = Window.partitionBy("probe_id").orderBy("hamming", "neighbor_id")
    return (
        cand.select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            hamming.cast("long").alias("hamming"),
        )
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _BH_TOPK)
    )
