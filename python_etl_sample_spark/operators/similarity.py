"""Similarity search over embeddings — SURVEY.md §2.10 ops #60-62
plus IVF and ANN-bucketed-dedup variants.

Scale posture: #60/#61 and the thresholded dedup are the exact
baselines, computed as **block-partitioned distributed GEMM** — both
sides are grouped into a _NB-wide block grid, the grid is expanded by
an equi join on block id (a shuffle join, never a cartesian), and each
(q-block, c-block) pair runs one BLAS block inside an Arrow batch.
Only local top-k / thresholded rows leave the task, and **nothing is
ever collected to the driver** — at 100 TB the same plan holds with
_NB sized so one block fits a task (the grid join shuffles each side
_NB times; compute, not shuffle, dominates at any scale because the
pair space is quadratic while the shuffle is linear·_NB).
#62 (random-hyperplane LSH), sim_ann_ivf (KMeans inverted lists) and
dedup_embedding_ann (LSH pre-bucketing + exact re-check) are the
at-scale ANN families: candidates come from bucket/centroid equality,
so the O(n²) pair space never materializes.

Determinism: sims are float64 GEMM results rounded to 9 dp with id
tie-breaks applied in every local AND global selection (a local top-k
taken under any other order can drop boundary ties the oracle keeps);
the DuckDB oracle computes index-order dot products whose ≤1-ulp
difference from BLAS accumulation vanishes at 9 dp (verified at
sf0.001/sf0.01 — the grading scale).

MMR diversified re-ranking (``sim_mmr_rerank``) is the RAG retrieval
operator plain top-k similarity can't express. Its similarity values
follow the embedding-oracle idiom above (index-ordered double fold),
and its greedy argmax steps are unrolled with a (score DESC, vec_id
ASC) tie-break so both engines pick identical items.

- ``cluster_kmeans_lloyd``: corpus-scale distributed Lloyd k-means
  over the embeddings table, fixed unrolled rounds with deterministic
  hash-of-id seeding — removes the "sampled-only" clustering
  limitation of the IVF quantizer (similarity.py: bounded 512-vector
  Lloyd sample) and feeds semantic-dedup / domain-mixing curation.

- ``cluster_silhouette``: simplified-silhouette quality report of the
  deterministic Lloyd k-means clustering (cluster_kmeans_lloyd) — the
  standard "are these clusters real" diagnostic a curation pipeline
  runs before trusting semantic-dedup / domain-mixing cluster labels.

Determinism: silhouettes are 9-dp-rounded ratios of 9-dp-rounded
square roots, decimal-summed.

- ``sim_rrf_fusion``: reciprocal-rank fusion (Cormack et al. 2009,
  k=60) of the BM25 relevance ranking with a document-length prior —
  the standard hybrid-retrieval combiner every RAG stack uses to
  merge lexical and secondary rankings without score calibration.

Determinism: RRF terms are single divisions of exact integer ranks
rounded at 9 dp and decimal-summed.

- ``sim_more_like_this``: lexical document similarity — TF-IDF cosine
  top-5 per probe document through the inverted index with a
  document-frequency cap, the "more like this" query every search
  stack ships.

Product quantization, fully hash-checkable by construction:

- ``sim_pq_adc``: product-quantization ANN with asymmetric distance
  computation — the canonical billion-scale vector-compression pattern
  (Jégou et al., PQ) missing next to the LSH / IVF tiers. The two
  engine-specific pieces that force sim_ann_lsh/sim_ann_ivf to be
  rows-only are replaced by deterministic constructions: the codebook
  is the subvectors of the 16 lowest-``vec_id`` corpus rows (the
  sample-as-codebook move, same class as the IVF quantizer's bounded
  sample), and every distance is 9-dp-rounded then scaled to an exact
  BIGINT before any argmin / ordering decision — so the WHOLE
  approximate tier (codebook, codes, lookup tables, ADC scan, top-k)
  replays in DuckDB and lands as a driver hash row. PQ is thereby the
  first ANN family here whose *output* (not just its recall) is
  oracle-checked.

- ``sim_pq_ivf_adc``: the IVFADC composition — the deterministic
  Lloyd quantizer's inverted lists (_km_fit, already
  SQL-replayed by five other queries) bound the candidate set, the PQ
  ADC scan ranks the survivors. FAISS's IndexIVFPQ, the standard
  billion-scale ANN layout, hash-checked end to end.

Scale postures are documented per query; none plans a cartesian
(PLANS.md regenerates over the full surface) and none collects
anything data-sized to the driver.

``sim_ivf_nprobe_sweep``: the IVF tuning sweep.

dedup_minhash_param_sweep (dedup.py) made the LSH banding S-curve
driver-visible; this is the same move for the inverted-file ANN tier:
for nprobe ∈ {1, 2, 4, 8} over the deterministic 8-cell Lloyd
quantizer, the candidate volume the ADC scan would pay AND the
retention of the exhaustive PQ scan's top-5 — the two numbers whose
knee picks nprobe before a billion-vector search deploys (nprobe = k
is by construction the exhaustive scan itself: retention 1.0 at full
cost, the sweep's built-in sanity anchor).

The scale-defining trick: NOTHING is materialized per config. Candidate
counts are analytic — Σ over probed cells of |cell| minus the
self-exclusion — computed from the (query, cell, rank) frame joined to
the 8-row cell-size table; retention comes from ranking each exhaustive
top-5 neighbor's HOME cell within its query's probe order (covered at
nprobe ⇔ rank ≤ nprobe). The only corpus-sized work is the exhaustive
ADC ground truth this sweep measures against (the memoized PQ distance
frame, sim_pq_adc's plan).

Parity: cell assignment, probe order, ADC sums and ranks are all
9-dp-rounded-then-exact-integer decisions (the PQ/k-means conventions);
counts are exact; the two ratios are mirrored 6-dp divisions.

- ``sim_lsh_radius_sweep``: recall-vs-radius curve for the deployed
  LSH tables (the tuning companion to sim_ivf_nprobe_sweep on the IVF
  side), measured against the exact top-5.

- ``ann_recall_under_churn``: recall of the deployed LSH/IVF candidate
  rules over the exact top-5 truth pairs, split by a deterministic 10%
  churn class (every vec_id ≡ 0 mod 10 deleted and re-ingested). Both
  deployed families place an entry as a pure function of its VECTOR
  (LSH: projection buckets; IVF: nearest deployed centroid), so
  re-ingest under a new id must land in the identical placement — this
  query pins that invariance as driver-visible evidence (any
  retained-vs-churned recall gap beyond truth-pair sampling means id-
  or order-dependence crept into the bucketing), and quantifies the
  sampling side: which truth pairs the churn class actually touches.
- ``ann_ivf_imbalance``: per-cell load report of the deployed IVF
  quantizer — the shard-balance readout that decides re-training or
  hot-list splitting at serving scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from python_etl_sample_spark.cache import cached_df
from python_etl_sample_spark.functions import xengine as xe
from python_etl_sample_spark.functions.determinism import DEC, _d2, _dot, dsum_sql
from python_etl_sample_spark.functions.kmeans import (
    _KM_DIM,
    _KM_ROUNDS,
    _km_ctes,
    _km_dist_sql,
    _km_dists,
    _km_fit,
)
from python_etl_sample_spark.functions.xengine import (
    _LSH_BUCKET_LEN,
    _LSH_RADIUS,
    _d2_sql,
    _lsh_dot_sql,
    lsh_bucket_col,
)
from python_etl_sample_spark.operators.text_analysis import (
    _BM25_CTES,
    _doc_tokens,
    text_bm25_rank,
)
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table


# list_dot_product is bit-identical to the older per-element
# SUM-over-range(64) form (verified exhaustively on the sf1 fixtures)
# but evaluates per ROW instead of per (row × element): at sf1 the
# all-pairs oracles go from a 200M-group aggregate that spilled >80 GB
# of DuckDB temp to a vectorized scan (BENCH_NOTES r14).
_DOT_SQL = "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"


def _dot_sql(a: str, b: str) -> str:
    return _DOT_SQL.format(a=a, b=b)


#: Block-grid width for the exact GEMM kernels. 8 gives 64 block pairs —
#: ample parallelism for local[32] at fixture scale; at 100 TB this is
#: sized so one block (≈ corpus/_NB vectors) fits a task's memory, and
#: everything else in the plan is unchanged.
_NB = 8


def _block_rows(df: DataFrame, side: str, nb: int = _NB) -> DataFrame:
    """One row per block: block id + packed list of (id, vec) structs.

    Blocking key is ``pmod(xxhash64(vec_id), nb)`` — hashing first keeps
    blocks uniform for ARBITRARY id spaces (sparse, clustered, or
    resharded upstream ids), not just the dense fixture ids a plain
    modulo relies on. Correctness never depends on the blocking
    function: every unordered pair lands in exactly one (q-block,
    c-block) grid cell either way.
    """
    return (
        df.select(
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(nb)).cast("int").alias(f"{side}b"),
            F.struct(
                F.col("vec_id").alias("id"),
                F.col("embedding").cast("array<double>").alias("vec"),
            ).alias("row"),
        )
        .groupBy(f"{side}b")
        .agg(F.collect_list("row").alias(f"{side}rows"))
    )


def _grid_partitions(spark: SparkSession, n_cells: int) -> int:
    """Partition count for a packed compute grid: one task per cell up
    to the executor-core budget. On local[32] a 64-cell grid gets 32
    partitions (2 cells/task — same parallelism, half the simultaneous
    Python-worker fork fan-out that made cold pools so expensive in the
    round-2 driver bench); on a 1000-executor cluster defaultParallelism
    exceeds the cell count and every cell gets its own task."""
    return max(1, min(n_cells, spark.sparkContext.defaultParallelism))


def _packed_corpus(spark: SparkSession, sf_dir: str, nb: int = _NB) -> DataFrame:
    """The packed block frame of the full embeddings corpus, memoized
    per (session, sf): ``sim_cosine_topk``, ``sim_knn_per_query`` and
    ``dedup_embedding_cosine`` all consume the identical (nb rows,
    corpus-sized payload) frame — building and persisting it once turns
    three scan+pack cold-starts into one, and gives the persist an
    explicit bounded lifecycle (cache.py) instead of per-call leaks."""
    return cached_df(
        spark,
        ("packed_embeddings", os.path.abspath(sf_dir), nb),
        lambda: _block_rows(
            table(spark, sf_dir, "embeddings").select("vec_id", "embedding"), "g", nb
        ),
    )


def _self_grid(spark: SparkSession, sf_dir: str, nb: int = _NB) -> DataFrame:
    """Every (q-block, c-block) pair of the corpus×corpus grid, via
    equi-join expansion: the q side is exploded across the nb c-block
    ids and equi-joined — a plain shuffle/broadcast hash join on ``cb``,
    never a cartesian. Both sides read the memoized packed corpus from
    the block-manager cache (ReuseExchange can't dedupe them: their
    aggregate aliases differ)."""
    base = _packed_corpus(spark, sf_dir, nb)
    qx = base.select(F.col("gb").alias("qb"), F.col("grows").alias("qrows"))
    cx = base.select(F.col("gb").alias("cb"), F.col("grows").alias("crows"))
    qx = qx.withColumn("cb", F.explode(F.sequence(F.lit(0), F.lit(nb - 1))))
    grid = qx.join(cx, "cb")
    # EXPLICIT repartition (not left to AQE): the grid is tiny in bytes
    # (nb² packed rows) but huge in compute (one GEMM per row), so AQE's
    # byte-based coalescing folds it onto ONE task and serializes every
    # block pair. A user-specified partition count is exempt from AQE
    # coalescing.
    return grid.repartition(_grid_partitions(spark, nb * nb), "qb", "cb")


def _unpack(cell):
    """(ids, matrix, norms) from a packed block cell (list of dicts)."""
    import numpy as np

    ids = np.asarray([r["id"] for r in cell], dtype=np.int64)
    mat = np.stack([np.asarray(r["vec"], dtype=np.float64) for r in cell])
    norms = np.sqrt((mat * mat).sum(axis=1))
    return ids, mat, norms


def _topk_pairs(vals, va, vb, k: int):
    """The first ``k`` pairs ``(vals, va, vb)`` under (-sim, vec_a, vec_b).

    Only pairs at or above the k-th largest value can place (ties at
    that value included), so only those are sorted; with ≤ k pairs or
    any NaN (which ``np.partition`` orders differently) all are.
    """
    import numpy as np

    if len(vals) > k and not np.isnan(vals).any():
        kth = np.partition(vals, len(vals) - k)[len(vals) - k]
        keep = vals >= kth
        vals, va, vb = vals[keep], va[keep], vb[keep]
    order = np.lexsort((vb, va, -vals))[:k]
    return vals[order], va[order], vb[order]


@query(
    "sim_cosine_topk",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding,
             sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
      FROM embeddings
    ),
    sims AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round({_dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm), 9) AS sim
      FROM v a JOIN v b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, sim FROM sims
    ORDER BY sim DESC, vec_a, vec_b
    LIMIT 20
    """,
    tags=("python", "memo"),
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#60 exact top-20 cosine-similar pairs via block-partitioned GEMM
    (the correctness baseline the LSH path in #62 is judged against).

    Kernel: the (q-block, c-block) grid from ``_self_grid`` — each grid
    row GEMMs one NumPy block pair, masks to vec_a < vec_b (each
    unordered pair lands in exactly one grid cell with a on the q side,
    so nothing is computed twice), and emits its local top-20 selected
    under the *global* comparator (-sim, vec_a, vec_b) — selecting under
    the same total order makes merging local top-k exact, including
    boundary ties. The global top-20 is a TakeOrdered over the grid
    output. No driver-side materialization anywhere.

    Warm-up tags: ``python`` (the first mapInPandas shape) and ``memo``
    (the packed block grid is a session memo, cache.py).
    """
    import numpy as np
    import pandas as pd

    grid = _self_grid(spark, sf_dir)
    k = 20

    def pair_topk(batches):
        for pdf in batches:
            for qcell, ccell in zip(pdf["qrows"], pdf["crows"]):
                q_ids, q_mat, q_norms = _unpack(qcell)
                c_ids, c_mat, c_norms = _unpack(ccell)
                sims = np.round((q_mat @ c_mat.T) / np.outer(q_norms, c_norms), 9)
                qi, cj = np.nonzero(q_ids[:, None] < c_ids[None, :])
                if len(qi) == 0:
                    continue
                vals, va, vb = _topk_pairs(sims[qi, cj], q_ids[qi], c_ids[cj], k)
                yield pd.DataFrame({"vec_a": va, "vec_b": vb, "sim": vals})

    local = grid.mapInPandas(pair_topk, "vec_a bigint, vec_b bigint, sim double")
    return local.orderBy(F.desc("sim"), F.asc("vec_a"), F.asc("vec_b")).limit(k)


@query(
    "sim_knn_per_query",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, embedding,
             sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
      FROM embeddings
    ),
    sims AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round({_dot_sql('q.embedding', 'c.embedding')} / (q.nrm * c.nrm), 9) AS sim
      FROM v q JOIN v c ON q.vec_id <> c.vec_id
      WHERE q.label = 0
    ),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rn
      FROM sims
    )
    SELECT query_id, neighbor_id, sim, rn FROM ranked WHERE rn <= 5
    """,
    tags=("memo",),
)
def sim_knn_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#61 exact 5-NN for every label-0 query vector, on the same
    block-partitioned GEMM grid as #60: label-0 query blocks × corpus
    blocks, per-query local top-5 (under the global comparator
    (-sim, neighbor_id)) inside each grid cell, then one shuffle on
    query_id merges the per-block candidates with a rank window.

    (The naive form — a `query_id != neighbor_id` theta join — plans a
    CartesianProduct, the one shape that cannot survive scale; the
    plan-hygiene tests forbid it.)
    """
    import numpy as np
    import pandas as pd

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("label") == 0).select("vec_id", "embedding")
    # q side packed per call (label filter makes it query-specific); the
    # corpus side reuses the memoized packed frame shared with #60
    qx = _block_rows(q, "q")
    cx = _packed_corpus(spark, sf_dir).select(
        F.col("gb").alias("cb"), F.col("grows").alias("crows")
    )
    qx = qx.withColumn("cb", F.explode(F.sequence(F.lit(0), F.lit(_NB - 1))))
    grid = qx.join(cx, "cb").repartition(
        _grid_partitions(spark, _NB * _NB), "qb", "cb"
    )
    k = 5

    def pair_knn(batches):
        for pdf in batches:
            for qcell, ccell in zip(pdf["qrows"], pdf["crows"]):
                q_ids, q_mat, q_norms = _unpack(qcell)
                c_ids, c_mat, c_norms = _unpack(ccell)
                sims = np.round((q_mat @ c_mat.T) / np.outer(q_norms, c_norms), 9)
                out = {"query_id": [], "neighbor_id": [], "sim": []}
                for r, qid in enumerate(q_ids):
                    keep = c_ids != qid
                    order = np.lexsort((c_ids[keep], -sims[r][keep]))[:k]
                    out["query_id"].extend([qid] * len(order))
                    out["neighbor_id"].extend(c_ids[keep][order])
                    out["sim"].extend(sims[r][keep][order])
                yield pd.DataFrame(out)

    local = grid.mapInPandas(pair_knn, "query_id bigint, neighbor_id bigint, sim double")
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        local.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "sim", "rn")
    )


@query(
    "sim_ann_lsh",
    oracle=f"""
    WITH lshb AS (
      SELECT vec_id, embedding,
             CAST(floor(round({xe._lsh_dot_sql('embedding', 0)}, 9)
                        / {xe._LSH_BUCKET_LEN}) AS BIGINT) AS b0,
             CAST(floor(round({xe._lsh_dot_sql('embedding', 1)}, 9)
                        / {xe._LSH_BUCKET_LEN}) AS BIGINT) AS b1
      FROM embeddings
    ),
    pair_ids AS MATERIALIZED (
      -- r14: the OR-of-buckets join condition defeats DuckDB's hash
      -- join and planned as a 400M-pair cross product at sf1 (~107 GB
      -- RSS before being killed). Per-table equi-joins + DISTINCT is
      -- the same candidate set — and the same per-table bucket
      -- shuffle shape the Spark side uses.
      SELECT DISTINCT vec_a, vec_b FROM (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM lshb a JOIN lshb b ON a.b0 = b.b0 AND a.vec_id < b.vec_id
        UNION ALL
        SELECT a.vec_id, b.vec_id
        FROM lshb a JOIN lshb b ON a.b1 = b.b1 AND a.vec_id < b.vec_id
      )
    ),
    cand AS (
      SELECT p.vec_a, p.vec_b,
             round({xe._d2_sql('ea.embedding', 'eb.embedding')}, 9) AS d2
      FROM pair_ids p
      JOIN embeddings ea ON ea.vec_id = p.vec_a
      JOIN embeddings eb ON eb.vec_id = p.vec_b
    )
    SELECT vec_a, vec_b, round(sqrt(d2), 6) AS euclidean_dist
    FROM cand WHERE d2 <= {xe._LSH_RADIUS * xe._LSH_RADIUS}
    """,
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#62 approximate NN via bucketed random-projection LSH — **fully
    hash-checked since round 11**: the detector buckets on the exact
    seed-7 projection literals ``sim_ann_recall``'s oracle already
    embeds, with the floor consuming a 9-dp-rounded dot product
    (functions/xengine.py), and the per-bucket distance is 9-dp-rounded
    before the radius test and the sqrt — so the pair emission replays
    in DuckDB (VERDICT r10 item 1c). Scheme unchanged: per hash table
    t, h_t(v) = floor(round(⟨v, g_t⟩, 9) / bucketLength); candidate
    pairs share a (t, h) bucket — never the full cross product — and
    each candidate bucket runs one exact-distance GEMM block, keeping
    only pairs within the radius. Duplicate hits across tables collapse
    with one distinct (identical rounded doubles by construction).

    Kernel note (round-11 measurement): a declarative per-pair
    ``zip_with``+``aggregate`` distance fold planned cleanly but ran
    the 64-term lambda interpreter per candidate pair — 20.8 s at
    sf0.1 vs 0.7 s for this Arrow GEMM bucket kernel (~30×), so the
    distance stays in the vectorized kernel and only the DISCONTINUOUS
    steps (bucket floor, radius test) consume rounded values the
    oracle reproduces; GEMM-vs-index-order-SUM agreement at 9 dp is
    the established sim_knn_per_query precedent.

    The 100 TB shape: one shuffle on bucket id (vectors shuffle once
    per table), per-bucket compute is local and embarrassingly
    parallel, and the emitted pair set is tiny. Radius 1.2 is the
    measured selective threshold for these fixtures: random 64-dim
    pairs sit near dist ≈ sqrt(2), genuine near neighbors at ≈ 1.0, so
    1.5 would admit nearly all O(n²) pairs (measured 35 s at sf0.1)."""
    import numpy as np
    import pandas as pd

    radius2 = xe._LSH_RADIUS * xe._LSH_RADIUS
    e = table(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    buckets = e.select(
        "vec_id",
        vec.alias("vec"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        xe.lsh_bucket_col(vec, t).alias("h"),
                    )
                    for t in range(xe._LSH_TABLES)
                ]
            )
        ).alias("bk"),
    ).select("vec_id", "vec", F.col("bk.tbl").alias("tbl"), F.col("bk.h").alias("h"))

    packed = (
        buckets.groupBy("tbl", "h")
        .agg(
            F.collect_list(
                F.struct(F.col("vec_id").alias("id"), F.col("vec").alias("vec"))
            ).alias("rows")
        )
        # AQE-proofing (see _self_grid): few rows, heavy per-row compute
        .repartition(32, "tbl", "h")
    )

    def bucket_pairs(batches):
        for pdf in batches:
            for cell in pdf["rows"]:
                ids, mat, _ = _unpack(cell)
                sq = (mat * mat).sum(axis=1)
                d2 = np.maximum(sq[:, None] + sq[None, :] - 2.0 * (mat @ mat.T), 0.0)
                d2r = np.round(d2, 9)
                qi, cj = np.nonzero(
                    (ids[:, None] < ids[None, :]) & (d2r <= radius2)
                )
                if len(qi):
                    yield pd.DataFrame(
                        {
                            "vec_a": ids[qi],
                            "vec_b": ids[cj],
                            "euclidean_dist": np.round(np.sqrt(d2r[qi, cj]), 6),
                        }
                    )

    # a pair found in both tables computes the identical float both
    # times (same kernel, same inputs), so distinct collapses it safely
    return packed.mapInPandas(
        bucket_pairs, "vec_a bigint, vec_b bigint, euclidean_dist double"
    ).distinct()


#: IVF probe count and result depth (unchanged from the rows-only form)
_IVF_NPROBE, _IVF_K = 2, 3

_IVF_NRM_SQL = (
    "sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))"
)
_IVF_DOT_SQL = (
    "list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])"
)


@query(
    "sim_ann_ivf",
    oracle=f"""
    WITH {_km_ctes()},
    nv AS (
      SELECT vec_id, embedding, {_IVF_NRM_SQL} AS nrm FROM embeddings
    ),
    probes AS (
      SELECT vec_id,
             MAX(CASE WHEN prn = 1 THEN cid END) AS p1,
             MAX(CASE WHEN prn = 2 THEN cid END) AS p2
      FROM (
        SELECT v.vec_id, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY round({_km_dist_sql('v.emb', 'c.emb')}, 9), c.cid
               ) AS prn
        FROM v CROSS JOIN c3 c
      ) WHERE prn <= {_IVF_NPROBE}
      GROUP BY vec_id
    ),
    cand AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round({_IVF_DOT_SQL} / (q.nrm * c.nrm), 9) AS sim
      FROM nv q
      JOIN probes p ON p.vec_id = q.vec_id
      JOIN fin f ON f.cid = p.p1 OR f.cid = p.p2
      JOIN nv c ON c.vec_id = f.vec_id AND c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, sim, rn FROM (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rn
      FROM cand
    ) WHERE rn <= {_IVF_K}
    """,
    tags=("memo",),
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate NN — **fully hash-checked since round
    11**: the private NumPy 512-sample quantizer was swapped for the
    full-corpus deterministic Lloyd fit (_km_fit) whose SQL
    replay already hash-passes in ``cluster_kmeans_lloyd`` and
    ``sim_ann_recall``, so the whole probe-and-search pipeline replays
    in DuckDB (VERDICT r10 item 1b). Scheme unchanged: the coarse
    quantizer partitions the corpus into inverted lists; each query
    probes its **nprobe=2** nearest centroids (covering boundary
    neighbors an nprobe=1 form misses) and searches only those lists
    via a per-cell local GEMM inside applyInPandas; a rank window
    merges the ≤2 candidate sets per query into the per-query top-3 by
    9-dp-rounded cosine (id tie-break).

    Kernel note (round-11 measurement): probe assignment is the
    map-only centroid-literal argmin (declarative, replayable
    bit-for-bit), but the candidate cosines stay in the vectorized
    Arrow kernel — the declarative per-pair fold variant cost 1.7 s vs
    1.0 s at sf0.1 (the interpreted higher-order-function overhead
    sim_ann_lsh hit at 30×, milder here because the probed-cell pair
    space is k× smaller); GEMM-vs-index-order-SUM agreement at 9 dp is
    the established sim_knn_per_query precedent.

    This is the second at-scale ANN family next to LSH (#62): one
    shuffle on centroid id, then embarrassingly-parallel local search —
    at 100 TB the lists are bucketed tables and the k×64-float centroid
    table is a plan literal shipped with the task closure exactly as
    here (the fit itself is the per-round map-only + k·64-row-shuffle
    plan of ``cluster_kmeans_lloyd``, run once per session via the
    memo). Candidate-space audit: each query meets only the members of
    its 2 probed cells — |candidates| ≈ 2n/k per query, never the
    O(n²) pair space."""
    import numpy as np
    import pandas as pd

    assigned, cents = _km_fit(spark, sf_dir)
    pdists = F.array_sort(_km_dists(cents))
    # one frame carries the home cell (= nearest centroid) and the
    # probe fan-out; local_knn's membership test recovers the lists
    probes = assigned.select(
        "vec_id",
        F.col("emb").alias("embedding"),
        F.col("cid").alias("centroid"),
        F.explode(
            F.array(*[pdists[i]["cid"] for i in range(_IVF_NPROBE)])
        ).alias("probe"),
    )

    k = _IVF_K

    def local_knn(pdf: pd.DataFrame) -> pd.DataFrame:
        # corpus of this list = rows whose PRIMARY centroid is the
        # probed one; queries = every row probing it
        is_member = (pdf["centroid"] == pdf["probe"]).to_numpy()
        if not is_member.any():
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "sim": []})
        ids = pdf["vec_id"].to_numpy()
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        norms = np.sqrt((mat * mat).sum(axis=1))
        c_ids, c_mat, c_norms = ids[is_member], mat[is_member], norms[is_member]
        sims = np.round((mat @ c_mat.T) / np.outer(norms, c_norms), 9)
        out = {"query_id": [], "neighbor_id": [], "sim": []}
        for r, qid in enumerate(ids):
            keep = c_ids != qid
            order = np.lexsort((c_ids[keep], -sims[r][keep]))[:k]
            out["query_id"].extend([qid] * len(order))
            out["neighbor_id"].extend(c_ids[keep][order])
            out["sim"].extend(sims[r][keep][order])
        return pd.DataFrame(out)

    cand = probes.groupBy("probe").applyInPandas(
        local_knn, "query_id bigint, neighbor_id bigint, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        cand.dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= _IVF_K)
        .select("query_id", "neighbor_id", "sim", "rn")
    )


_DEDUP_COS_ORACLE = f"""
    WITH v AS (
      SELECT vec_id, embedding,
             sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({_dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm), 9) AS sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE round({_dot_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm), 9) >= 0.45
    """


@query("dedup_embedding_cosine", oracle=_DEDUP_COS_ORACLE, tags=("memo",))
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection: all pairs with cosine ≥
    0.45 (the semantic-dedup family — threshold sits in the fixture
    distribution's top ~0.01%: 7/14/144 pairs at sf0.001/0.01/0.1).
    Exact form on the block-partitioned GEMM grid (no driver collect);
    ``dedup_embedding_ann`` is the same answer through LSH pre-bucketing
    — the 100 TB route that avoids the quadratic pair space."""
    import numpy as np
    import pandas as pd

    grid = _self_grid(spark, sf_dir)
    threshold = 0.45

    def pair_thresh(batches):
        for pdf in batches:
            for qcell, ccell in zip(pdf["qrows"], pdf["crows"]):
                q_ids, q_mat, q_norms = _unpack(qcell)
                c_ids, c_mat, c_norms = _unpack(ccell)
                sims = np.round((q_mat @ c_mat.T) / np.outer(q_norms, c_norms), 9)
                qi, cj = np.nonzero(
                    (q_ids[:, None] < c_ids[None, :]) & (sims >= threshold)
                )
                if len(qi):
                    yield pd.DataFrame(
                        {"vec_a": q_ids[qi], "vec_b": c_ids[cj], "sim": sims[qi, cj]}
                    )

    return grid.mapInPandas(pair_thresh, "vec_a bigint, vec_b bigint, sim double")


def _hyperplane_cells(nplanes: int = 4, dim: int = 64):
    """Fixed (seed-pinned) random hyperplanes for deterministic
    sign-bucketing — generated once, embedded as literals so the cell
    assignment is pure JVM expression work, no fitting step."""
    import numpy as np

    rng = np.random.default_rng(42)
    return rng.standard_normal((nplanes, dim))


@query("dedup_embedding_ann", oracle=_DEDUP_COS_ORACLE, tags=("memo",))
def dedup_embedding_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via **bound-pruned cell-grid pre-bucketing**
    with *provable* 100% recall — the deterministic at-scale route for
    the semantic-dedup family (probabilistic LSH cannot promise the
    exact oracle answer at cos ≥ 0.45: the fixture's qualifying pairs
    sit at 0.45-0.6 while background p99.9 is 0.377, too little angular
    gap for sign/BRP amplification to reach recall 1 selectively —
    measured before replacing the earlier MLlib-LSH form).

    Mechanics, all declarative until the per-cell-pair GEMM:
    1. Assign each vector a cell = sign pattern under 4 fixed
       hyperplanes (16 cells, pure JVM expressions, no fit; signs are
       scale-invariant so raw vectors suffice — normalization happens
       in the NumPy kernels on unit-vector geometry).
    2. Per-cell summary (tiny: one row/cell): centroid + max residual
       radius.
    3. Prune the 16×16 cell-pair grid with the triangle inequality:
       on unit vectors cos ≥ 0.45 ⇔ dist ≤ sqrt(2·(1-0.45)) ≈ 1.0488,
       and a cell pair can only contain such a pair if
       d(cA,cB) - rA - rB ≤ that radius — a provable bound, so recall
       is exact BY CONSTRUCTION, not by tuned luck.
    4. Equi-join the packed cell blocks through the surviving pair
       list only (the pruning happens BEFORE the data shuffle), then
       run the same exact GEMM + threshold kernel per surviving pair.

    On this fixture's isotropic embeddings the bound prunes little
    (high-dim random cells have large radii — the curse of
    dimensionality is real), so cost degrades gracefully to the exact
    block-GEMM baseline; on real, clustered embedding corpora — the
    100 TB case — most of the grid is pruned before any data moves."""
    import numpy as np
    import pandas as pd

    planes = _hyperplane_cells()
    radius = float(np.sqrt(2.0 * (1.0 - 0.45)))
    threshold = 0.45

    e = table(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    cell = None
    for k in range(planes.shape[0]):
        plane = F.array(*[F.lit(float(x)) for x in planes[k]])
        # sign(dot(v, plane)) is scale-invariant, so the cell bit uses the
        # RAW vector; normalization happens inside the NumPy kernels
        # (interpreted HOF array division is the expensive JVM path, and
        # this frame is evaluated once per downstream consumer)
        bit = (_dot(vec, plane) > 0).cast("int")
        term = F.shiftleft(bit, k)
        cell = term if cell is None else cell + term
    # consumed by the stats kernel AND both packed join sides — persisted
    # through the session memo (same ReuseExchange defeat as the dedup
    # module; ~0.5 KB/vector, one entry per (session, sf))
    cell_expr = cell.cast("int")
    cells = cached_df(
        spark,
        ("ann_cells", os.path.abspath(sf_dir)),
        lambda: e.select(F.col("vec_id"), vec.alias("vec"), cell_expr.alias("cell")),
    )

    def cell_stats(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.stack(pdf["vec"].to_numpy())
        mat = mat / np.sqrt((mat * mat).sum(axis=1))[:, None]
        centroid = mat.mean(axis=0)
        rad = float(np.sqrt(((mat - centroid) ** 2).sum(axis=1)).max())
        return pd.DataFrame(
            {"cell": [int(pdf["cell"].iloc[0])], "centroid": [centroid.tolist()], "radius": [rad]}
        )

    stats = cells.groupBy("cell").applyInPandas(
        cell_stats, "cell int, centroid array<double>, radius double"
    )

    # 16×16 pair grid via equi-join expansion (never a cartesian), then
    # the triangle-inequality prune — both on the 16-row stats table.
    # Only unordered cell pairs (qcell ≤ ccell) survive: the bound is
    # symmetric, and each data pair is examined once.
    sa = stats.select(
        F.col("cell").alias("qcell"),
        F.col("centroid").alias("ca"),
        F.col("radius").alias("ra"),
    ).withColumn("ccell", F.explode(F.sequence(F.lit(0), F.lit(15))))
    sb = stats.select(
        F.col("cell").alias("ccell"),
        F.col("centroid").alias("cb"),
        F.col("radius").alias("rb"),
    )
    cdist = F.sqrt(_d2(F.col("ca"), F.col("cb")))
    surviving = (
        sa.join(sb, "ccell")
        .filter(
            (F.col("qcell") <= F.col("ccell"))
            & (cdist - F.col("ra") - F.col("rb") <= F.lit(radius))
        )
        .select("qcell", "ccell")
    )

    # broadcast only the tiny surviving-pair list (≤136 rows); the packed
    # cell blocks — the actual data — stay distributed and shuffle only
    # to the surviving grid cells
    packed = cached_df(  # read by both grid join sides
        spark,
        ("ann_packed", os.path.abspath(sf_dir)),
        lambda: cells.groupBy("cell").agg(
            F.collect_list(
                F.struct(F.col("vec_id").alias("id"), F.col("vec").alias("vec"))
            ).alias("rows")
        ),
    )
    qb = packed.select(F.col("cell").alias("qcell"), F.col("rows").alias("qrows"))
    cb2 = packed.select(F.col("cell").alias("ccell"), F.col("rows").alias("crows"))
    grid = (
        qb.join(F.broadcast(surviving), "qcell")
        .join(cb2, "ccell")
        # same AQE-proofing as _self_grid: tiny bytes, heavy compute —
        # explicit partition count keeps ~one GEMM cell per task
        .repartition(_grid_partitions(spark, 16 * 16), "qcell", "ccell")
    )

    def pair_thresh(batches):
        for pdf in batches:
            for qcell_id, ccell_id, qcell, ccell in zip(
                pdf["qcell"], pdf["ccell"], pdf["qrows"], pdf["crows"]
            ):
                q_ids, q_mat, q_norms = _unpack(qcell)
                c_ids, c_mat, c_norms = _unpack(ccell)
                # same float ops as the exact kernel (dedup_embedding_cosine)
                sims = np.round((q_mat @ c_mat.T) / np.outer(q_norms, c_norms), 9)
                if qcell_id == ccell_id:
                    mask = q_ids[:, None] < c_ids[None, :]
                else:  # distinct cells: every cross pair, ordered on emit
                    mask = np.ones_like(sims, dtype=bool)
                qi, cj = np.nonzero(mask & (sims >= threshold))
                if len(qi):
                    a, b = q_ids[qi], c_ids[cj]
                    yield pd.DataFrame(
                        {
                            "vec_a": np.minimum(a, b),
                            "vec_b": np.maximum(a, b),
                            "sim": sims[qi, cj],
                        }
                    )

    return grid.mapInPandas(pair_thresh, "vec_a bigint, vec_b bigint, sim double")


@query(
    "embeddings_centroid",
    oracle="""
    WITH dims AS (
      SELECT label, u.i - 1 AS pos,
             CAST(round(CAST(embedding[u.i] AS DOUBLE), 9)
                  AS DECIMAL(28,12)) AS v
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
    )
    SELECT label, pos, COUNT(*) AS n_vecs,
           round(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS dim_mean
    FROM dims GROUP BY label, pos
    """,
)
def embeddings_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroid, one row per (label, dimension) —
    the building block for class prototypes, IVF coarse quantizers and
    drift monitoring. Emitted relationally (label, pos, mean) rather
    than re-assembled into an array column: per-dim rows keep the
    result joinable/verifiable, and the array re-pack is a trivial
    downstream ``collect_list`` when a consumer wants it.

    Float parity: float32 dims are rounded at 9 dp and summed as
    decimal(28,12) — exact and order-independent, so Spark's partial
    aggregation tree and DuckDB's sequential sum agree bit-for-bit
    (the proven lm-score pattern; a plain double SUM would drift by
    association).

    Scale: posexplode is map-side (64 rows per vector); ONE shuffle on
    (label, pos) with map-side combine already reducing each partition
    to ≤ labels×dims rows — at 100 TB the wire carries partial sums,
    not embeddings."""
    e = table(spark, sf_dir, "embeddings")
    dims = e.select(
        "label", F.posexplode("embedding").alias("pos", "raw")
    ).select(
        "label",
        "pos",
        F.round(F.col("raw").cast("double"), 9).cast("decimal(28,12)").alias("v"),
    )
    return dims.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.sum("v").cast("double") / F.count(F.lit(1)), 6).alias("dim_mean"),
    )


@query(
    "embeddings_class_separation",
    oracle="""
    WITH dims AS (
      SELECT label, u.i - 1 AS pos,
             CAST(round(CAST(embedding[u.i] AS DOUBLE), 9)
                  AS DECIMAL(28,12)) AS v
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
    ), cent AS (
      SELECT label, pos,
             CAST(round(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6)
                  AS DECIMAL(18,6)) AS m
      FROM dims GROUP BY label, pos
    ), pairs AS (
      SELECT a.label AS label_a, b.label AS label_b,
             SUM(a.m * b.m) AS sab,
             SUM(a.m * a.m) AS saa,
             SUM(b.m * b.m) AS sbb
      FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT label_a, label_b,
           round(CAST(sab AS DOUBLE) /
                 (SQRT(CAST(saa AS DOUBLE)) * SQRT(CAST(sbb AS DOUBLE))),
                 6) AS centroid_cosine
    FROM pairs
    """,
)
def embeddings_class_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-class centroid cosine matrix — the compact separability /
    drift report over a labeled embedding table (how close are class
    prototypes to each other).

    Float parity: per-dim means follow embeddings_centroid's
    decimal-sum scheme, then are ROUNDED TO 6 dp AND RE-CAST to
    decimal(18,6) before the pairwise products — 6-dp operands make
    every product exact at 12 dp, so the 64-term dot products are
    decimal-exact (order-free) in both engines; only the final
    normalize runs in (mirrored) double. Scale: the heavy step is the
    ONE (label, pos) aggregate over the corpus; everything after
    operates on labels×64 rows — the pos-equi self join and the pair
    aggregate are metadata-sized at any corpus size."""
    e = table(spark, sf_dir, "embeddings")
    cent = (
        e.select("label", F.posexplode("embedding").alias("pos", "raw"))
        .select(
            "label",
            "pos",
            F.round(F.col("raw").cast("double"), 9)
            .cast("decimal(28,12)")
            .alias("v"),
        )
        .groupBy("label", "pos")
        .agg(
            F.round(F.sum("v").cast("double") / F.count(F.lit(1)), 6)
            .cast("decimal(18,6)")
            .alias("m")
        )
    )
    a = cent.select(
        F.col("label").alias("label_a"), "pos", F.col("m").alias("ma")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "pos", F.col("m").alias("mb")
    )
    pairs = (
        a.join(b, ["pos"])
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("ma") * F.col("mb")).alias("sab"),
            F.sum(F.col("ma") * F.col("ma")).alias("saa"),
            F.sum(F.col("mb") * F.col("mb")).alias("sbb"),
        )
    )
    return pairs.select(
        "label_a",
        "label_b",
        F.round(
            F.col("sab").cast("double")
            / (
                F.sqrt(F.col("saa").cast("double"))
                * F.sqrt(F.col("sbb").cast("double"))
            ),
            6,
        ).alias("centroid_cosine"),
    )


#: MMR: queries are the two smallest vec_ids; pool = top-8 by cosine;
#: select 3 with relevance weight λ = 0.7.
_MMR_QUERIES = (0, 1)
_MMR_POOL = 8
_MMR_SELECT = 3
_MMR_LAMBDA = 0.7


def _mmr_sql() -> str:
    """Unrolled greedy MMR in DuckDB SQL: pool CTE, candidate-pair sims,
    then one argmax CTE per selection step."""
    lam, mu = _MMR_LAMBDA, 1.0 - _MMR_LAMBDA
    qids = ", ".join(map(str, _MMR_QUERIES))
    return f"""
    WITH v AS (
      SELECT vec_id, embedding,
             sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
      FROM embeddings
    ),
    rel AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             round({_dot_sql('q.embedding', 'c.embedding')}
                   / (q.nrm * c.nrm), 9) AS rel
      FROM v q JOIN v c ON c.vec_id <> q.vec_id
      WHERE q.vec_id IN ({qids})
    ),
    pool AS (
      SELECT query_id, cand_id, rel FROM (
        SELECT query_id, cand_id, rel,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY rel DESC, cand_id) AS rn
        FROM rel
      ) WHERE rn <= {_MMR_POOL}
    ),
    psim AS (
      SELECT p.query_id, p.cand_id AS a, p2.cand_id AS b,
             round({_dot_sql('va.embedding', 'vb.embedding')}
                   / (va.nrm * vb.nrm), 9) AS sim
      FROM pool p
      JOIN pool p2 ON p2.query_id = p.query_id AND p2.cand_id <> p.cand_id
      JOIN v va ON va.vec_id = p.cand_id
      JOIN v vb ON vb.vec_id = p2.cand_id
    ),
    s1 AS (
      SELECT query_id, cand_id, rel AS score FROM (
        SELECT query_id, cand_id, rel,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY rel DESC, cand_id) AS rn
        FROM pool
      ) WHERE rn = 1
    ),
    m2 AS (
      SELECT p.query_id, p.cand_id,
             {lam} * p.rel - {mu} * ps.sim AS score
      FROM pool p
      JOIN s1 ON s1.query_id = p.query_id AND p.cand_id <> s1.cand_id
      JOIN psim ps ON ps.query_id = p.query_id
                  AND ps.a = p.cand_id AND ps.b = s1.cand_id
    ),
    s2 AS (
      SELECT query_id, cand_id, score FROM (
        SELECT query_id, cand_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, cand_id) AS rn
        FROM m2
      ) WHERE rn = 1
    ),
    m3 AS (
      SELECT p.query_id, p.cand_id,
             {lam} * p.rel
             - {mu} * GREATEST(ps1.sim, ps2.sim) AS score
      FROM pool p
      JOIN s1 ON s1.query_id = p.query_id
      JOIN s2 ON s2.query_id = p.query_id
      JOIN psim ps1 ON ps1.query_id = p.query_id
                   AND ps1.a = p.cand_id AND ps1.b = s1.cand_id
      JOIN psim ps2 ON ps2.query_id = p.query_id
                   AND ps2.a = p.cand_id AND ps2.b = s2.cand_id
      WHERE p.cand_id <> s1.cand_id AND p.cand_id <> s2.cand_id
    ),
    s3 AS (
      SELECT query_id, cand_id, score FROM (
        SELECT query_id, cand_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, cand_id) AS rn
        FROM m3
      ) WHERE rn = 1
    )
    SELECT query_id, 1 AS rank, cand_id AS vec_id,
           ROUND(score, 6) AS mmr_score FROM s1
    UNION ALL
    SELECT query_id, 2, cand_id, ROUND(score, 6) FROM s2
    UNION ALL
    SELECT query_id, 3, cand_id, ROUND(score, 6) FROM s3
    """


@query("sim_mmr_rerank", oracle=_mmr_sql())
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein):
    from each query's top-{_MMR_POOL} cosine pool, greedily select
    {_MMR_SELECT} items maximizing λ·relevance − (1−λ)·max-similarity-
    to-already-selected — the diversified-retrieval step RAG pipelines
    run AFTER ANN so near-duplicate passages don't crowd the context
    window. Plain top-k (sim_cosine_topk) cannot express it: the score
    of item 3 depends on items 1-2.

    The greedy loop is unrolled into {_MMR_SELECT} argmax rounds with a
    (score DESC, vec_id ASC) tie-break, making the selection fully
    deterministic — the oracle replays it exactly. Relevance and
    pairwise sims use the repo's index-ordered-fold + round-9 idiom.
    Scale: the pool build is the ANN tier's job (here exact top-8 per
    query); after it, every round works on ≤{_MMR_POOL} rows/query —
    per-query work is CONSTANT, so the whole rerank is a narrow
    map-side pipeline over queries at 100 TB."""
    lam, mu = _MMR_LAMBDA, 1.0 - _MMR_LAMBDA
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    emb = emb.withColumn("nrm", F.sqrt(_dot(F.col("vec"), F.col("vec"))))
    q = emb.filter(F.col("vec_id").isin(*_MMR_QUERIES)).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qnrm"),
    )
    rel = (
        F.broadcast(q)
        .join(emb, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            "vec",
            "nrm",
            F.round(
                _dot(F.col("qvec"), F.col("vec")) / (F.col("qnrm") * F.col("nrm")),
                9,
            ).alias("rel"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("cand_id"))
    # the pool CARRIES its vectors (8 rows x 64 doubles per query), so
    # the candidate-pair sims below are a tiny pool⋈pool join — never a
    # second pass over the full embeddings table
    pool_v = (
        rel.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _MMR_POOL)
        .drop("rn")
    )
    pool = pool_v.select("query_id", "cand_id", "rel")
    p2 = pool_v.select(
        "query_id",
        F.col("cand_id").alias("b_cand"),
        F.col("vec").alias("b_vec"),
        F.col("nrm").alias("b_nrm"),
    )
    psim = (
        pool_v.join(p2, "query_id")
        .filter(F.col("cand_id") != F.col("b_cand"))
        .select(
            "query_id",
            F.col("cand_id").alias("a"),
            F.col("b_cand").alias("b"),
            F.round(
                _dot(F.col("vec"), F.col("b_vec"))
                / (F.col("nrm") * F.col("b_nrm")),
                9,
            ).alias("sim"),
        )
    )
    wscore = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("cand_id")
    )

    def argmax(df):
        return (
            df.withColumn("rn", F.row_number().over(wscore))
            .filter(F.col("rn") == 1)
            .select("query_id", "cand_id", "score")
        )

    s1 = argmax(pool.select("query_id", "cand_id", F.col("rel").alias("score")))
    s1k = s1.select("query_id", F.col("cand_id").alias("s1_id"))
    m2 = (
        pool.join(s1k, "query_id")
        .filter(F.col("cand_id") != F.col("s1_id"))
        .join(
            psim.select(
                "query_id",
                F.col("a").alias("cand_id"),
                F.col("b").alias("s1_id"),
                F.col("sim").alias("sim1"),
            ),
            ["query_id", "cand_id", "s1_id"],
        )
        .select(
            "query_id", "cand_id", (lam * F.col("rel") - mu * F.col("sim1")).alias("score")
        )
    )
    s2 = argmax(m2)
    s2k = s2.select("query_id", F.col("cand_id").alias("s2_id"))
    m3 = (
        pool.join(s1k, "query_id")
        .join(s2k, "query_id")
        .filter((F.col("cand_id") != F.col("s1_id")) & (F.col("cand_id") != F.col("s2_id")))
        .join(
            psim.select(
                "query_id",
                F.col("a").alias("cand_id"),
                F.col("b").alias("s1_id"),
                F.col("sim").alias("sim1"),
            ),
            ["query_id", "cand_id", "s1_id"],
        )
        .join(
            psim.select(
                "query_id",
                F.col("a").alias("cand_id"),
                F.col("b").alias("s2_id"),
                F.col("sim").alias("sim2"),
            ),
            ["query_id", "cand_id", "s2_id"],
        )
        .select(
            "query_id",
            "cand_id",
            (lam * F.col("rel") - mu * F.greatest("sim1", "sim2")).alias("score"),
        )
    )
    s3 = argmax(m3)
    out = (
        s1.select("query_id", F.lit(1).alias("rank"), "cand_id", "score")
        .union(s2.select("query_id", F.lit(2), "cand_id", "score"))
        .union(s3.select("query_id", F.lit(3), "cand_id", "score"))
    )
    return out.select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        F.col("cand_id").alias("vec_id"),
        F.round("score", 6).alias("mmr_score"),
    )


def _km_oracle() -> str:
    """Unrolled-round Lloyd replay (the LPA/PageRank oracle pattern:
    bounded rounds ARE the algorithm, so the SQL unrolls them)."""
    r = _KM_ROUNDS
    return f"""WITH {_km_ctes()},
    norms AS (
      SELECT cid,
             round(sqrt((SELECT SUM(emb[i+1] * emb[i+1])
                         FROM range({_KM_DIM}) t(i))), 6) AS centroid_norm
      FROM c{r}
    )
    SELECT f.cid, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           MAX(n.centroid_norm) AS centroid_norm,
           round({dsum_sql('f.dist')}, 6) AS inertia
    FROM fin f JOIN norms n ON n.cid = f.cid
    GROUP BY f.cid"""


@query("cluster_kmeans_lloyd", oracle=_km_oracle(), tags=("memo",))
def cluster_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale distributed Lloyd k-means over the full embeddings
    table: k=8, 3 fixed rounds, deterministic seeding (the k smallest
    multiplicative-hash-of-id vectors, ties by id — reproducible across
    engines, partitionings, and runs). Output: per-cluster size, final
    centroid norm, and inertia (decimal-exact sum of 9-dp distances).

    This is the full-corpus clustering operator the IVF quantizer's
    bounded 512-vector Lloyd sample deliberately is not — semantic
    dedup and domain-mixing curation cluster EVERY vector.

    Determinism: centroid updates are decimal-exact per-dimension sums
    divided once (functions/determinism.py), so every round's centroids
    are bit-identical in both engines; distances are index-ordered
    folds rounded at 9 dp with (dist, cid) argmin tie-break — the
    oracle unrolls the identical rounds in SQL (the LPA replay
    pattern, graph_analytics.py).

    Scale shape per round: assignment is MAP-ONLY (the k×64 centroid
    frame is embedded as a plan literal — constant in corpus size, the
    same bounded-materialization class as the IVF quantizer sample at
    similarity.py:385, and the same per-round barrier every distributed
    Lloyd implementation has); the update is one (cid, dim) groupBy —
    combiner-reduced to k·64 rows per task before the shuffle. Nothing
    quadratic, nothing data-sized on the driver, no cartesian: at
    100 TB each round is one scan + one k·64-row shuffle.

    Warm-up tag ``memo``: the Lloyd fit (``_km_fit``) is a session memo
    shared with the semantic-dedup, silhouette and IVF queries."""
    final, cents = _km_fit(spark, sf_dir)
    norms = spark.createDataFrame(
        [(cid, emb) for cid, emb in cents],
        schema=T.StructType(
            [
                T.StructField("cid", T.IntegerType()),
                T.StructField("cemb", T.ArrayType(T.DoubleType())),
            ]
        ),
    ).select(
        "cid",
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform(F.col("cemb"), lambda x: x * x),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
            6,
        ).alias("centroid_norm"),
    )
    return (
        final.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.sum(F.col("dist").cast(DEC)).cast("double"), 6).alias(
                "inertia"
            ),
        )
        .join(F.broadcast(norms), "cid")
        .select("cid", "n_vecs", "centroid_norm", "inertia")
    )


# ---------------------------------------------------------------------------
# cluster_silhouette
# ---------------------------------------------------------------------------


def _sil_oracle() -> str:
    """Replay the Lloyd fit (shared CTE body, _km_ctes),
    then rank every vector's distance to ALL final centroids and form
    the simplified silhouette from the nearest two."""
    r = _KM_ROUNDS
    return f"""WITH {_km_ctes()},
    r2 AS (
      SELECT vec_id, cid, d, ROW_NUMBER() OVER (
               PARTITION BY vec_id ORDER BY d, cid) AS rn
      FROM (SELECT v.vec_id, c.cid,
                   round({_km_dist_sql('v.emb', 'c.emb')}, 9) AS d
            FROM v CROSS JOIN c{r} c)
    ),
    ab AS (
      SELECT a.vec_id, a.cid,
             round(sqrt(a.d), 9) AS da, round(sqrt(b.d), 9) AS db
      FROM r2 a JOIN r2 b ON b.vec_id = a.vec_id AND b.rn = 2
      WHERE a.rn = 1
    ),
    s AS (
      SELECT vec_id, cid,
             round(CASE WHEN db > 0 THEN 1 - da / db ELSE 0 END, 9) AS sil
      FROM ab
    )
    SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           round(CAST(SUM(CAST(sil AS DECIMAL(28,12))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_silhouette,
           round(MIN(sil), 6) AS min_silhouette
    FROM s GROUP BY cid"""


@query("cluster_silhouette", oracle=_sil_oracle(), tags=("memo",))
def cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette of the deterministic k-means clustering:
    per vector, a = distance to its own (nearest) centroid and b =
    distance to the second-nearest centroid, s = 1 − a/b ∈ [0, 1]
    (the centroid-based silhouette of Hruschka et al. — O(n·k), the
    form that scales where the classic pairwise silhouette's O(n²)
    cannot). Reported per cluster: size, mean and worst silhouette —
    mean near 1 = tight well-separated cluster, near 0 = boundary mush
    that a curation pipeline should not treat as a semantic domain.

    Plan: the fit is the SAME deterministic Lloyd as
    cluster_kmeans_lloyd (shared _km_fit — identical seeding, rounds,
    tie-breaks, so this report describes exactly the clustering that
    operator ships); scoring is MAP-ONLY over the corpus (the k×64
    centroid frame rides in the plan as a literal, array_sort over k
    (dist, cid) structs picks the nearest two), then one k-row groupBy.
    At 100 TB: one scan, one k-row shuffle — nothing pairwise.

    Determinism: squared distances are index-ordered folds rounded at
    9 dp (the _km_assign contract); a and b take one sqrt each (IEEE
    correctly-rounded) re-rounded at 9 dp; s = 1 − a/b is one division
    rounded at 9 dp, decimal-summed per cluster, divided once, 6 dp."""
    final, cents = _km_fit(spark, sf_dir)
    ranked = final.select(
        "vec_id", F.array_sort(_km_dists(cents)).alias("ds")
    ).select(
        "vec_id",
        F.col("ds")[0]["cid"].alias("cid"),
        F.round(F.sqrt(F.col("ds")[0]["dist"]), 9).alias("da"),
        F.round(F.sqrt(F.col("ds")[1]["dist"]), 9).alias("db"),
    )
    sil = ranked.select(
        "vec_id",
        "cid",
        F.round(
            F.when(F.col("db") > 0, 1 - F.col("da") / F.col("db")).otherwise(
                F.lit(0.0)
            ),
            9,
        ).alias("sil"),
    )
    return sil.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            F.sum(F.col("sil").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_silhouette"),
        F.round(F.min("sil"), 6).alias("min_silhouette"),
    )


# ---------------------------------------------------------------------------
# sim_rrf_fusion
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_TOPK = 10
_PRIOR_TOPK = 10


@query(
    "sim_rrf_fusion",
    oracle=f"""
    WITH {_BM25_CTES},
    rank_a AS (
      SELECT probe_id, doc_id, rn AS rank_a FROM (
        SELECT probe_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY bm25 DESC, doc_id) AS rn
        FROM scored
      ) WHERE rn <= {_RRF_TOPK}
    ),
    prior AS (
      SELECT doc_id, rn AS rank_b FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY dl DESC, doc_id) AS rn
        FROM dl
      ) WHERE rn <= {_PRIOR_TOPK}
    ),
    probes AS (SELECT DISTINCT probe_id FROM scored),
    rank_b AS (
      SELECT p.probe_id, prior.doc_id, prior.rank_b
      FROM probes p CROSS JOIN prior
    ),
    fused AS (
      SELECT COALESCE(a.probe_id, b.probe_id) AS probe_id,
             COALESCE(a.doc_id, b.doc_id) AS doc_id,
             a.rank_a, b.rank_b,
             CAST(COALESCE(CAST(round(1.0 / ({_RRF_K} + a.rank_a), 9)
                                AS DECIMAL(28,12)), 0)
                  + COALESCE(CAST(round(1.0 / ({_RRF_K} + b.rank_b), 9)
                                  AS DECIMAL(28,12)), 0) AS DOUBLE) AS rrf
      FROM rank_a a
      FULL JOIN rank_b b ON b.probe_id = a.probe_id AND b.doc_id = a.doc_id
    )
    SELECT probe_id, doc_id,
           CAST(rank_a AS BIGINT) AS rank_a, CAST(rank_b AS BIGINT) AS rank_b,
           round(rrf, 9) AS rrf_score, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                   ORDER BY rrf DESC, doc_id) AS rn
      FROM fused
    ) WHERE rn <= {_RRF_TOPK}
    """,
    tags=("memo",),
)
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankings per probe:
    the BM25 relevance top-10 (text_bm25_rank's exact scoring) and a
    corpus-wide document-length prior top-10, combined by
    RRF(d) = Σ 1/(k + rank_i(d)) with k = 60 — rank-space fusion
    needs no score calibration between heterogeneous rankers, which
    is exactly why RAG stacks use it to merge lexical with
    vector/quality rankings. Output keeps each source rank (NULL when
    the document appears in only one list) so the fusion is auditable.

    Scale: the BM25 ranking reuses the shared scoring pipeline (same
    shuffles as text_bm25_rank — tokenize, tf/df, probe join); the
    prior is a TakeOrdered top-10 over the doc-length frame (no
    global sort); fusion itself is a FULL OUTER join of two ≤10-row
    lists per probe and a per-probe rank window over ≤20 candidates.

    Determinism: ranks are exact integers under total tie-breaks;
    each 1/(k+r) term rounds at 9 dp and the two-term sum is an exact
    decimal add; fused ties break on doc_id."""
    # persist (r14): the whole BM25 scoring pipeline feeds TWO
    # consumers with different downstream shuffles (the probe-id
    # distinct and the (probe_id, doc_id) full join) — without a
    # barrier the tokenize/tf/df cascade evaluates twice
    bm = text_bm25_rank(spark, sf_dir).select(
        "probe_id", "doc_id", F.col("rn").alias("rank_a")
    ).persist()
    tok = _doc_tokens(spark, sf_dir)
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    top_b = dl.orderBy(F.desc("dl"), F.asc("doc_id")).limit(_PRIOR_TOPK)
    # bounded-window: the prior frame is LIMIT 10 rows (query
    # constant); ranking them needs one ≤10-row total order that the
    # prefix-sum kernel cannot express more cheaply.
    wb = Window.orderBy(F.desc("dl"), F.asc("doc_id"))
    prior = top_b.select(
        "doc_id", F.row_number().over(wb).cast("long").alias("rank_b")
    )
    # probes with at least one BM25 hit — mirrors the oracle's
    # DISTINCT over the scored frame (a probe matching nothing gets
    # no fusion rows on either engine)
    probes = bm.select("probe_id").distinct()
    rank_b = probes.crossJoin(F.broadcast(prior))
    term = lambda r: F.coalesce(  # noqa: E731
        F.round(1.0 / (_RRF_K + r), 9).cast("decimal(28,12)"),
        F.lit(0).cast("decimal(28,12)"),
    )
    fused = bm.join(rank_b, ["probe_id", "doc_id"], "full").select(
        "probe_id",
        "doc_id",
        "rank_a",
        "rank_b",
        (term(F.col("rank_a")) + term(F.col("rank_b")))
        .cast("double")
        .alias("rrf"),
    )
    wf = Window.partitionBy("probe_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rn", F.row_number().over(wf).cast("long"))
        .filter(F.col("rn") <= _RRF_TOPK)
        .select(
            "probe_id",
            "doc_id",
            F.col("rank_a").cast("long").alias("rank_a"),
            F.col("rank_b").cast("long").alias("rank_b"),
            F.round("rrf", 9).alias("rrf_score"),
            "rn",
        )
    )


# ---------------------------------------------------------------------------
# sim_more_like_this
# ---------------------------------------------------------------------------

_MLT_PROBES = 5
_MLT_TOPK = 5
_MLT_DF_CAP = 100


@query(
    "sim_more_like_this",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, t.token
      FROM documents,
           unnest(string_split_regex(lower(text), '\s+')) AS t(token)
      WHERE t.token <> ''
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
           GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf),
    wt AS (
      SELECT tf.doc_id, tf.token,
             round(tf.tf * ln((nd.n + 1.0) / (df.df + 1.0)), 6) AS w
      FROM tf JOIN df ON df.token = tf.token CROSS JOIN nd
      WHERE df.df <= {_MLT_DF_CAP}
    ),
    nrm AS (
      SELECT doc_id,
             sqrt(CAST(SUM(CAST(round(w * w, 12) AS DECIMAL(28,14)))
                       AS DOUBLE)) AS nrm
      FROM wt GROUP BY doc_id
    ),
    probes AS (SELECT DISTINCT doc_id FROM wt
               ORDER BY doc_id LIMIT {_MLT_PROBES}),
    dots AS (
      SELECT p.doc_id AS probe_id, c.doc_id AS neighbor_id,
             {dsum_sql('round(p.w * c.w, 12)')} AS dot
      FROM wt p
      JOIN probes pr ON pr.doc_id = p.doc_id
      JOIN wt c ON c.token = p.token AND c.doc_id <> p.doc_id
      GROUP BY p.doc_id, c.doc_id
    ),
    sims AS (
      SELECT d.probe_id, d.neighbor_id,
             round(d.dot / (np.nrm * nc.nrm), 9) AS sim
      FROM dots d
      JOIN nrm np ON np.doc_id = d.probe_id
      JOIN nrm nc ON nc.doc_id = d.neighbor_id
    )
    SELECT probe_id, neighbor_id, sim, CAST(rn AS BIGINT) AS rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                       ORDER BY sim DESC, neighbor_id) AS rn
          FROM sims)
    WHERE rn <= {_MLT_TOPK}
    """,
)
def sim_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical 'more like this': TF-IDF cosine top-5 similar documents
    for the five lowest-id probe documents, computed through the
    inverted index — probe and candidate meet ONLY on shared terms, so
    the pair space is driven by vocabulary overlap, never all-pairs.
    The df ≤ 100 cap drops ubiquitous terms from the match (the
    standard Lucene MoreLikeThis guard): at scale the cap is what
    keeps the hottest posting lists out of the join entirely.

    Scale: tf/df are the shared one-shuffle text statistics; the
    similarity join shuffles on the TERM key (posting-list join) with
    the cap bounding every posting list; per-probe top-5 ranks ≤ the
    probe's candidate set. The embedding-space siblings
    (sim_cosine_topk / sim_ann_*) cover the dense path; this is the
    sparse one.

    Determinism: tf/df/n are exact integers; weights are one ln of an
    exact ratio rounded at 6 dp; dot products and norms accumulate
    12-dp-rounded products in decimals; the similarity is one mirrored
    normalization rounded at 9 dp, ties on neighbor id."""
    tok = _doc_tokens(spark, sf_dir)
    # persist tf and wt (r14): tf feeds df/nd/wt and wt feeds
    # norms/probes/both dot sides — without barriers the tokenize +
    # groupBy pipeline re-evaluates ~7x (r14 plan audit: 29 exchanges)
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf")).persist()
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    nd = tf.agg(F.countDistinct("doc_id").alias("n"))
    wt = (
        tf.join(F.broadcast(df_), "token")
        .crossJoin(F.broadcast(nd))
        .filter(F.col("df") <= _MLT_DF_CAP)
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf")
                * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)),
                6,
            ).alias("w"),
        )
        .persist()
    )
    nrm = wt.groupBy("doc_id").agg(
        F.sqrt(
            F.sum(
                F.round(F.col("w") * F.col("w"), 12).cast("decimal(28,14)")
            ).cast("double")
        ).alias("nrm")
    )
    probes = (
        wt.select("doc_id").distinct().orderBy("doc_id").limit(_MLT_PROBES)
    )
    p = wt.join(probes, "doc_id").select(
        F.col("doc_id").alias("probe_id"),
        "token",
        F.col("w").alias("pw"),
    )
    dots = (
        p.join(wt, "token")
        .filter(F.col("doc_id") != F.col("probe_id"))
        .groupBy("probe_id", F.col("doc_id").alias("neighbor_id"))
        .agg(
            F.sum(
                F.round(F.col("pw") * F.col("w"), 12).cast(DEC)
            )
            .cast("double")
            .alias("dot")
        )
    )
    sims = (
        dots.join(
            nrm.select(
                F.col("doc_id").alias("probe_id"),
                F.col("nrm").alias("np"),
            ),
            "probe_id",
        )
        .join(
            nrm.select(
                F.col("doc_id").alias("neighbor_id"),
                F.col("nrm").alias("nc"),
            ),
            "neighbor_id",
        )
        .select(
            "probe_id",
            "neighbor_id",
            F.round(F.col("dot") / (F.col("np") * F.col("nc")), 9).alias(
                "sim"
            ),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        sims.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _MLT_TOPK)
    )


# --------------------------------------------------------------------------
# sim_ann_recall
# --------------------------------------------------------------------------

# sim_ann_lsh's deployed parameters and projection matrix now live in
# functions/xengine.py (shared with the detector); re-exported above.

_ANN_K = 5  # ground truth: sim_knn_per_query's exact top-5


# bit-identical to the older SUM-over-range(64) form but per-row
# vectorized — the sf1 all-pairs truth CTE needs it (similarity.py note)
_KNN_DOT = "list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])"


#: shared WITH-body: exact top-5 truth pairs + per-pair LSH/IVF catch
#: flags (carrying query_id/neighbor_id through). Consumed by the
#: sim_ann_recall oracle (grouped by rank) and the
#: ann_recall_under_churn oracle (grouped by churn class).
_ANN_FLAGS_CTES = f"""{_km_ctes()},
    nv AS (
      SELECT vec_id, label, embedding,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    ),
    exact AS MATERIALIZED (
      -- sim is projected in an inner derived table so the |q|x|c|
      -- window input carries (id, id, sim), NOT two 64-float lists —
      -- at sf1 the inline form materialized ~22 GB into the rank sort
      -- (x2: the consumers scan flags twice), which is what
      -- MATERIALIZED also prevents re-evaluating (BENCH_NOTES r14)
      SELECT query_id, neighbor_id, rn FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id
                 ORDER BY sim DESC, neighbor_id
               ) AS rn
        FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 round({_KNN_DOT} / (q.nrm * c.nrm), 9) AS sim
          FROM nv q JOIN nv c ON q.vec_id <> c.vec_id
          WHERE q.label = 0
        )
      ) WHERE rn <= {_ANN_K}
    ),
    lshb AS (
      SELECT vec_id,
             CAST(floor(round({_lsh_dot_sql('embedding', 0)}, 9)
                        / {_LSH_BUCKET_LEN}) AS BIGINT) AS b0,
             CAST(floor(round({_lsh_dot_sql('embedding', 1)}, 9)
                        / {_LSH_BUCKET_LEN}) AS BIGINT) AS b1
      FROM embeddings
    ),
    probes AS (
      SELECT vec_id,
             MAX(CASE WHEN prn = 1 THEN cid END) AS p1,
             MAX(CASE WHEN prn = 2 THEN cid END) AS p2
      FROM (
        SELECT v.vec_id, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY round({_km_dist_sql('v.emb', 'c.emb')}, 9), c.cid
               ) AS prn
        FROM v CROSS JOIN c3 c
      ) WHERE prn <= 2
      GROUP BY vec_id
    ),
    flags AS MATERIALIZED (
      SELECT e.rn, e.query_id, e.neighbor_id,
             CASE WHEN (la.b0 = lb.b0 OR la.b1 = lb.b1)
                   AND round({_d2_sql('qe.embedding', 'ne.embedding')}, 9)
                       <= {_LSH_RADIUS * _LSH_RADIUS}
                  THEN 1 ELSE 0 END AS lsh_caught,
             CASE WHEN fn.cid = pq.p1 OR fn.cid = pq.p2
                  THEN 1 ELSE 0 END AS ivf_caught
      FROM exact e
      JOIN embeddings qe ON qe.vec_id = e.query_id
      JOIN embeddings ne ON ne.vec_id = e.neighbor_id
      JOIN lshb la ON la.vec_id = e.query_id
      JOIN lshb lb ON lb.vec_id = e.neighbor_id
      JOIN probes pq ON pq.vec_id = e.query_id
      JOIN fin fn ON fn.vec_id = e.neighbor_id
    )"""


@query(
    "sim_ann_recall",
    oracle=f"""
    WITH {_ANN_FLAGS_CTES},
    unioned AS (
      SELECT rn, 'lsh' AS family, lsh_caught AS caught FROM flags
      UNION ALL
      SELECT rn, 'ivf' AS family, ivf_caught AS caught FROM flags
    )
    SELECT family, CAST(rn AS INT) AS rn,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(caught) AS BIGINT) AS n_caught,
           round(SUM(caught) / CAST(COUNT(*) AS DOUBLE), 6) AS recall
    FROM unioned
    GROUP BY family, rn
    """,
    tags=("memo",),
)
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hit-rate of the two ANN families against the exact per-query
    top-5 (``sim_knn_per_query``'s hash-checked GEMM result), by
    neighbor rank — the driver-visible quality row behind
    ``sim_ann_lsh`` and ``sim_ann_ivf`` (both rows-only by design).

    - **lsh**: a true neighbor is caught iff the pair shares a bucket
      in ≥ 1 of the 2 deployed hash tables (the exact seed-7 projection
      matrix and bucket width of similarity.py:292, embedded as double
      literals in both engines) AND sits inside the deployed radius
      1.2 — the end-to-end emission condition of ``sim_ann_lsh``.
      Bucketing floors a 9-dp-rounded dot product, so the discontinuity
      consumes an identical double in both engines.
    - **ivf**: caught iff the neighbor's home cell is among the query's
      nprobe=2 nearest centroids — ``sim_ann_ivf``'s probe rule under
      the full-corpus deterministic Lloyd quantizer (_km_fit,
      whose SQL replay already hash-passes) in place of the NumPy
      512-sample fit, which no SQL engine can replay.

    Scale: ground truth is |label-0 queries| × 5 rows; every join in
    the flag frame is keyed on vec_id against linear frames (buckets,
    probes, home cells) — the recall layer adds nothing quadratic on
    top of the exact-kNN baseline it measures.

    Warm-up tag ``memo``: the catch-flag frame (``_ann_flag_frame``) is
    a session memo shared with ``ann_recall_under_churn``."""
    flags = _ann_flag_frame(spark, sf_dir)
    return flags.groupBy("family", "rn").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("caught").cast("long").alias("n_caught"),
        F.round(
            F.sum("caught").cast("double") / F.count(F.lit(1)), 6
        ).alias("recall"),
    )


def _ann_flag_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(rn, query_id, neighbor_id, family, caught) for every exact
    top-5 truth pair × (lsh | ivf) — the Spark twin of
    ``_ANN_FLAGS_CTES``, shared by ``sim_ann_recall`` (grouped by
    rank) and ``ann_recall_under_churn`` (grouped by churn class). Session-memoized (|queries|·5·2 rows): the exact-kNN
    GEMM ground truth and the six vec_id-keyed joins behind the flags
    run once per (session, sf) however many consumers group over them —
    a pure function of the embeddings table, so the memo is
    contract-legal (a fresh session re-derives it on a clean miss)."""
    import os

    from python_etl_sample_spark.cache import cached_df

    return cached_df(
        spark,
        ("ann_catch_flags", os.path.abspath(sf_dir)),
        lambda: _ann_flag_frame_build(spark, sf_dir),
    )


def _ann_flag_frame_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = sim_knn_per_query(spark, sf_dir).select("query_id", "neighbor_id", "rn")

    e = table(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")

    lshb = e.select(
        "vec_id",
        lsh_bucket_col(vec, 0).alias("b0"),
        lsh_bucket_col(vec, 1).alias("b1"),
    )

    assigned, cents = _km_fit(spark, sf_dir)
    pdists = F.array_sort(_km_dists(cents))
    probes = assigned.select(
        "vec_id",
        pdists[0]["cid"].alias("p1"),
        pdists[1]["cid"].alias("p2"),
    )
    home = assigned.select("vec_id", "cid")

    emb = e.select("vec_id", vec.alias("v"))
    qd = (
        exact.join(
            emb.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv")),
            "query_id",
        )
        .join(
            emb.select(
                F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv")
            ),
            "neighbor_id",
        )
        .join(
            lshb.select(
                F.col("vec_id").alias("query_id"),
                F.col("b0").alias("qb0"),
                F.col("b1").alias("qb1"),
            ),
            "query_id",
        )
        .join(
            lshb.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("b0").alias("nb0"),
                F.col("b1").alias("nb1"),
            ),
            "neighbor_id",
        )
        .join(
            probes.select(
                F.col("vec_id").alias("query_id"), "p1", "p2"
            ),
            "query_id",
        )
        .join(
            home.select(
                F.col("vec_id").alias("neighbor_id"), F.col("cid").alias("ncid")
            ),
            "neighbor_id",
        )
    )
    d2 = F.round(_d2(F.col("qv"), F.col("nv")), 9)
    lsh_caught = (
        ((F.col("qb0") == F.col("nb0")) | (F.col("qb1") == F.col("nb1")))
        & (d2 <= F.lit(_LSH_RADIUS * _LSH_RADIUS))
    )
    ivf_caught = (F.col("ncid") == F.col("p1")) | (F.col("ncid") == F.col("p2"))
    return qd.select(
        "rn",
        "query_id",
        "neighbor_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit("lsh").alias("family"),
                    F.when(lsh_caught, 1).otherwise(0).alias("caught"),
                ),
                F.struct(
                    F.lit("ivf").alias("family"),
                    F.when(ivf_caught, 1).otherwise(0).alias("caught"),
                ),
            )
        ).alias("fc"),
    ).select(
        "rn",
        "query_id",
        "neighbor_id",
        F.col("fc.family").alias("family"),
        F.col("fc.caught").alias("caught"),
    )


# --------------------------------------------------------------------------
# sim_pq_adc
# --------------------------------------------------------------------------

_PQ_SUBS = 8  # subspaces (64 dims → 8 × 8)
_PQ_SUBDIM = 8
_PQ_K = 16  # codebook entries per subspace
_PQ_TOPK = 5


def _pq_dist_sql(a: str, b: str) -> str:
    """Squared L2 between two 8-dim list slices, 9-dp-rounded and
    scaled to an exact BIGINT (the same round-then-scale guard every
    discontinuous comparison in this repo uses)."""
    return (
        f"CAST(round(round((SELECT SUM(({a}[i+1] - {b}[i+1])"
        f" * ({a}[i+1] - {b}[i+1])) FROM range({_PQ_SUBDIM}) t(i)), 9)"
        f" * 1e9, 0) AS BIGINT)"
    )


#: shared WITH-body: corpus → codebook → subvectors → distances →
#: codes + query lookup tables. Reused verbatim by the exhaustive-scan
#: oracle (sim_pq_adc) and the IVF-bounded one (sim_pq_ivf_adc).
_PQ_CTES = f"""
    x AS (
      SELECT vec_id, label,
             list_transform(embedding, e -> e::DOUBLE) AS emb
      FROM embeddings
    ),
    cb AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             emb
      FROM (SELECT vec_id, emb FROM x ORDER BY vec_id LIMIT {_PQ_K})
    ),
    centers AS MATERIALIZED (
      SELECT CAST(t.i AS INT) AS s, cb.cid AS c,
             list_slice(cb.emb, t.i * {_PQ_SUBDIM} + 1,
                        t.i * {_PQ_SUBDIM} + {_PQ_SUBDIM}) AS cen
      FROM cb CROSS JOIN range({_PQ_SUBS}) t(i)
    ),
    sub AS MATERIALIZED (
      SELECT vec_id, label, CAST(t.i AS INT) AS s,
             list_slice(emb, t.i * {_PQ_SUBDIM} + 1,
                        t.i * {_PQ_SUBDIM} + {_PQ_SUBDIM}) AS sub
      FROM x CROSS JOIN range({_PQ_SUBS}) t(i)
    ),
    dists AS MATERIALIZED (
      SELECT sub.vec_id, sub.s, centers.c,
             {_pq_dist_sql("sub.sub", "centers.cen")} AS d9
      FROM sub JOIN centers ON centers.s = sub.s
    ),
    codes AS MATERIALIZED (
      SELECT vec_id, s, c AS code
      FROM (SELECT vec_id, s, c,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY d9, c) AS rn
            FROM dists)
      WHERE rn = 1
    ),
    lut AS MATERIALIZED (
      SELECT sub.vec_id AS query_id, sub.s, centers.c,
             {_pq_dist_sql("sub.sub", "centers.cen")} AS d9
      FROM sub JOIN centers ON centers.s = sub.s
      WHERE sub.label = 0
    )"""

_PQ_ORACLE = f"""
    WITH {_PQ_CTES},
    adc AS MATERIALIZED (
      SELECT l.query_id, co.vec_id AS neighbor_id,
             SUM(l.d9) AS adc_scaled
      FROM codes co JOIN lut l ON l.s = co.s AND l.c = co.code
      WHERE co.vec_id != l.query_id
      GROUP BY l.query_id, co.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, adc_scaled,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc_scaled, neighbor_id)
                  AS INT) AS rn
      FROM adc
    )
    SELECT query_id, neighbor_id, rn,
           round(adc_scaled / 1e9, 9) AS adc_dist
    FROM ranked WHERE rn <= {_PQ_TOPK}
"""


def _pq_dists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, s, c, d9): every vector's 9-dp-rounded scaled
    squared L2 to every (subspace, codebook-center) pair — the frame
    both the code assignment and the query lookup tables derive from.
    Memoized per (session, sf_dir) via cached_df: the exhaustive scan
    (sim_pq_adc) and the IVF-bounded scan (sim_pq_ivf_adc) consume the
    identical deterministic frame, and it is a pure function of the
    table (the _km_fit memo precedent)."""

    def build() -> DataFrame:
        x = table(spark, sf_dir, "embeddings").select(
            "vec_id",
            "label",
            F.col("embedding").cast("array<double>").alias("emb"),
        )
        # deterministic codebook: 16 lowest vec_ids (TakeOrdered — a
        # bounded 16-row frame, never the corpus); cid by that order
        # bounded-window: 16-row codebook frame (LIMIT above), constant
        cb = (
            x.orderBy("vec_id")
            .limit(_PQ_K)
            .select(
                (F.row_number().over(Window.orderBy("vec_id")) - 1)
                .cast("int")
                .alias("c"),
                "emb",
            )
        )
        subspaces = F.array(
            *[
                F.slice("emb", s * _PQ_SUBDIM + 1, _PQ_SUBDIM)
                for s in range(_PQ_SUBS)
            ]
        )
        centers = cb.select("c", F.posexplode(subspaces).alias("s", "cen"))
        sub = x.select(
            "vec_id", "label", F.posexplode(subspaces).alias("s", "sub")
        )
        # squared L2, 9-dp-rounded, scaled to exact BIGINT (module doc)
        d9 = F.round(
            F.round(_d2(F.col("sub"), F.col("cen")), 9) * 1e9, 0
        ).cast("bigint")
        return sub.join(F.broadcast(centers), "s").select(
            "vec_id", "label", "s", "c", d9.alias("d9")
        )

    return cached_df(spark, ("pq_dists", os.path.abspath(sf_dir)), build)


def _pq_codes_lut(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Derive the code assignment (vec_id, s, code) and the query
    lookup tables (query_id, s, c, d9) from the memoized dists frame.
    The min-struct argmin with center-id tie-break ≡ the oracle's
    (d9, c) row_number."""
    dists = _pq_dists(spark, sf_dir)
    codes = (
        dists.groupBy("vec_id", "s")
        .agg(F.min(F.struct("d9", "c")).alias("m"))
        .select("vec_id", "s", F.col("m.c").alias("code"))
    )
    lut = dists.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("query_id"), "s", "c", "d9"
    )
    return codes, lut


def _pq_adc_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, vec_id, adc_scaled): the exhaustive asymmetric-
    distance frame — every query's ADC sum to every other vector.
    Session-memoized (the detector-RESULT-frame precedent from round
    10's recall queries): the exhaustive scan (sim_pq_adc) ranks it,
    and the nprobe sweep (sim_ivf_nprobe_sweep) uses its
    top-5 as ground truth — one evaluation serves both, and both carry
    the ``memo`` warm-up tag (their bench JSON label is
    "shared_intermediate")."""

    def build() -> DataFrame:
        codes, lut = _pq_codes_lut(spark, sf_dir)
        return (
            codes.join(
                F.broadcast(lut),
                (codes.s == lut.s)
                & (codes.code == lut.c)
                & (codes.vec_id != lut.query_id),
            )
            .groupBy("query_id", "vec_id")
            .agg(F.sum("d9").alias("adc_scaled"))
        )

    return cached_df(spark, ("pq_adc_frame", os.path.abspath(sf_dir)), build)


def _pq_topk(adc: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, rn, adc_dist): each query's _PQ_TOPK
    nearest of an ADC frame (query_id, vec_id, adc_scaled), ties broken
    on vec_id."""
    w = Window.partitionBy("query_id").orderBy("adc_scaled", "vec_id")
    return (
        adc.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= _PQ_TOPK)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rn",
            F.round(F.col("adc_scaled") / 1e9, 9).alias("adc_dist"),
        )
    )


def _ivf_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, emb): the label-0 query vectors the IVF tier probes."""
    return table(spark, sf_dir, "embeddings").filter(F.col("label") == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )


@query("sim_pq_adc", oracle=_PQ_ORACLE, tags=("memo",))
def sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation:
    64-dim vectors split into 8 subspaces of 8 dims; each subvector is
    encoded as its nearest of 16 codebook centers; a query's distance
    to a compressed vector is the sum of 8 precomputed
    query-to-center lookup-table entries (ADC); top-5 neighbors per
    label-0 query under (distance, id). The codebook is deterministic
    — the subvectors of the 16 lowest-vec_id corpus rows — so unlike
    the LSH/IVF tiers the whole pipeline replays in SQL and the
    OUTPUT is hash-checked, not just its recall.

    Determinism: every squared subdistance is 9-dp-rounded then scaled
    to an exact BIGINT before the encode argmin (min-struct with
    center-id tie-break ≡ the oracle's (d9, c) row_number), so code
    assignment and the integer ADC sums are bit-equal across engines;
    the ≤1-ulp float fold divergence the 9-dp round absorbs is the
    similarity.py precedent (verified there at the grading scales).

    Scale (100 TB): this is FAISS's IndexPQ scan shape. Encoding is a
    16-row-broadcast join + one partial-aggregated shuffle keyed
    (vec_id, s) — linear in the corpus, 128 tiny rows per vector in
    flight, and the stored representation is 8 small ints per vector
    (64 B float32 → 8 B codes, the 8× compression that makes exhaustive
    scans affordable). The ADC scan joins codes to the broadcast
    lookup table on (s, code) — #queries × #docs × 8 rows, partially
    aggregated map-side before the (query, doc) shuffle. The quadratic
    query×corpus term is inherent to exhaustive ADC; the at-scale
    composition is IVF lists bounding the candidates THEN this exact
    plan over the survivors (IVFADC), which changes only the `codes`
    input.

    Measured quality at sf0.001: recall@5 vs exact L2 is 0.143 (vs
    0.019 for random picks) — the isotropic Gaussian fixtures are PQ's
    worst case (distances concentrate; a sample codebook captures no
    cluster structure; K=128 only reaches 0.232), so the pinned claim
    (tests/test_round10b_ops.py) is order-of-magnitude-above-chance
    ranking, with the exact replay — not fixture recall — as the point.

    Warm-up tag ``memo``: the PQ distance frame (codes + query LUTs) is
    a session memo shared with ``sim_pq_ivf_adc``, so bench's timed
    number is this scan's own ranking pass."""
    return _pq_topk(_pq_adc_frame(spark, sf_dir))

# --------------------------------------------------------------------------
# sim_pq_ivf_adc — the IVFADC composition
# --------------------------------------------------------------------------

_PQ_NPROBE = 2

_IVFADC_ORACLE = f"""
    WITH {_km_ctes()},
    {_PQ_CTES},
    probes AS MATERIALIZED (
      SELECT query_id, cid FROM (
        SELECT x.vec_id AS query_id, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY round({_km_dist_sql('x.emb', 'c.emb')}, 9), c.cid
               ) AS rn
        FROM x CROSS JOIN c{_KM_ROUNDS} c
        WHERE x.label = 0
      ) WHERE rn <= {_PQ_NPROBE}
    ),
    cand AS MATERIALIZED (
      SELECT p.query_id, f.vec_id
      FROM probes p JOIN fin f ON f.cid = p.cid
      WHERE f.vec_id != p.query_id
    ),
    iadc AS MATERIALIZED (
      SELECT ca.query_id, ca.vec_id AS neighbor_id, SUM(l.d9) AS adc_scaled
      FROM cand ca
      JOIN codes co ON co.vec_id = ca.vec_id
      JOIN lut l ON l.query_id = ca.query_id
               AND l.s = co.s AND l.c = co.code
      GROUP BY ca.query_id, ca.vec_id
    ),
    iranked AS (
      SELECT query_id, neighbor_id, adc_scaled,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc_scaled, neighbor_id)
                  AS INT) AS rn
      FROM iadc
    )
    SELECT query_id, neighbor_id, rn,
           round(adc_scaled / 1e9, 9) AS adc_dist
    FROM iranked WHERE rn <= {_PQ_TOPK}
"""


@query("sim_pq_ivf_adc", oracle=_IVFADC_ORACLE, tags=("memo",))
def sim_pq_ivf_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC — the composition sim_pq_adc's docstring names as the
    at-scale path, assembled from two already-hash-checked tiers: the
    deterministic Lloyd quantizer (_km_fit, 8 cells) bounds
    each query's candidates to its nprobe=2 nearest cells' inverted
    lists, and the PQ asymmetric-distance scan (the memoized codes /
    lookup tables of _pq_codes_lut) ranks ONLY those survivors. This
    is FAISS's IndexIVFPQ shape — the standard billion-scale ANN
    layout — and, like sim_pq_adc, its OUTPUT hash-checks end to end
    because every ingredient (cell assignment, probe choice, code
    assignment, ADC sums) is a 9-dp-rounded-then-exact-integer
    decision both engines replay.

    Scale (100 TB): the exhaustive ADC scan's #queries × #docs term
    becomes #queries × (nprobe/k) × #docs — the candidate join is
    probes ⋈ home-cells on cid (equi-join against the linear inverted
    lists), then codes and the broadcast LUT attach by key. Nothing
    quadratic, nothing collected (the centroid literal is the k×64
    constant the k-means family already ships in closures). Recall
    retention vs the exhaustive scan is pinned in
    tests/test_round10b_ops.py; shared ADC values are bit-identical to
    sim_pq_adc's by construction (same memoized frame)."""
    codes, lut = _pq_codes_lut(spark, sf_dir)
    assigned, cents = _km_fit(spark, sf_dir)
    home = assigned.select("vec_id", "cid")

    pdists = F.array_sort(_km_dists(cents))
    probes = _ivf_queries(spark, sf_dir).select(
        "query_id", F.explode(F.slice(pdists, 1, _PQ_NPROBE)).alias("p")
    ).select("query_id", F.col("p.cid").alias("cid"))
    cand = probes.join(home, "cid").filter(
        F.col("vec_id") != F.col("query_id")
    ).select("query_id", "vec_id")
    lut_r = lut.select(
        F.col("query_id").alias("qid"),
        F.col("s").alias("ls"),
        F.col("c").alias("lc"),
        "d9",
    )
    adc = (
        cand.join(codes, "vec_id")
        .join(
            F.broadcast(lut_r),
            (F.col("query_id") == F.col("qid"))
            & (F.col("s") == F.col("ls"))
            & (F.col("code") == F.col("lc")),
        )
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d9").alias("adc_scaled"))
    )
    return _pq_topk(adc)


_NPROBES = (1, 2, 4, 8)  # 8 = k: the exhaustive anchor

_CAND_COLS_SQL = ",\n             ".join(
    f"CAST(SUM(CASE WHEN cr.rnk <= {np} THEN cs.n ELSE 0 END) AS BIGINT)"
    f" AS cand{np}"
    for np in _NPROBES
)
_SELF_COLS_SQL = ",\n             ".join(
    f"COUNT(*) FILTER (WHERE ownrnk <= {np}) AS self{np}" for np in _NPROBES
)
_COV_COLS_SQL = ",\n             ".join(
    f"COUNT(*) FILTER (WHERE nrank <= {np}) AS cov{np}" for np in _NPROBES
)
_ROWS_SQL = "\n      UNION ALL ".join(
    f"""SELECT CAST({np} AS INT) AS nprobe, b.n_queries,
             a.cand{np} - b.self{np} AS n_candidates,
             round((a.cand{np} - b.self{np})
                   / CAST(b.n_queries AS DOUBLE), 6) AS avg_cand_per_query,
             c.n_top5, c.cov{np} AS n_covered,
             round(c.cov{np} / CAST(c.n_top5 AS DOUBLE), 6) AS retention
      FROM a CROSS JOIN b CROSS JOIN c"""
    for np in _NPROBES
)


@query(
    "sim_ivf_nprobe_sweep",
    oracle=f"""
    WITH {_km_ctes()},
    {_PQ_CTES},
    adc AS MATERIALIZED (
      SELECT l.query_id, co.vec_id AS neighbor_id,
             SUM(l.d9) AS adc_scaled
      FROM codes co JOIN lut l ON l.s = co.s AND l.c = co.code
      WHERE co.vec_id != l.query_id
      GROUP BY l.query_id, co.vec_id
    ),
    top5 AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_scaled, neighbor_id) AS rn
        FROM adc
      ) WHERE rn <= {_PQ_TOPK}
    ),
    cellrank AS MATERIALIZED (
      SELECT x.vec_id AS query_id, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY x.vec_id
               ORDER BY round({_km_dist_sql('x.emb', 'c.emb')}, 9), c.cid
             ) AS rnk
      FROM x CROSS JOIN c{_KM_ROUNDS} c
      WHERE x.label = 0
    ),
    csize AS MATERIALIZED (SELECT cid, COUNT(*) AS n FROM fin GROUP BY cid),
    own AS MATERIALIZED (
      SELECT cr.rnk AS ownrnk
      FROM cellrank cr
      JOIN fin f ON f.vec_id = cr.query_id AND f.cid = cr.cid
    ),
    nr AS MATERIALIZED (
      SELECT cr.rnk AS nrank
      FROM top5 t
      JOIN fin f ON f.vec_id = t.neighbor_id
      JOIN cellrank cr ON cr.query_id = t.query_id AND cr.cid = f.cid
    ),
    a AS (
      SELECT {_CAND_COLS_SQL}
      FROM cellrank cr JOIN csize cs ON cs.cid = cr.cid
    ),
    b AS (
      SELECT COUNT(*) AS n_queries,
             {_SELF_COLS_SQL}
      FROM own
    ),
    c AS (
      SELECT COUNT(*) AS n_top5,
             {_COV_COLS_SQL}
      FROM nr
    )
    {_ROWS_SQL}
    """,
    tags=("memo",),
)
def sim_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF nprobe sweep: for nprobe ∈ 1/2/4/8 over the 8-cell Lloyd
    quantizer, (a) how many candidates the ADC scan would score —
    computed ANALYTICALLY as Σ|probed cells| − self, never materialized
    — and (b) what fraction of the exhaustive PQ scan's top-5 the
    probed cells retain (a top-5 neighbor is reachable at nprobe n iff
    its home cell ranks ≤ n in the query's probe order). nprobe = 8
    probes every cell, so its row is the exhaustive anchor: retention
    exactly 1.0 at full candidate cost. The deployed nprobe = 2
    (sim_pq_ivf_adc) sits inside the sweep, bracketed by driver-visible
    alternatives — the same closure dedup_minhash_param_sweep gave the
    banding geometry.

    Scale: the corpus-sized work is the exhaustive ADC ground truth
    (the memoized PQ distance frame); everything config-dependent is
    arithmetic over (query × 8 cells) rank rows, the 8-row cell-size
    table, and 5·|queries| top-5 pairs. Adding configs adds columns to
    three tiny aggregates, not passes over data.

    Determinism: probe order is the 9-dp-rounded L2 with cid
    tie-break (IVFADC's construction verbatim); ADC sums are exact
    scaled BIGINTs; counts exact; the two ratios mirrored 6-dp."""
    assigned, cents = _km_fit(spark, sf_dir)
    home = assigned.select("vec_id", "cid")
    csize = home.groupBy("cid").agg(F.count(F.lit(1)).alias("n"))

    cellrank = _ivf_queries(spark, sf_dir).select(
        "query_id", F.posexplode(F.array_sort(_km_dists(cents))).alias("pos", "p")
    ).select(
        "query_id",
        (F.col("pos") + 1).alias("rnk"),
        F.col("p.cid").alias("cid"),
    )

    own = cellrank.join(
        home.withColumnRenamed("vec_id", "query_id"), ["query_id", "cid"]
    ).select(F.col("rnk").alias("ownrnk"))

    # exhaustive ADC ground truth: the memoized frame sim_pq_adc ranks
    adc = _pq_adc_frame(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy("adc_scaled", "vec_id")
    top5 = (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PQ_TOPK)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    nr = (
        top5.join(
            home.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
        )
        .join(cellrank, ["query_id", "cid"])
        .select(F.col("rnk").alias("nrank"))
    )

    a = cellrank.join(F.broadcast(csize), "cid").agg(
        *[
            F.sum(F.when(F.col("rnk") <= np, F.col("n")).otherwise(0))
            .cast("long")
            .alias(f"cand{np}")
            for np in _NPROBES
        ]
    )
    b = own.agg(
        F.count(F.lit(1)).alias("n_queries"),
        *[
            F.count(F.when(F.col("ownrnk") <= np, 1)).alias(f"self{np}")
            for np in _NPROBES
        ],
    )
    c = nr.agg(
        F.count(F.lit(1)).alias("n_top5"),
        *[
            F.count(F.when(F.col("nrank") <= np, 1)).alias(f"cov{np}")
            for np in _NPROBES
        ],
    )
    wide = a.crossJoin(F.broadcast(b)).crossJoin(F.broadcast(c))
    # ONE evaluation of the three aggregate chains: the four config rows
    # explode from an array of structs over the single wide row (a
    # 4-branch union would re-execute every chain per branch — the
    # pipeline_dedup_funnel lesson)
    per_np = [
        F.struct(
            F.lit(np).cast("int").alias("nprobe"),
            (F.col(f"cand{np}") - F.col(f"self{np}"))
            .cast("long")
            .alias("n_candidates"),
            F.round(
                (F.col(f"cand{np}") - F.col(f"self{np}")).cast("double")
                / F.col("n_queries").cast("double"),
                6,
            ).alias("avg_cand_per_query"),
            F.col(f"cov{np}").cast("long").alias("n_covered"),
            F.round(
                F.col(f"cov{np}").cast("double")
                / F.col("n_top5").cast("double"),
                6,
            ).alias("retention"),
        )
        for np in _NPROBES
    ]
    return wide.select(
        "n_queries", "n_top5", F.explode(F.array(*per_np)).alias("e")
    ).select(
        F.col("e.nprobe").alias("nprobe"),
        "n_queries",
        F.col("e.n_candidates").alias("n_candidates"),
        F.col("e.avg_cand_per_query").alias("avg_cand_per_query"),
        "n_top5",
        F.col("e.n_covered").alias("n_covered"),
        F.col("e.retention").alias("retention"),
    )


# --------------------------------------------------------------------------
# sim_lsh_radius_sweep
# --------------------------------------------------------------------------

#: candidate radii around the deployed 1.2 (similarity.py): the sweep
#: shows what the emission rule would catch at each setting.
_LSH_RADII = (1.0, 1.2, 1.4)


def _sweep_knn_dot() -> str:
    # bit-identical to the older SUM-over-range(64) form but per-row
    # vectorized — sf1 all-pairs tractability (similarity.py note)
    return "list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])"


@query(
    "sim_lsh_radius_sweep",
    oracle=f"""
    WITH nv AS (
      SELECT vec_id, label, embedding,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    ),
    exact AS MATERIALIZED (
      -- sim projected before the rank window so the |q|x|c| sort
      -- carries ids + sim, not embedding lists (sf1 memory blow-up;
      -- see round10_ops._ANN_FLAGS_CTES)
      SELECT query_id, neighbor_id, rn FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id
                 ORDER BY sim DESC, neighbor_id
               ) AS rn
        FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 round({_sweep_knn_dot()} / (q.nrm * c.nrm), 9) AS sim
          FROM nv q JOIN nv c ON q.vec_id <> c.vec_id
          WHERE q.label = 0
        )
      ) WHERE rn <= 5
    ),
    lshb AS (
      SELECT vec_id,
             CAST(floor(round({xe._lsh_dot_sql('embedding', 0)}, 9)
                        / {xe._LSH_BUCKET_LEN}) AS BIGINT) AS b0,
             CAST(floor(round({xe._lsh_dot_sql('embedding', 1)}, 9)
                        / {xe._LSH_BUCKET_LEN}) AS BIGINT) AS b1
      FROM embeddings
    ),
    flags AS MATERIALIZED (
      SELECT e.rn,
             CASE WHEN la.b0 = lb.b0 OR la.b1 = lb.b1 THEN 1 ELSE 0 END
               AS bucketed,
             round({xe._d2_sql('qe.embedding', 'ne.embedding')}, 9) AS d2
      FROM exact e
      JOIN embeddings qe ON qe.vec_id = e.query_id
      JOIN embeddings ne ON ne.vec_id = e.neighbor_id
      JOIN lshb la ON la.vec_id = e.query_id
      JOIN lshb lb ON lb.vec_id = e.neighbor_id
    ),
    sweep AS (
      {" UNION ALL ".join(
        f"SELECT {r} AS radius, rn, bucketed, d2 FROM flags"
        for r in _LSH_RADII
      )}
    )
    SELECT radius, CAST(rn AS INT) AS rn,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN bucketed = 1 AND d2 <= radius * radius
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_caught,
           round(SUM(CASE WHEN bucketed = 1 AND d2 <= radius * radius
                          THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)
             AS recall
    FROM sweep
    GROUP BY radius, rn
    """,
    tags=("memo",),
)
def sim_lsh_radius_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-radius curve for the deployed LSH emission rule
    (shared bucket in ≥ 1 of the 2 seed-7 tables AND distance within
    the radius), against the exact per-query top-5, for radii 1.0 /
    1.2 (deployed) / 1.4 — the tuning sweep that justifies
    sim_ann_lsh's radius choice as driver-visible data, exactly as
    sim_ivf_nprobe_sweep does for the IVF tier's nprobe.

    One flag frame (bucket match + 9-dp-rounded distance per true
    neighbor pair) is exploded across the radii — radius only enters
    the final CASE, so the sweep costs one aggregation more than a
    single-radius recall, not 3 evaluations (the
    dedup_minhash_param_sweep lesson).

    Scale: ground truth is |label-0 queries|·5 rows; every join is
    vec_id-keyed against linear frames; nothing quadratic beyond the
    exact-kNN baseline being measured."""

    exact = sim_knn_per_query(spark, sf_dir).select(
        "query_id", "neighbor_id", "rn"
    )
    e = table(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    # r14: one side frame carrying (vector, both bucket ids) — the old
    # four joins (vector and buckets attached separately per side)
    # evaluated the embeddings scan + bucket projections four times;
    # two joins against the combined frame attach everything each side
    # needs in one pass (guide §2.4)
    side = e.select(
        "vec_id",
        vec.alias("v"),
        xe.lsh_bucket_col(vec, 0).alias("b0"),
        xe.lsh_bucket_col(vec, 1).alias("b1"),
    )
    qd = exact.join(
        side.select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("b0").alias("qb0"),
            F.col("b1").alias("qb1"),
        ),
        "query_id",
    ).join(
        side.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("v").alias("nv"),
            F.col("b0").alias("nb0"),
            F.col("b1").alias("nb1"),
        ),
        "neighbor_id",
    )
    d2 = F.round(_d2(F.col("qv"), F.col("nv")), 9)
    bucketed = F.when(
        (F.col("qb0") == F.col("nb0")) | (F.col("qb1") == F.col("nb1")), 1
    ).otherwise(0)
    flags = qd.select(
        "rn", bucketed.alias("bucketed"), d2.alias("d2")
    )
    sweep = flags.select(
        "rn",
        "bucketed",
        "d2",
        F.explode(
            F.array(*[F.lit(float(r)) for r in _LSH_RADII])
        ).alias("radius"),
    )
    caught = F.when(
        (F.col("bucketed") == 1)
        & (F.col("d2") <= F.col("radius") * F.col("radius")),
        1,
    ).otherwise(0)
    return sweep.groupBy("radius", "rn").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(caught).cast("long").alias("n_caught"),
        F.round(
            F.sum(caught).cast("double") / F.count(F.lit(1)), 6
        ).alias("recall"),
    )


# --------------------------------------------------------------------------
# ann_recall_under_churn
# --------------------------------------------------------------------------

_CHURN_MOD = 10  # every vec_id ≡ 0 (mod 10): the deterministic 10%


@query(
    "ann_recall_under_churn",
    oracle=f"""
    WITH {_ANN_FLAGS_CTES},
    unioned AS (
      SELECT CASE WHEN query_id % {_CHURN_MOD} = 0
                    OR neighbor_id % {_CHURN_MOD} = 0
                  THEN 'churned' ELSE 'retained' END AS pair_class,
             'lsh' AS family, lsh_caught AS caught FROM flags
      UNION ALL
      SELECT CASE WHEN query_id % {_CHURN_MOD} = 0
                    OR neighbor_id % {_CHURN_MOD} = 0
                  THEN 'churned' ELSE 'retained' END AS pair_class,
             'ivf' AS family, ivf_caught AS caught FROM flags
    )
    SELECT family, pair_class,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(caught) AS BIGINT) AS n_caught,
           round(SUM(caught) / CAST(COUNT(*) AS DOUBLE), 6) AS recall
    FROM unioned
    GROUP BY family, pair_class
    """,
    tags=("memo",),
)
def ann_recall_under_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall under deterministic index churn: every vec_id ≡ 0
    (mod 10) is deleted and re-ingested (same payload, fresh identity —
    the crawl-refresh pattern), and the exact-top-5 truth pairs split
    into 'churned' (either endpoint re-ingested) vs 'retained'. Both
    deployed families place an entry as a pure function of its VECTOR —
    LSH buckets floor a projection of the embedding, IVF assigns to the
    nearest deployed centroid — so a re-ingested entry lands in its old
    placement and per-pair catch flags are churn-invariant BY
    CONSTRUCTION. What this query pins, as driver-visible evidence:
    (a) that invariance actually holds end-to-end (a recall gap between
    classes beyond truth-pair sampling would mean id- or insertion-
    order-dependence crept into a bucketing rule — the regression class
    cross-engine hashing alone can't isolate), and (b) the sampling
    side a churn report owes its reader: how many truth pairs the 10%
    class touches per family (≈ 1 − 0.9² ≈ 19% of pairs in expectation
    at 10% churn, since either endpoint qualifies; the fixtures' id
    distribution lands at ~25%) and the recall measured on exactly
    those.

    The stale-quantizer variant (retrain IVF on the churned corpus,
    serve old lists against new probes) is the genuine degradation mode
    at scale; it needs a second Lloyd fit per evaluation, so it stays a
    documented extension rather than a sub-second driver query.

    Rides _ann_flag_frame — the memoized exact-kNN GEMM
    truth (sim_knn_per_query) plus linear vec_id-keyed joins; this
    query adds ONE constant expression and one combiner-reduced
    aggregate on top of sim_ann_recall's machinery. All counts exact;
    recall is one mirrored division rounded 6 dp."""
    flags = _ann_flag_frame(spark, sf_dir)
    cls = F.when(
        (F.col("query_id") % _CHURN_MOD == 0)
        | (F.col("neighbor_id") % _CHURN_MOD == 0),
        F.lit("churned"),
    ).otherwise(F.lit("retained"))
    return flags.groupBy("family", cls.alias("pair_class")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("caught").cast("long").alias("n_caught"),
        F.round(F.sum("caught").cast("double") / F.count(F.lit(1)), 6).alias(
            "recall"
        ),
    )


# --------------------------------------------------------------------------
# ann_ivf_imbalance
# --------------------------------------------------------------------------


@query(
    "ann_ivf_imbalance",
    oracle=f"""
    WITH {_km_ctes()},
    per AS (
      SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs
      FROM fin GROUP BY cid
    ),
    tot AS (
      SELECT CAST(SUM(n_vecs) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM per
    )
    SELECT p.cid, p.n_vecs,
           round(p.n_vecs * 1.0 / t.n, 6) AS share,
           round(p.n_vecs * 1.0 / (t.n * 1.0 / t.k), 6) AS load_factor
    FROM per p CROSS JOIN tot t
    """,
    tags=("memo",),
)
def ann_ivf_imbalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-list load report for the deployed IVF quantizer
    (_km_fit — the same fit sim_ann_ivf probes): per cell,
    its vector count, corpus share, and load factor (count / mean
    count). This is the shard-balance readout an IVF deployment
    monitors: nprobe-bounded query cost is proportional to the probed
    lists' sizes, so a hot cell (load_factor ≫ 1) is the straggler at
    serving time and the skew-split candidate at build time — the same
    number a 100 TB operator reads before re-training with more
    centroids or splitting hot lists.

    Rides the memoized Lloyd assignment; one combiner-reduced count to
    k = 16 rows plus a 1-row broadcast total. Counts exact; share and
    load factor are mirrored divisions rounded 6 dp."""
    assigned, _ = _km_fit(spark, sf_dir)
    per = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )
    tot = per.agg(
        F.sum("n_vecs").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "cid",
        "n_vecs",
        F.round(F.col("n_vecs") * 1.0 / F.col("n"), 6).alias("share"),
        F.round(
            F.col("n_vecs") * 1.0 / (F.col("n") * 1.0 / F.col("k")), 6
        ).alias("load_factor"),
    )
