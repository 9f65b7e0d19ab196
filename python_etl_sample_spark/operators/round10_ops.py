"""Round-10 — driver-visible recall evidence for the approximate tiers
(VERDICT r9 item 1).

Through round 9, four queries (``dedup_near_minhash``, ``dedup_simhash``,
``sim_ann_lsh``, ``sim_ann_ivf``) had rows-only driver evidence: their
xxhash64 / NumPy internals aren't DuckDB-expressible, so "the banding
actually finds the planted near-dups" was asserted only in pytest. This
module makes that quality claim a **fully hash-checked driver row**, the
way ``dedup_semantic_recall`` (round8_ops.py) did for the embedding-ANN
tier: recall is an exact join of two deterministic sets, so the whole
measurement — ground truth, catch flags, recall ratios — replays in SQL.

The one substitution that makes this possible: the engine-specific hash
families (xxhash64 seeds; NumPy's 512-sample quantizer) are swapped for
the repo's audited cross-engine families —

- shingle identity: char-polynomial ``(acc·31 + code) mod (2³¹−1)``
  (map-side, both engines fold the identical integer recurrence);
- minhash permutations / simhash bit-hashes: the overflow-audited
  multiplicative family ``(k · A_i) mod P`` with ``A_i < 2³²`` and
  ``k < 2³¹`` so every product stays inside int64 in BOTH engines
  (same audit as operators/inference.py:525);
- the IVF quantizer: the full-corpus deterministic Lloyd fit
  (round7_ops._km_fit) whose SQL replay (``_km_ctes``) already
  hash-passes, instead of sim_ann_ivf's private NumPy 512-sample fit.

What is measured is therefore the deployed **banding geometry** — the
same shingle sets, the same b=4×r=8 minhash banding, the same 4-chunk
simhash banding and radius, the same LSH tables/bucket width and the
same nprobe=2 IVF probing — under an exchangeable hash family. The
recall of the *scheme* is the quality claim; the hash family is an
implementation detail the scheme's analysis (Broder; Charikar) is
agnostic to. The pytest tier separately pins that the xxhash64
pipelines find the planted near-dups (tests/test_round10_ops.py pins
the cross-engine truth set equal to ``dedup_ngram_jaccard``'s).

Float determinism notes: every discontinuous step (floor-bucketing,
argmin, radius test) consumes a 9-dp-rounded double — the established
guard that makes index-ordered Spark folds and DuckDB range-SUMs agree
bit-for-bit at the comparison (similarity.py module docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_etl_sample_spark.operators.round7_ops import (
    _km_centroid_literal,
    _km_ctes,
    _km_dist_sql,
    _km_fit,
)
from python_etl_sample_spark.operators.similarity import sim_knn_per_query
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table

# --------------------------------------------------------------------------
# cross-engine shingle keys and hash families — round 11 moved the
# shared family/frame/SQL definitions to functions/xengine.py so the
# DETECTORS (dedup.py, similarity.py) consume the identical memoized
# frames; re-exported here for the existing importers
# (round10c/d_ops, tests/test_round10_ops).
# --------------------------------------------------------------------------

from python_etl_sample_spark.functions.xengine import (  # noqa: F401
    _BANDS,
    _CHUNK_BITS,
    _MH_BK_COLS_SQL,
    _MH_P,
    _MH_SIG_COLS_SQL,
    _N_PERM,
    _ROWS,
    _SH_BITS,
    _SH_CHUNKS,
    _SH_SUM_COLS_SQL,
    _X_CTES,
    _XP,
    _band_key_sql,
    _d2_sql,
    _lsh_dot_sql,
    _LSH_BUCKET_LEN,
    _LSH_PROJ,
    _LSH_RADIUS,
    _LSH_TABLES,
    _mh_mult,
    _sh_chunk_sql,
    _SH_CHUNK_COLS_SQL,
    _sh_mult,
    _xengine_minhash_sig,
    _xengine_pairs,
    _xengine_shingle_keys,
    lsh_bucket_col,
    xengine_minhash_bands,
    xengine_simhash_chunks,
)


# --------------------------------------------------------------------------
# dedup_minhash_recall
# --------------------------------------------------------------------------

_MH_CAUGHT_SQL = " OR ".join(f"a.bk{b} = b.bk{b}" for b in range(_BANDS))
_JBAND_SQL = """CASE
      WHEN jac < 0.90 THEN '0.80-0.90'
      WHEN jac < 0.95 THEN '0.90-0.95'
      ELSE '0.95-1.00' END"""


@query(
    "dedup_minhash_recall",
    oracle=f"""
    WITH {_X_CTES},
    sig AS (
      SELECT doc_id,
             {_MH_SIG_COLS_SQL}
      FROM xk GROUP BY doc_id
    ),
    bnd AS (
      SELECT doc_id,
             {_MH_BK_COLS_SQL}
      FROM sig
    ),
    truth AS (
      SELECT doc_a, doc_b,
             n_inter / (sa.n + sb.n - n_inter) AS jac
      FROM xinter
      JOIN xsizes sa ON sa.doc_id = doc_a
      JOIN xsizes sb ON sb.doc_id = doc_b
      WHERE n_inter / (sa.n + sb.n - n_inter) >= 0.8
    ),
    fl AS (
      SELECT t.jac,
             CASE WHEN {_MH_CAUGHT_SQL} THEN 1 ELSE 0 END AS caught
      FROM truth t
      JOIN bnd a ON a.doc_id = t.doc_a
      JOIN bnd b ON b.doc_id = t.doc_b
    )
    SELECT {_JBAND_SQL} AS jband,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(caught) AS BIGINT) AS n_caught,
           round(SUM(caught) / CAST(COUNT(*) AS DOUBLE), 6) AS recall
    FROM fl
    GROUP BY 1
    """,
    tags=("memo",),
)
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate recall of MinHash LSH banding against the exact n-gram
    Jaccard ≥ 0.8 ground truth, per Jaccard band — the driver-visible
    quality number behind ``dedup_near_minhash`` (ops/dedup.py:131),
    whose own xxhash64 pipeline is rows-only by construction. Geometry
    is identical to the deployed detector (3-word shingles, 32
    permutations, 4 bands × 8 rows); the permutation family is the
    cross-engine multiplicative one (module docstring) so every banding
    decision replays in the oracle. Expected shape: the 0.95-1.00 band
    (planted near-dups) catches ~all pairs — each has per-band collision
    probability ≥ 0.95⁸ ≈ 0.66, so P(≥1 of 4 bands) ≈ 0.987.

    Catch flags come from joining the ground-truth pairs to each side's
    4 band keys — recall never needs the candidate self-join itself, so
    this query is linear in |truth| + |docs| on top of the shared
    inverted-index pass (the memoized ``_xengine_pairs``).

    Scale: the signature agg is one combiner-reduced shuffle of 32
    minima per doc; the truth set is the bounded output of the
    J ≥ 0.8 filter (25 pairs at sf0.01, ~256 at sf0.1); the two band
    joins are broadcast-sized in it."""
    keys = _xengine_shingle_keys(spark, sf_dir)
    pairs = _xengine_pairs(spark, sf_dir)

    sizes = keys.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    truth = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= 0.8)
        .select("doc_a", "doc_b", jac.alias("jac"))
    )

    # both truth-join sides consume the shared memoized band frame
    # (functions/xengine.py) — also read by the dedup_near_minhash
    # detector itself since round 11
    bnd = xengine_minhash_bands(spark, sf_dir)
    ba = bnd.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"bk{b}").alias(f"abk{b}") for b in range(_BANDS)],
    )
    bb = bnd.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"bk{b}").alias(f"bbk{b}") for b in range(_BANDS)],
    )
    caught = None
    for b in range(_BANDS):
        term = F.col(f"abk{b}") == F.col(f"bbk{b}")
        caught = term if caught is None else (caught | term)
    fl = (
        truth.join(ba, "doc_a")
        .join(bb, "doc_b")
        .select("jac", F.when(caught, 1).otherwise(0).alias("caught"))
    )
    jband = (
        F.when(F.col("jac") < 0.90, "0.80-0.90")
        .when(F.col("jac") < 0.95, "0.90-0.95")
        .otherwise("0.95-1.00")
    )
    return fl.groupBy(jband.alias("jband")).agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum("caught").cast("long").alias("n_caught"),
        F.round(
            F.sum("caught").cast("double") / F.count(F.lit(1)), 6
        ).alias("recall"),
    )


# --------------------------------------------------------------------------
# dedup_simhash_recall
# --------------------------------------------------------------------------

#: Hamming-universe prune: only pairs sharing ≥ 3 shingle keys enter
#: the exact-Hamming pass. Theory: a pair sharing ≤ 2 of its ~26
#: shingles has near-independent majority votes (expected hamming ≈ 30
#: of 60; P(≤ 8) < 1e-8), so no hamming ≤ 8 pair can sit below the
#: threshold. Measured: the minimum shared-shingle count among TRUE
#: hamming ≤ 8 pairs is 8 / 21 / 8 at sf0.001/0.01/0.1 — 2.7× above
#: this cut. At sf0.1 the cut shrinks the pair join 100× (1.13M →
#: 10.3k pairs); it is applied identically in both engines, so parity
#: holds by construction even where the probabilistic argument is
#: doing the work.
_SH_MIN_INTER = 3


_SH_HAMMING_SQL = " + ".join(
    f"bit_count(xor(a.c{c}, b.c{c}))" for c in range(_SH_CHUNKS)
)
_SH_CAUGHT_SQL = " OR ".join(f"a.c{c} = b.c{c}" for c in range(_SH_CHUNKS))


@query(
    "dedup_simhash_recall",
    oracle=f"""
    WITH {_X_CTES},
    votes AS (
      SELECT doc_id, COUNT(*) AS n_sh,
             {_SH_SUM_COLS_SQL}
      FROM xk GROUP BY doc_id
    ),
    chunks AS (
      SELECT doc_id,
             {_SH_CHUNK_COLS_SQL}
      FROM votes
    ),
    ham AS (
      SELECT {_SH_HAMMING_SQL} AS hamming,
             CASE WHEN {_SH_CAUGHT_SQL} THEN 1 ELSE 0 END AS caught
      FROM xinter p
      JOIN chunks a ON a.doc_id = p.doc_a
      JOIN chunks b ON b.doc_id = p.doc_b
      WHERE p.n_inter >= {_SH_MIN_INTER} AND {_SH_HAMMING_SQL} <= 8
    )
    SELECT CASE WHEN hamming <= 3 THEN '0-3 (guaranteed)' ELSE '4-8' END AS hband,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(caught) AS BIGINT) AS n_caught,
           round(SUM(caught) / CAST(COUNT(*) AS DOUBLE), 6) AS recall
    FROM ham
    GROUP BY 1
    """,
    tags=("memo",),
)
def dedup_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate recall of SimHash chunk banding against exact low-
    Hamming pairs — the driver-visible quality number behind
    ``dedup_simhash`` (ops/dedup.py:199). Same banding structure as the
    deployed detector (bit-majority signature, 4 disjoint chunks,
    radius ≤ 8) over a 60-bit cross-engine signature (4 × 15-bit
    chunks; bit j is a distinct multiplicative hash of the shingle key,
    the textbook Charikar construction the packed-lane xxhash64 form
    optimizes). The '0-3' band recall is EXACTLY 1.0 by pigeonhole —
    ≤ 3 flipped bits cannot touch all 4 chunks — which the oracle
    proves as data, upgrading dedup.py's docstring claim to a driver
    hash row; the '4-8' band is the honest heuristic tail.

    Ground-truth universe: pairs sharing ≥ 3 shingle keys (the
    memoized inverted-index frame, cut at ``_SH_MIN_INTER`` — see that
    constant's theory + measurement note). A low-overlap pair's
    signatures are near-independent 60-bit hashes (P(hamming ≤ 8) <
    1e-8), so the restriction loses nothing at radius 8, and it is
    applied IDENTICALLY in both engines, so parity is exact regardless.

    Scale: one combiner-reduced vote shuffle (60 bigint sums per doc);
    the Hamming test runs only on the shared-shingle pair set — never
    the O(n²) pair space."""
    pairs = _xengine_pairs(spark, sf_dir)

    # both pair-join sides consume the shared memoized chunk frame
    # (functions/xengine.py) — also read by the dedup_simhash detector
    # itself since round 11 (the 60-sum vote agg costs ~1.3 s per
    # evaluation at sf0.1)
    chunks = xengine_simhash_chunks(spark, sf_dir)
    ca = chunks.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"c{c}").alias(f"ac{c}") for c in range(_SH_CHUNKS)],
    )
    cb = chunks.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"c{c}").alias(f"bc{c}") for c in range(_SH_CHUNKS)],
    )
    hamming = None
    caught = None
    for c in range(_SH_CHUNKS):
        h = F.bit_count(F.col(f"ac{c}").bitwiseXOR(F.col(f"bc{c}")))
        e = F.col(f"ac{c}") == F.col(f"bc{c}")
        hamming = h if hamming is None else (hamming + h)
        caught = e if caught is None else (caught | e)
    ham = (
        pairs.filter(F.col("n_inter") >= _SH_MIN_INTER)
        .select("doc_a", "doc_b")
        .join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            hamming.alias("hamming"),
            F.when(caught, 1).otherwise(0).alias("caught"),
        )
        .filter(F.col("hamming") <= 8)
    )
    hband = F.when(F.col("hamming") <= 3, "0-3 (guaranteed)").otherwise("4-8")
    return ham.groupBy(hband.alias("hband")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("caught").cast("long").alias("n_caught"),
        F.round(
            F.sum("caught").cast("double") / F.count(F.lit(1)), 6
        ).alias("recall"),
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
#: sim_ann_recall oracle (grouped by rank) and round12_ops'
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
      the full-corpus deterministic Lloyd quantizer (round7_ops._km_fit,
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
    rank) and ``ann_recall_under_churn`` (round12_ops, grouped by
    churn class). Session-memoized (|queries|·5·2 rows): the exact-kNN
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
    carr = _km_centroid_literal(cents)
    pdists = F.array_sort(
        F.transform(
            carr,
            lambda c: F.struct(
                F.round(
                    F.aggregate(
                        F.zip_with(
                            F.col("emb"), c["emb"], lambda x, y: (x - y) * (x - y)
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                    9,
                ).alias("dist"),
                c["cid"].alias("cid"),
            ),
        )
    )
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
    d2 = F.round(
        F.aggregate(
            F.zip_with(F.col("qv"), F.col("nv"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        9,
    )
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
