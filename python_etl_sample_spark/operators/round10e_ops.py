"""Round-10e — ``sim_ivf_nprobe_sweep``: the IVF tuning sweep.

dedup_minhash_param_sweep (round10c_ops) made the LSH banding S-curve
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
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_sample_spark.operators.round7_ops import (
    _KM_ROUNDS,
    _km_centroid_literal,
    _km_ctes,
    _km_dist_sql,
    _km_fit,
)
from python_etl_sample_spark.operators.round10b_ops import (
    _PQ_CTES,
    _PQ_TOPK,
    _pq_adc_frame,
)
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table

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

    q = table(spark, sf_dir, "embeddings").filter(F.col("label") == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )
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
    cellrank = q.select(
        "query_id", F.posexplode(pdists).alias("pos", "p")
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
