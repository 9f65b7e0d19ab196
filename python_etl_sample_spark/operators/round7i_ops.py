"""Round-7 batch 9 — clustering quality, spectral seasonality, ML
feature encoding, and journey analytics:

- ``cluster_silhouette``: simplified-silhouette quality report of the
  deterministic Lloyd k-means clustering (cluster_kmeans_lloyd) — the
  standard "are these clusters real" diagnostic a curation pipeline
  runs before trusting semantic-dedup / domain-mixing cluster labels.
- ``ts_periodogram``: classical DFT periodogram of daily event revenue
  at candidate periods 2..14 days — amplitude and fraction-of-variance
  per period, the frequency-domain seasonality detector that
  complements the time-domain ACF (ts_autocorrelation).
- ``features_target_encoding_loo``: leave-one-out target-mean encoding
  of the customer market segment against order value, with the
  m=20-smoothed variant — the standard high-cardinality categorical
  encoder whose LOO form prevents the target leakage naive mean
  encoding has.
- ``stats_kendall_tau``: exact tie-corrected Kendall tau-b between
  daily revenue and daily event volume — the concordance member of
  the robust-association suite next to Spearman
  (stats_spearman_corr) and Theil-Sen (stats_theil_sen_trend).

Determinism: silhouettes are 9-dp-rounded ratios of 9-dp-rounded
square roots, decimal-summed; periodogram trig factors are rounded at
12 dp and multiplied by exact integer residue-class sums with every
float combination mirrored; LOO encodings are one division of exact
integer-cents sums; Kendall concordance counts are exact integers
with one final sqrt + division.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_sample_spark.operators.round7_ops import (
    _KM_ROUNDS,
    _km_centroid_literal,
    _km_ctes,
    _km_dist_sql,
    _km_fit,
)
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table

_VCENTS = "CAST(round(value * 100) AS BIGINT)"
_PCENTS = "CAST(round(o_totalprice * 100) AS BIGINT)"
_DEC38 = "decimal(38,0)"


# ---------------------------------------------------------------------------
# cluster_silhouette
# ---------------------------------------------------------------------------


def _sil_oracle() -> str:
    """Replay the Lloyd fit (shared CTE body, round7_ops._km_ctes),
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
    carr = _km_centroid_literal(cents)
    dists = F.transform(
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
    ranked = final.select(
        "vec_id", F.array_sort(dists).alias("ds")
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
# ts_periodogram
# ---------------------------------------------------------------------------

_PG_PERIODS = tuple(range(2, 15))


@query(
    "ts_periodogram",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             SUM({_VCENTS}) AS v
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(v AS DECIMAL(38,0))) AS DOUBLE) AS s,
             CAST(SUM(CAST(v AS DECIMAL(38,0)) * v) AS DOUBLE) AS ssq
      FROM daily
    ),
    periods AS (SELECT UNNEST([{", ".join(map(str, _PG_PERIODS))}]) AS period),
    res AS (
      SELECT p.period, daily.d % p.period AS r,
             COUNT(*) AS cnt, SUM(v) AS sumv
      FROM daily CROSS JOIN periods p
      GROUP BY 1, 2
    ),
    trig AS (
      SELECT period, r, cnt, sumv,
             round(cos(((2.0 * pi()) * r) / period), 12) AS c,
             round(sin(((2.0 * pi()) * r) / period), 12) AS sn
      FROM res
    ),
    moments AS (
      SELECT period,
             CAST(SUM(CAST(round(sumv * c, 6) AS DECIMAL(28,8))) AS DOUBLE)
               AS craw,
             CAST(SUM(CAST(round(sumv * sn, 6) AS DECIMAL(28,8))) AS DOUBLE)
               AS sraw,
             CAST(SUM(CAST(round(cnt * c, 9) AS DECIMAL(28,12))) AS DOUBLE)
               AS kc,
             CAST(SUM(CAST(round(cnt * sn, 9) AS DECIMAL(28,12))) AS DOUBLE)
               AS ks
      FROM trig GROUP BY period
    ),
    pw AS (
      SELECT m.period, t.n,
             (m.craw - (t.s / t.n) * m.kc) AS cc,
             (m.sraw - (t.s / t.n) * m.ks) AS ss,
             (t.ssq - t.s * (t.s / t.n)) AS sst
      FROM moments m CROSS JOIN tot t
    )
    SELECT period,
           round(((2.0 * sqrt(cc * cc + ss * ss)) / n) / 100.0, 4)
             AS amplitude,
           CASE WHEN sst > 0
                THEN round((2.0 * (cc * cc + ss * ss)) / (n * sst), 6)
                ELSE NULL END AS frac_variance
    FROM pw
    """,
)
def ts_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical periodogram of daily event revenue at candidate
    periods 2..14 days: for each period T, the DFT coefficients
    C = Σ(v_d − x̄)cos(2πd/T), S = Σ(v_d − x̄)sin(2πd/T) give the fitted
    sinusoid amplitude 2√(C²+S²)/n (reported in currency units) and
    the fraction of series variance at that period 2(C²+S²)/(n·SST) —
    the frequency-domain seasonality detector (weekly traffic shows as
    a spike at T=7) that the time-domain ACF cross-checks.

    Exactness strategy: trig factors depend only on the residue class
    d mod T, so the series first collapses to ≤T exact integer-cents
    sums per period (ONE groupBy over the compact daily frame — at
    100 TB this is the only data-sized shuffle, and it is the same
    daily rollup every ts_* query starts from); cos/sin are evaluated
    once per residue class and rounded at 12 dp, each product of an
    exact sum and a rounded factor is itself rounded and
    decimal-summed (order-free), and the mean correction
    C = C_raw − x̄·K uses the mirrored-parenthesization rule so both
    engines combine identical doubles identically.

    The residue trick also bounds the float work: 13 periods × ≤14
    residues = ≤182 trig evaluations regardless of corpus size."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.expr("CAST(ts AS DATE)"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("d")
    ).agg(F.sum(F.expr(_VCENTS)).alias("v"))
    vd = F.col("v").cast(_DEC38)
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vd).cast("double").alias("s"),
        F.sum(vd * F.col("v")).cast("double").alias("ssq"),
    )
    periods = spark.createDataFrame(
        [(p,) for p in _PG_PERIODS], "period int"
    )
    res = (
        daily.crossJoin(F.broadcast(periods))
        .groupBy("period", (F.col("d") % F.col("period")).alias("r"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("sumv"))
    )
    theta = ((F.lit(2.0) * F.lit(math.pi)) * F.col("r")) / F.col("period")
    trig = res.select(
        "period",
        "cnt",
        "sumv",
        F.round(F.cos(theta), 12).alias("c"),
        F.round(F.sin(theta), 12).alias("sn"),
    )
    moments = trig.groupBy("period").agg(
        F.sum(F.round(F.col("sumv") * F.col("c"), 6).cast("decimal(28,8)"))
        .cast("double")
        .alias("craw"),
        F.sum(F.round(F.col("sumv") * F.col("sn"), 6).cast("decimal(28,8)"))
        .cast("double")
        .alias("sraw"),
        F.sum(F.round(F.col("cnt") * F.col("c"), 9).cast("decimal(28,12)"))
        .cast("double")
        .alias("kc"),
        F.sum(F.round(F.col("cnt") * F.col("sn"), 9).cast("decimal(28,12)"))
        .cast("double")
        .alias("ks"),
    )
    xbar = F.col("s") / F.col("n")
    pw = moments.crossJoin(F.broadcast(tot)).select(
        "period",
        "n",
        (F.col("craw") - xbar * F.col("kc")).alias("cc"),
        (F.col("sraw") - xbar * F.col("ks")).alias("ss"),
        (F.col("ssq") - F.col("s") * xbar).alias("sst"),
    )
    power = F.col("cc") * F.col("cc") + F.col("ss") * F.col("ss")
    return pw.select(
        "period",
        F.round(
            ((F.lit(2.0) * F.sqrt(power)) / F.col("n")) / 100.0, 4
        ).alias("amplitude"),
        F.when(
            F.col("sst") > 0,
            F.round((F.lit(2.0) * power) / (F.col("n") * F.col("sst")), 6),
        ).alias("frac_variance"),
    )


# ---------------------------------------------------------------------------
# features_target_encoding_loo
# ---------------------------------------------------------------------------

_TE_SMOOTH = "20.0"


@query(
    "features_target_encoding_loo",
    oracle=f"""
    WITH base AS (
      SELECT o.o_orderkey, c.c_mktsegment AS segment, {_PCENTS} AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    seg AS (
      SELECT segment, COUNT(*) AS n_seg,
             SUM(CAST(cents AS DECIMAL(38,0))) AS sum_seg
      FROM base GROUP BY segment
    ),
    g AS (
      SELECT CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE)
               / COUNT(*) AS gmean
      FROM base
    )
    SELECT b.o_orderkey, b.segment,
           CASE WHEN s.n_seg > 1
                THEN round((CAST(s.sum_seg - b.cents AS DOUBLE)
                            / (s.n_seg - 1)) / 100.0, 6)
                ELSE NULL END AS loo_enc,
           round(((CAST(s.sum_seg - b.cents AS DOUBLE)
                   + ({_TE_SMOOTH} * g.gmean))
                  / ((s.n_seg - 1) + {_TE_SMOOTH})) / 100.0, 6)
             AS loo_smoothed
    FROM base b JOIN seg s ON s.segment = b.segment CROSS JOIN g
    """,
)
def features_target_encoding_loo(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leave-one-out target-mean encoding of the customer market
    segment against order value: each order's feature is the mean
    order value of its segment EXCLUDING itself,
    (Σ_seg − own)/(n_seg − 1), plus the m=20-smoothed variant
    (Σ_seg − own + m·ȳ)/(n_seg − 1 + m) that shrinks rare categories
    toward the global mean — the standard encoder for high-cardinality
    categoricals (Micci-Barreca 2001) in exactly the leakage-free LOO
    form a training pipeline needs (naive mean encoding leaks the row's
    own target into its feature).

    Plan: one orders⋈customer shuffle join on custkey builds the
    (row, category, target) frame; category statistics are ONE
    groupBy reduced to |segments| rows and joined back as a broadcast,
    with the global mean a 1-row broadcast — so the encode step is
    map-only. At 100 TB with a high-cardinality category the stats
    join falls back to a shuffle on the category key and AQE handles
    the skewed hot categories; nothing here is driver-side.

    Determinism: sums are exact integer cents in 38-digit decimals;
    each encoding is one mirrored float expression of those exact sums
    (one division for LOO; one add-multiply-divide chain for the
    smoothed form with identical parenthesization in both engines),
    rounded at 6 dp."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    base = o.join(
        c, o.o_custkey == c.c_custkey
    ).select(
        "o_orderkey",
        F.col("c_mktsegment").alias("segment"),
        F.expr(_PCENTS).alias("cents"),
    )
    seg = base.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_seg"),
        F.sum(F.col("cents").cast(_DEC38)).alias("sum_seg"),
    )
    g = base.agg(
        (
            F.sum(F.col("cents").cast(_DEC38)).cast("double")
            / F.count(F.lit(1))
        ).alias("gmean")
    )
    m = F.lit(float(_TE_SMOOTH))
    leave_out = (F.col("sum_seg") - F.col("cents")).cast("double")
    return (
        base.join(F.broadcast(seg), "segment")
        .crossJoin(F.broadcast(g))
        .select(
            "o_orderkey",
            "segment",
            F.when(
                F.col("n_seg") > 1,
                F.round(
                    (leave_out / (F.col("n_seg") - 1)) / 100.0, 6
                ),
            ).alias("loo_enc"),
            F.round(
                (
                    (leave_out + (m * F.col("gmean")))
                    / ((F.col("n_seg") - 1) + m)
                )
                / 100.0,
                6,
            ).alias("loo_smoothed"),
        )
    )


# ---------------------------------------------------------------------------
# stats_kendall_tau
# ---------------------------------------------------------------------------


@query(
    "stats_kendall_tau",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, SUM({_VCENTS}) AS x,
             COUNT(*) AS y
      FROM events GROUP BY 1
    ),
    pairs AS (
      SELECT CASE WHEN (a.x < b.x AND a.y < b.y)
                    OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END AS con,
             CASE WHEN (a.x < b.x AND a.y > b.y)
                    OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END AS dis,
             CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
             CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
      FROM daily a JOIN daily b ON a.day < b.day
    ),
    agg AS (
      SELECT CAST(SUM(con) AS BIGINT) AS c, CAST(SUM(dis) AS BIGINT) AS d,
             CAST(SUM(tx) AS BIGINT) AS n1, CAST(SUM(ty) AS BIGINT) AS n2,
             CAST(COUNT(*) AS BIGINT) AS n0
      FROM pairs
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
           c AS n_concordant, d AS n_discordant,
           n1 AS tied_pairs_x, n2 AS tied_pairs_y,
           CASE WHEN (n0 - n1) * (n0 - n2) > 0
                THEN round((c - d) / sqrt(CAST((n0 - n1) AS DOUBLE)
                                          * (n0 - n2)), 6)
                ELSE NULL END AS tau_b
    FROM agg
    """,
)
def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Kendall tau-b rank correlation between daily revenue and
    daily event volume, with full tie correction: τ_b = (C − D) /
    √((n₀−n₁)(n₀−n₂)) over all day pairs, where n₁/n₂ count tied pairs
    in each variable. The third member of the robust-association suite
    — Spearman (stats_spearman_corr) ranks then correlates, Theil-Sen
    (stats_theil_sen_trend) is the slope analogue, and Kendall is the
    concordance form whose τ has the direct probabilistic reading
    P(concordant) − P(discordant).

    Plan shape: ONE data-sized shuffle (the daily groupBy rollup, the
    same one every ts_* query starts from); the pairwise stage is a
    self-join of the DAILY frame on day < day — bounded by the
    calendar domain (≤ a few thousand rows even at 100 TB of events),
    never by corpus size, the same domain-bounded-quadratic contract
    as Theil-Sen and the ACF's triangular join. Concordance tests are
    pure integer comparisons combined map-side.

    Determinism: C, D, n₀, n₁, n₂ are exact integer counts; τ_b is one
    sqrt + one division of exact integers, rounded at 6 dp; degenerate
    all-tied variables yield NULL on both engines."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.expr("CAST(ts AS DATE)").alias("day")).agg(
        F.sum(F.expr(_VCENTS)).alias("x"), F.count(F.lit(1)).alias("y")
    )
    a = daily.select(
        F.col("day").alias("da"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = daily.select(
        F.col("day").alias("db"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    xa, xb, ya, yb = (F.col(c) for c in ("xa", "xb", "ya", "yb"))
    pairs = a.join(b, F.col("da") < F.col("db")).select(
        F.when(
            ((xa < xb) & (ya < yb)) | ((xa > xb) & (ya > yb)), 1
        )
        .otherwise(0)
        .alias("con"),
        F.when(
            ((xa < xb) & (ya > yb)) | ((xa > xb) & (ya < yb)), 1
        )
        .otherwise(0)
        .alias("dis"),
        F.when(xa == xb, 1).otherwise(0).alias("tx"),
        F.when(ya == yb, 1).otherwise(0).alias("ty"),
    )
    agg = pairs.agg(
        F.sum("con").alias("c"),
        F.sum("dis").alias("d"),
        F.sum("tx").alias("n1"),
        F.sum("ty").alias("n2"),
        F.count(F.lit(1)).alias("n0"),
    )
    n_days = daily.agg(F.count(F.lit(1)).alias("n_days"))
    denom = (F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n2"))
    return agg.crossJoin(F.broadcast(n_days)).select(
        "n_days",
        F.col("c").alias("n_concordant"),
        F.col("d").alias("n_discordant"),
        F.col("n1").alias("tied_pairs_x"),
        F.col("n2").alias("tied_pairs_y"),
        F.when(
            denom > 0,
            F.round(
                (F.col("c") - F.col("d"))
                / F.sqrt(
                    (F.col("n0") - F.col("n1")).cast("double")
                    * (F.col("n0") - F.col("n2"))
                ),
                6,
            ),
        ).alias("tau_b"),
    )
