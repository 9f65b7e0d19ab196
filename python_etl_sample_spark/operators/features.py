"""ML feature engineering: the hashing trick over document tokens —
fixed-dimensional bag-of-words features WITHOUT a vocabulary, the
featurization that works at 100 TB because it needs no global
dictionary build, no broadcast, and no second pass.

Engine parity: the bucket hash is the first 6 hex digits of sha256
(identical lowercase hex in both engines) parsed to an integer —
Spark's ``conv(..., 16, 10)`` and DuckDB's ``CAST('0x…' AS BIGINT)``
agree exactly on that domain (< 16^6) — then modulo the dimension.
Everything hashed is integers; no float reaches the result.

- ``features_woe_iv``: weight-of-evidence / information-value scoring
  of market segments against an urgency target — the credit-scoring
  feature screen.

- ``features_target_encoding_loo``: leave-one-out target-mean encoding
  of the customer market segment against order value, with the
  m=20-smoothed variant — the standard high-cardinality categorical
  encoder whose LOO form prevents the target leakage naive mean
  encoding has.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_etl_sample_spark.functions.determinism import _CENTS, _DEC38
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table

#: feature dimension — deliberately small so hash collisions are
#: OBSERVABLE in the report (the trick's accuracy trade)
_DIM = 128


@query(
    "features_hashing_trick",
    oracle=f"""
    WITH tok AS (
      SELECT t.token
      FROM documents,
           unnest(string_split_regex(lower(text), '\\s+')) AS t(token)
      WHERE t.token <> ''
    ),
    b AS (
      SELECT CAST(('0x' || substr(sha256(token), 1, 6)) AS BIGINT) % {_DIM}
               AS bucket,
             token
      FROM tok
    )
    SELECT bucket,
           COUNT(*) AS n_occurrences,
           COUNT(DISTINCT token) AS n_distinct_tokens,
           CASE WHEN COUNT(DISTINCT token) > 1 THEN 1 ELSE 0 END
             AS has_collision
    FROM b GROUP BY bucket
    """,
)
def features_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization audit: every corpus token is hashed
    into one of {_DIM} fixed buckets (sha256-prefix mod dim); the
    report shows per-bucket mass and how many distinct tokens collided
    there — the information a feature-engineering pipeline uses to size
    the dimension before training.

    Why this shape scales: feature hashing replaces the vocabulary —
    a global, unbounded, broadcast-hostile artifact — with a stateless
    per-row function, so featurization is a map-only pass and this
    audit is one (bucket)-keyed partial aggregation; the reducer state
    is {_DIM} rows plus a distinct-set bounded by bucket vocabulary.
    The same bucket expression would emit (doc_id, bucket, count)
    training vectors; the audit aggregates globally instead so the
    result is hash-checkable and dimension-sized."""
    tok = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
    )
    bucket = F.expr(
        f"CAST(conv(substr(sha2(token, 256), 1, 6), 16, 10) AS BIGINT) % {_DIM}"
    )
    return (
        tok.select(bucket.alias("bucket"), "token")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("token").alias("n_distinct_tokens"),
            F.when(F.countDistinct("token") > 1, F.lit(1))
            .otherwise(F.lit(0))
            .alias("has_collision"),
        )
    )


#: target encoding smoothing pseudo-count
_TE_M = 50


@query(
    "features_target_encoding",
    oracle=f"""
    WITH g AS (
      SELECT CAST(COUNT(*) FILTER (l_returnflag = 'R') AS DOUBLE)
             / COUNT(*) AS gmean
      FROM lineitem
    )
    SELECT p.p_brand,
           COUNT(*) AS n_lines,
           CAST(COUNT(*) FILTER (l.l_returnflag = 'R') AS BIGINT) AS n_returns,
           ROUND((COUNT(*) FILTER (l.l_returnflag = 'R')
                  + {_TE_M} * MAX(g.gmean))
                 / (COUNT(*) + {_TE_M}), 6) AS brand_return_encoding
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    CROSS JOIN g
    GROUP BY p.p_brand
    """,
)
def features_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target (mean) encoding of part brand against the
    return-flag target — the high-cardinality-categorical featurization
    that replaces one-hot at scale: enc = (hits + m·global)/(n + m),
    m = {_TE_M}, shrinking rare brands toward the global return rate
    (empirical-Bayes smoothing, the Micci-Barreca scheme).

    Everything left of the final division is integer-exact (counts;
    the global rate is one exact-int division attached by a 1-row
    broadcast), so the encoding is one deterministic double expression
    per brand, rounded. Plan: broadcast part join, single (brand)
    aggregate; the global-rate pass shares the lineitem scan. At
    100 TB: identical — target encoding is a groupBy, which is why it
    scales where one-hot and learned embeddings need a vocabulary
    build."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    g = li.agg(
        (
            F.count(F.when(F.col("l_returnflag") == "R", 1)).cast("double")
            / F.count(F.lit(1))
        ).alias("gmean")
    )
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).crossJoin(
        F.broadcast(g)
    )
    hits = F.count(F.when(F.col("l_returnflag") == "R", 1))
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_lines"),
        hits.cast("bigint").alias("n_returns"),
        F.round(
            (hits + _TE_M * F.max("gmean")) / (F.count(F.lit(1)) + _TE_M), 6
        ).alias("brand_return_encoding"),
    )


# ---------------------------------------------------------------------------
# features_woe_iv
# ---------------------------------------------------------------------------

@query(
    "features_woe_iv",
    oracle="""
    WITH joined AS (
      SELECT c.c_mktsegment AS segment,
             CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    per AS (
      SELECT segment,
             SUM(y) AS pos, COUNT(*) - SUM(y) AS neg
      FROM joined GROUP BY segment
    ),
    tot AS (SELECT SUM(pos) AS g, SUM(neg) AS b FROM per)
    SELECT segment,
           CAST(pos AS BIGINT) AS n_pos, CAST(neg AS BIGINT) AS n_neg,
           round(ln((pos * 1.0 / (SELECT g FROM tot))
                    / (neg * 1.0 / (SELECT b FROM tot))), 6) AS woe,
           round((pos * 1.0 / (SELECT g FROM tot)
                  - neg * 1.0 / (SELECT b FROM tot))
                 * ln((pos * 1.0 / (SELECT g FROM tot))
                      / (neg * 1.0 / (SELECT b FROM tot))), 6) AS iv_term
    FROM per
    WHERE pos > 0 AND neg > 0
    """,
)
def features_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value screen of market segment
    against the urgency target (priority ∈ {1-URGENT, 2-HIGH}) — the
    standard credit-scoring measure of a categorical feature's
    predictive power (IV = Σ iv_term; < 0.02 ≈ useless, > 0.3 strong).

    WOE_c = ln((pos_c/G)/(neg_c/B)) from exact integer counts; the two
    ratios are identical rational doubles in both engines, ln is one
    libm call on an identical argument, and outputs round at 6 dp (the
    BM25/MI precedent for ln parity). Zero-cell segments are excluded
    (ln would be ±∞); the fixture has none, and the guard is the
    documented convention rather than a smoothing constant.

    Scale: one orders⋈customer key join (the broadcast-or-shuffle
    choice belongs to the planner at 100 TB), one map-side-combined
    groupBy to |segments| rows, one 1-row total broadcast."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    joined = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("y"),
    )
    per = joined.groupBy("segment").agg(
        F.sum("y").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).alias("neg"),
    )
    tot = per.agg(F.sum("pos").alias("g"), F.sum("neg").alias("b"))
    pg = F.col("pos") * 1.0 / F.col("g")
    nb = F.col("neg") * 1.0 / F.col("b")
    woe = F.log(pg / nb)
    return (
        per.crossJoin(F.broadcast(tot))
        .filter((F.col("pos") > 0) & (F.col("neg") > 0))
        .select(
            "segment",
            F.col("pos").cast("long").alias("n_pos"),
            F.col("neg").cast("long").alias("n_neg"),
            F.round(woe, 6).alias("woe"),
            F.round((pg - nb) * woe, 6).alias("iv_term"),
        )
    )


# ---------------------------------------------------------------------------
# features_target_encoding_loo
# ---------------------------------------------------------------------------

_TE_SMOOTH = "20.0"


@query(
    "features_target_encoding_loo",
    oracle=f"""
    WITH base AS (
      SELECT o.o_orderkey, c.c_mktsegment AS segment, {_CENTS} AS cents
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
        F.expr(_CENTS).alias("cents"),
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
