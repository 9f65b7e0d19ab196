"""Round-7 batch 11 — hybrid retrieval fusion, interpolated
quantiles, char-entropy quality scoring, and the variance-homogeneity
test:

- ``sim_rrf_fusion``: reciprocal-rank fusion (Cormack et al. 2009,
  k=60) of the BM25 relevance ranking with a document-length prior —
  the standard hybrid-retrieval combiner every RAG stack uses to
  merge lexical and secondary rankings without score calibration.
- ``agg_percentile_cont``: SQL-standard PERCENTILE_CONT linear
  interpolation at q ∈ {25, 50, 75, 90, 99}% over the total-order
  kernel — the interpolated complement to the rank-exact
  agg_percentile_exact (the two standard quantile definitions).
- ``text_char_entropy``: per-document Shannon entropy of the
  alphanumeric character distribution — the compression-style quality
  signal that flags both keyboard-mash (entropy near the uniform
  bound) and degenerate repetition (entropy near zero), orthogonal to
  the token-level filters (text_quality_score, text_repetition_filter).
- ``stats_levene_bf``: Brown-Forsythe robust variance-homogeneity
  test (Levene with group medians) across market segments — the
  check run BEFORE trusting stats_anova_f, whose F assumes equal
  variances.

Determinism: RRF terms are single divisions of exact integer ranks
rounded at 9 dp and decimal-summed; PERCENTILE_CONT interpolates two
exact cents values with one mirrored float expression; entropy terms
round c·log2(c) at 9 dp into decimal sums; Brown-Forsythe runs on
|2v − 2·median| which is EXACT integers (doubled medians of integer
cents stay integral), so both ANOVA sums of squares derive from exact
moments with mirrored float combination.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_sample_spark.functions.total_order import attach_global_order
from python_etl_sample_spark.operators.round7_ops import (
    _BM25_CTES,
    text_bm25_rank,
)
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table

_BCENTS = "CAST(round(c_acctbal * 100) AS BIGINT)"
_LCENTS = "CAST(round(l_extendedprice * 100) AS BIGINT)"
_DEC38 = "decimal(38,0)"

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
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
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
# agg_percentile_cont
# ---------------------------------------------------------------------------

_PCTS = ((25, "0.25"), (50, "0.5"), (75, "0.75"), (90, "0.9"), (99, "0.99"))


@query(
    "agg_percentile_cont",
    oracle=f"""
    WITH v AS (
      SELECT {_LCENTS} AS cents, l_orderkey, l_linenumber FROM lineitem
    ),
    r AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents, l_orderkey, l_linenumber)
               AS rn,
             COUNT(*) OVER () AS n
      FROM v
    ),
    qs AS (SELECT UNNEST([{", ".join(p for _, p in _PCTS)}]) AS q,
                  UNNEST([{", ".join(str(t) for t, _ in _PCTS)}]) AS pct),
    hit AS (
      SELECT qs.pct, qs.q, r.n,
             1.0 + (r.n - 1) * qs.q AS pos,
             MAX(CASE WHEN r.rn = CAST(floor(1.0 + (r.n - 1) * qs.q)
                                       AS BIGINT)
                      THEN r.cents END) AS v_lo,
             MAX(CASE WHEN r.rn = CAST(ceil(1.0 + (r.n - 1) * qs.q)
                                       AS BIGINT)
                      THEN r.cents END) AS v_hi
      FROM r CROSS JOIN qs
      GROUP BY qs.pct, qs.q, r.n
    )
    SELECT pct, CAST(n AS BIGINT) AS n_rows,
           round((CAST(v_lo AS DOUBLE)
                  + (pos - floor(pos)) * (v_hi - v_lo)) / 100.0, 6)
             AS percentile_cont
    FROM hit
    """,
)
def agg_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard PERCENTILE_CONT: linear interpolation at position
    1 + (n−1)·q between the two bracketing order statistics of
    extended price, at the 25/50/75/90/99th percentiles — the
    interpolated quantile definition (the one NumPy, DuckDB
    quantile_cont, and warehouse PERCENTILE_CONT implement), closing
    the family next to the rank-exact agg_percentile_exact and the
    approximate agg_approx_quantile.

    Scale: the total order comes from the range-partitioned kernel
    (no single-task sort); each quantile needs exactly the rows whose
    global rank equals ⌊pos⌋ or ⌈pos⌉ — a broadcast join of the
    5-row quantile frame against rank-filtered rows, so nothing
    beyond the kernel's range shuffle is data-sized.

    Determinism: ranks are exact under the (cents, orderkey,
    linenumber) total order; pos = 1+(n−1)·q is the same IEEE double
    in both engines (identical operands, identical ops), so the
    bracketing ranks agree; the interpolation is one mirrored float
    expression of two exact integers, rounded at 6 dp."""
    li = table(spark, sf_dir, "lineitem")
    v = li.select(
        F.expr(_LCENTS).alias("cents"), "l_orderkey", "l_linenumber"
    )
    r = attach_global_order(
        v,
        [F.asc("cents"), F.asc("l_orderkey"), F.asc("l_linenumber")],
        rn="rn",
        total_count="n",
    )
    qs = spark.createDataFrame(
        [(pct, float(q)) for pct, q in _PCTS], "pct int, q double"
    )
    pos = 1.0 + (F.col("n") - 1) * F.col("q")
    hit = (
        r.crossJoin(F.broadcast(qs))
        .filter(
            (F.col("rn") == F.floor(pos).cast("bigint"))
            | (F.col("rn") == F.ceil(pos).cast("bigint"))
        )
        .groupBy("pct", "q", "n")
        .agg(
            F.max(
                F.when(
                    F.col("rn") == F.floor(pos).cast("bigint"),
                    F.col("cents"),
                )
            ).alias("v_lo"),
            F.max(
                F.when(
                    F.col("rn") == F.ceil(pos).cast("bigint"),
                    F.col("cents"),
                )
            ).alias("v_hi"),
        )
    )
    ppos = 1.0 + (F.col("n") - 1) * F.col("q")
    return hit.select(
        "pct",
        F.col("n").cast("long").alias("n_rows"),
        F.round(
            (
                F.col("v_lo").cast("double")
                + (ppos - F.floor(ppos)) * (F.col("v_hi") - F.col("v_lo"))
            )
            / 100.0,
            6,
        ).alias("percentile_cont"),
    )


# ---------------------------------------------------------------------------
# text_char_entropy
# ---------------------------------------------------------------------------


@query(
    "text_char_entropy",
    oracle="""
    WITH ch AS (
      SELECT doc_id, c.ch
      FROM documents,
           unnest(regexp_extract_all(lower(text), '[a-z0-9]')) AS c(ch)
    ),
    hist AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY doc_id, ch),
    d AS (
      SELECT doc_id, SUM(c) AS n, COUNT(*) AS n_distinct,
             CAST(SUM(CAST(round(c * log2(c), 9) AS DECIMAL(28,12)))
                  AS DOUBLE) AS s
      FROM hist GROUP BY doc_id
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           round(log2(n) - (s / n), 6) AS entropy_bits
    FROM d
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the alphanumeric character
    distribution, H = log2(n) − (Σ c·log2 c)/n bits/char — the
    compression-style quality signal: natural English sits near
    4.0–4.2 bits over [a-z0-9], keyboard mash / base64 blobs push
    toward the uniform bound log2(36) ≈ 5.17, and degenerate
    repetition collapses toward 0. Orthogonal to the token-level
    gates (text_quality_score's ratios, text_repetition_filter's
    n-grams): entropy sees sub-token structure.

    Scale: map-only character extraction, one (doc, char) groupBy
    with map-side combine (≤36 rows per document after combining),
    one per-doc reduction. Nothing else.

    Determinism: counts are exact; each c·log2(c) term rounds at 9 dp
    and sums as decimal; H is one mirrored float expression rounded
    at 6 dp (log2 of identical exact integers on both engines)."""
    d = table(spark, sf_dir, "documents")
    ch = d.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]', 0)")
        ).alias("ch"),
    )
    hist = ch.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    agg = hist.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(
            F.round(F.col("c") * F.log2("c"), 9).cast("decimal(28,12)")
        )
        .cast("double")
        .alias("s"),
    )
    return agg.select(
        "doc_id",
        F.col("n").cast("long").alias("n_chars"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.round(F.log2("n") - (F.col("s") / F.col("n")), 6).alias(
            "entropy_bits"
        ),
    )


# ---------------------------------------------------------------------------
# stats_levene_bf
# ---------------------------------------------------------------------------


@query(
    "stats_levene_bf",
    oracle=f"""
    WITH base AS (
      SELECT c_mktsegment AS seg, {_BCENTS} AS v, c_custkey FROM customer
    ),
    rk AS (
      SELECT seg, v,
             ROW_NUMBER() OVER (PARTITION BY seg
                                ORDER BY v, c_custkey) AS rn,
             COUNT(*) OVER (PARTITION BY seg) AS n_g
      FROM base
    ),
    med AS (
      SELECT seg,
             SUM(CASE WHEN rn = (n_g + 1) // 2 THEN v ELSE 0 END)
             + SUM(CASE WHEN rn = n_g // 2 + 1 THEN v ELSE 0 END) AS m2
      FROM rk GROUP BY seg
    ),
    z AS (
      SELECT b.seg, ABS(2 * b.v - m.m2) AS z
      FROM base b JOIN med m ON m.seg = b.seg
    ),
    grp AS (
      SELECT seg, COUNT(*) AS n_i,
             SUM(CAST(z AS DECIMAL(38,0))) AS s_i,
             SUM(CAST(z AS DECIMAL(38,0)) * z) AS ssq_i
      FROM z GROUP BY seg
    ),
    gm AS (
      SELECT CAST(SUM(n_i) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(s_i) AS DOUBLE) AS s,
             CAST(SUM(ssq_i) AS DOUBLE) AS ssq,
             CAST(SUM(CAST(round((CAST(s_i AS DOUBLE) * CAST(s_i AS DOUBLE))
                                 / n_i, 6) AS DECIMAL(38,8))) AS DOUBLE)
               AS st
      FROM grp
    )
    SELECT n AS n_total, k AS n_groups,
           CASE WHEN ssq - st > 0 AND k > 1
                THEN round(((st - s * (s / n)) / (k - 1))
                           / ((ssq - st) / (n - k)), 6)
                END AS f_stat
    FROM gm
    """,
)
def stats_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test across market
    segments: a one-way ANOVA F computed on the absolute deviations
    from each group's MEDIAN, z = |v − med_i| — the robust Levene
    variant (median centers resist the outliers that break the
    mean-centered original). This is the pre-check for
    stats_anova_f's equal-variance assumption; a large F here says
    segment variances differ and the pooled ANOVA denominator lies.

    Exactness trick: work on 2× the deviations — the doubled median
    of integer cents is v_lo + v_hi (an exact integer whether the
    group is odd or even), so z = |2v − m2| stays integral and every
    ANOVA moment (Σz, Σz², per-group sums) is an exact decimal; F is
    a mirrored float combination rounded at 6 dp. Scaling z by 2
    scales both numerator and denominator by 4 — F is unchanged.

    Scale: per-group medians use a window PARTITIONED by segment (one
    shuffle on the group key, parallel across groups); deviations are
    a broadcast join of k medians; the ANOVA reduction is one
    groupBy. At 100 TB the only data-sized cost is the group-key
    shuffle every grouped rank pays."""
    c = table(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_mktsegment").alias("seg"),
        F.expr(_BCENTS).alias("v"),
        "c_custkey",
    )
    wr = Window.partitionBy("seg").orderBy("v", "c_custkey")
    wn = Window.partitionBy("seg")
    rk = base.select(
        "seg",
        "v",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n_g"),
    )
    med = rk.groupBy("seg").agg(
        (
            F.sum(
                F.when(
                    F.col("rn") == ((F.col("n_g") + 1) / 2).cast("bigint"),
                    F.col("v"),
                ).otherwise(0)
            )
            + F.sum(
                F.when(
                    F.col("rn")
                    == (F.col("n_g") / 2).cast("bigint") + 1,
                    F.col("v"),
                ).otherwise(0)
            )
        ).alias("m2")
    )
    z = base.join(F.broadcast(med), "seg").select(
        "seg", F.abs(2 * F.col("v") - F.col("m2")).alias("z")
    )
    zd = F.col("z").cast(_DEC38)
    grp = z.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n_i"),
        F.sum(zd).alias("s_i"),
        F.sum(zd * F.col("z")).alias("ssq_i"),
    )
    sid = F.col("s_i").cast("double")
    gm = grp.agg(
        F.sum("n_i").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("s_i").cast("double").alias("s"),
        F.sum("ssq_i").cast("double").alias("ssq"),
        F.sum(
            F.round((sid * sid) / F.col("n_i"), 6).cast("decimal(38,8)")
        )
        .cast("double")
        .alias("st"),
    )
    n, k = F.col("n"), F.col("k")
    f_stat = ((F.col("st") - F.col("s") * (F.col("s") / n)) / (k - 1)) / (
        (F.col("ssq") - F.col("st")) / (n - k)
    )
    return gm.select(
        n.alias("n_total"),
        k.alias("n_groups"),
        F.when(
            (F.col("ssq") - F.col("st") > 0) & (k > 1), F.round(f_stat, 6)
        ).alias("f_stat"),
    )
