"""Round-11 — annotation-QA, experiment-design and corpus-diagnostic
operators (all fully hash-checked):

- ``ml_cohens_kappa`` / ``stats_fleiss_kappa`` / ``ml_mcnemar_paired``:
  the inter-annotator-agreement and paired-classifier-comparison tier a
  labeling pipeline needs before acting on model or rater output —
  agreement beyond chance for 2 raters (Cohen), for 3+ raters (Fleiss),
  and the discordant-pair significance test for "is classifier B better
  than A on the same items" (McNemar). All three are exact-integer
  confusion counts with one mirrored double expression at the end.

- ``events_power_mde``: minimum detectable effect for an A/B test per
  event segment at standard (α=0.05 two-sided, 80% power) settings —
  the experiment-sizing readout that belongs next to events_ab_lift /
  events_uplift_cuped.

- ``dedup_jaccard_histogram``: the pairwise-similarity temperature of
  the corpus — how many shared-shingle pairs sit in each Jaccard band.
  Rides the session-memoized cross-engine inverted-index frames
  (functions/xengine.py), so it adds one aggregation to machinery the
  dedup tier already runs.

- ``text_heaps_law_fit``: Heaps'-law vocabulary-growth fit (V ≈ K·Nᵝ)
  over the document stream — the companion corpus-health check to
  text_zipf_slope (natural text: β ≈ 0.4-0.6; templated/duplicated
  corpora bend the curve).

- ``text_log_odds_domain_terms``: Monroe et al.'s log-odds-ratio with
  informative Dirichlet prior — the standard "which terms distinguish
  this source from the rest" statistic for corpus curation, stronger
  than raw TF-IDF because it damps rare-word noise with the global
  prior.

- ``sim_lsh_radius_sweep``: recall-vs-radius curve for the deployed
  LSH tables (the tuning companion to sim_ivf_nprobe_sweep on the IVF
  side), measured against the exact top-5.

- ``text_bpe_compression_by_lang``: bytes/token and tokens/word per
  language under the trained BPE merge table — the tokenizer-equity
  readout (which languages pay more tokens per byte) computed from the
  session-memoized training pipeline.

Scale notes are per-query; none plans a cartesian, none collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_sample_spark.functions import xengine as xe
from python_etl_sample_spark.functions.determinism import DEC9, dsum9_sql
from python_etl_sample_spark.functions.total_order import attach_global_order
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table

# --------------------------------------------------------------------------
# ml_cohens_kappa
# --------------------------------------------------------------------------

#: the two deterministic binary "raters" over orders: priority-based
#: and price-based urgency labels. Cutoff 150000.0 splits the fixture
#: price distribution near its upper third, so the raters agree well
#: above chance without being degenerate.
_KAPPA_A = "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END"
_KAPPA_B = "CASE WHEN o_totalprice >= 150000.0 THEN 1 ELSE 0 END"


@query(
    "ml_cohens_kappa",
    oracle=f"""
    WITH lab AS (
      SELECT {_KAPPA_A} AS a, {_KAPPA_B} AS b FROM orders
    ),
    cm AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a * b) AS BIGINT) AS n11,
             CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
             CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
             CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
      FROM lab
    )
    SELECT n, n11, n10, n01, n00,
           round((n11 + n00) * 1.0 / n, 6) AS po,
           round(((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)
                 + ((n01 + n00) * 1.0 / n) * ((n10 + n00) * 1.0 / n), 6)
             AS pe,
           round(((n11 + n00) * 1.0 / n
                  - (((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)
                     + ((n01 + n00) * 1.0 / n) * ((n10 + n00) * 1.0 / n)))
                 / (1.0 - (((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)
                           + ((n01 + n00) * 1.0 / n)
                             * ((n10 + n00) * 1.0 / n))), 6) AS kappa
    FROM cm
    """,
)
def ml_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic binary raters on orders
    (priority-urgency vs price-urgency): observed agreement po, chance
    agreement pe from the marginals, and kappa = (po − pe)/(1 − pe) —
    the standard chance-corrected agreement score for a 2-rater
    labeling audit.

    Determinism: the confusion matrix is four exact integer counts from
    one map-side-combined aggregation; po/pe/kappa are one mirrored
    double expression each (identical parenthesization both engines),
    rounded 6 dp. Scale: a single scan + 1-row aggregate — nothing
    keyed, nothing joined."""
    o = table(spark, sf_dir, "orders")
    a, b = F.expr(_KAPPA_A), F.expr(_KAPPA_B)
    cm = o.select(a.alias("a"), b.alias("b")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("a") * F.col("b")).alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).alias("n00"),
    )
    n = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")) * F.lit(1.0) / n
    pa1 = (F.col("n11") + F.col("n10")) * F.lit(1.0) / n
    pb1 = (F.col("n11") + F.col("n01")) * F.lit(1.0) / n
    pa0 = (F.col("n01") + F.col("n00")) * F.lit(1.0) / n
    pb0 = (F.col("n10") + F.col("n00")) * F.lit(1.0) / n
    pe = pa1 * pb1 + pa0 * pb0
    return cm.select(
        F.col("n").cast("long").alias("n"),
        F.col("n11").cast("long").alias("n11"),
        F.col("n10").cast("long").alias("n10"),
        F.col("n01").cast("long").alias("n01"),
        F.col("n00").cast("long").alias("n00"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
    )


# --------------------------------------------------------------------------
# stats_fleiss_kappa
# --------------------------------------------------------------------------

#: three deterministic binary raters over lineitem rows — discount,
#: tax and quantity each vote "flagged" independently, giving the
#: 3-rater agreement table Fleiss' kappa scores.
_FLEISS_R1 = "CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END"
_FLEISS_R2 = "CASE WHEN l_tax >= 0.04 THEN 1 ELSE 0 END"
_FLEISS_R3 = "CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END"


@query(
    "stats_fleiss_kappa",
    oracle=f"""
    WITH votes AS (
      SELECT ({_FLEISS_R1}) + ({_FLEISS_R2}) + ({_FLEISS_R3}) AS k
      FROM lineitem
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(k) AS BIGINT) AS sk,
             CAST(SUM(k * k + (3 - k) * (3 - k)) AS BIGINT) AS s2
      FROM votes
    )
    SELECT n, sk AS n_flag_votes,
           round((s2 - 3 * n) * 1.0 / (6 * n), 6) AS p_bar,
           round((sk * 1.0 / (3 * n)) * (sk * 1.0 / (3 * n))
                 + (1.0 - sk * 1.0 / (3 * n))
                   * (1.0 - sk * 1.0 / (3 * n)), 6) AS p_e,
           round(((s2 - 3 * n) * 1.0 / (6 * n)
                  - ((sk * 1.0 / (3 * n)) * (sk * 1.0 / (3 * n))
                     + (1.0 - sk * 1.0 / (3 * n))
                       * (1.0 - sk * 1.0 / (3 * n))))
                 / (1.0 - ((sk * 1.0 / (3 * n)) * (sk * 1.0 / (3 * n))
                           + (1.0 - sk * 1.0 / (3 * n))
                             * (1.0 - sk * 1.0 / (3 * n)))), 6)
             AS fleiss_kappa
    FROM s
    """,
)
def stats_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa for three deterministic binary raters voting per
    lineitem row (discount / tax / quantity flags): per-item agreement
    P_i = (Σ_j n_ij² − r)/(r(r−1)) with r = 3 collapses to exact
    integer sums (Σk, Σ[k² + (3−k)²]), chance agreement P_e comes from
    the pooled category proportions, and kappa = (P̄ − P_e)/(1 − P_e)
    — the multi-rater generalization of ml_cohens_kappa, the score an
    annotation pipeline with >2 labelers reports.

    Determinism: every input to the final expression is an exact
    int64 sum from ONE map-side-combined aggregation; the kappa
    expression is mirrored verbatim. Scale: single scan, 1-row
    aggregate."""
    li = table(spark, sf_dir, "lineitem")
    k = (F.expr(_FLEISS_R1) + F.expr(_FLEISS_R2) + F.expr(_FLEISS_R3)).alias(
        "k"
    )
    s = li.select(k).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sk"),
        F.sum(F.col("k") * F.col("k") + (3 - F.col("k")) * (3 - F.col("k"))).alias(
            "s2"
        ),
    )
    n = F.col("n").cast("double")
    p1 = F.col("sk") * F.lit(1.0) / (F.lit(3.0) * n)
    p_bar = (F.col("s2") - 3 * F.col("n")) * F.lit(1.0) / (F.lit(6.0) * n)
    p_e = p1 * p1 + (F.lit(1.0) - p1) * (F.lit(1.0) - p1)
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.col("sk").cast("long").alias("n_flag_votes"),
        F.round(p_bar, 6).alias("p_bar"),
        F.round(p_e, 6).alias("p_e"),
        F.round((p_bar - p_e) / (F.lit(1.0) - p_e), 6).alias("fleiss_kappa"),
    )


# --------------------------------------------------------------------------
# ml_mcnemar_paired
# --------------------------------------------------------------------------

#: gold label and the two classifiers under comparison, all on orders:
#: gold = priority urgency; A predicts from price, B from order width
#: (number of lineitems — the one join in the query).
_MC_GOLD = "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END"
_MC_A = "CASE WHEN o_totalprice >= 150000.0 THEN 1 ELSE 0 END"
_MC_NLINE = 4


@query(
    "ml_mcnemar_paired",
    oracle=f"""
    WITH width AS (
      SELECT l_orderkey AS ok, COUNT(*) AS n_lines
      FROM lineitem GROUP BY l_orderkey
    ),
    lab AS (
      SELECT {_MC_GOLD} AS g, {_MC_A} AS a,
             CASE WHEN w.n_lines >= {_MC_NLINE} THEN 1 ELSE 0 END AS b
      FROM orders o JOIN width w ON w.ok = o.o_orderkey
    ),
    cm AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN a = g AND b <> g THEN 1 ELSE 0 END)
                  AS BIGINT) AS b_cnt,
             CAST(SUM(CASE WHEN a <> g AND b = g THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_cnt,
             CAST(SUM(CASE WHEN a = g THEN 1 ELSE 0 END) AS BIGINT) AS a_ok,
             CAST(SUM(CASE WHEN b = g THEN 1 ELSE 0 END) AS BIGINT) AS b_ok
      FROM lab
    )
    SELECT n, b_cnt AS a_only_correct, c_cnt AS b_only_correct,
           round(a_ok * 1.0 / n, 6) AS acc_a,
           round(b_ok * 1.0 / n, 6) AS acc_b,
           round((abs(b_cnt - c_cnt) - 1.0) * (abs(b_cnt - c_cnt) - 1.0)
                 / (b_cnt + c_cnt), 6) AS chi2_cc
    FROM cm
    """,
)
def ml_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test (continuity-corrected) comparing two classifiers
    on the SAME items — price-based vs order-width-based urgency
    prediction against the priority gold label: only the discordant
    pairs (exactly one classifier right) carry information, and
    χ²_cc = (|b − c| − 1)²/(b + c) is the 1-df statistic for "is the
    accuracy difference real" — the standard paired comparison an eval
    harness runs before swapping classifier A for B.

    Determinism: the discordant counts are exact integers (one
    order-width join + one combiner-reduced aggregate); accuracies and
    χ² are mirrored double expressions rounded 6 dp. Scale: the width
    frame is an orderkey-keyed partial-agg; the join shuffles keys, the
    final aggregate is 1 row."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    width = li.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.count(F.lit(1)).alias("n_lines")
    )
    lab = o.join(width, o.o_orderkey == width.ok).select(
        F.expr(_MC_GOLD).alias("g"),
        F.expr(_MC_A).alias("a"),
        F.when(F.col("n_lines") >= _MC_NLINE, 1).otherwise(0).alias("b"),
    )
    cm = lab.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when((F.col("a") == F.col("g")) & (F.col("b") != F.col("g")), 1)
            .otherwise(0)
        ).alias("b_cnt"),
        F.sum(
            F.when((F.col("a") != F.col("g")) & (F.col("b") == F.col("g")), 1)
            .otherwise(0)
        ).alias("c_cnt"),
        F.sum(F.when(F.col("a") == F.col("g"), 1).otherwise(0)).alias("a_ok"),
        F.sum(F.when(F.col("b") == F.col("g"), 1).otherwise(0)).alias("b_ok"),
    )
    n = F.col("n").cast("double")
    diff = F.abs(F.col("b_cnt") - F.col("c_cnt")) - F.lit(1.0)
    return cm.select(
        F.col("n").cast("long").alias("n"),
        F.col("b_cnt").cast("long").alias("a_only_correct"),
        F.col("c_cnt").cast("long").alias("b_only_correct"),
        F.round(F.col("a_ok") * F.lit(1.0) / n, 6).alias("acc_a"),
        F.round(F.col("b_ok") * F.lit(1.0) / n, 6).alias("acc_b"),
        F.round(
            diff * diff / (F.col("b_cnt") + F.col("c_cnt")), 6
        ).alias("chi2_cc"),
    )


# --------------------------------------------------------------------------
# events_power_mde
# --------------------------------------------------------------------------

#: z-quantiles for α = 0.05 two-sided and 80% power, as shared double
#: literals (scipy.stats.norm.ppf(0.975) / ppf(0.8), 9 dp — constants,
#: not computed, so both engines parse the identical decimal text).
_Z_ALPHA = 1.959963985
_Z_POWER = 0.841621234
#: "conversion" = event value ≥ 75 (the fixture's value field is
#: ~uniform 0-100, so p ≈ 0.25 per segment)
_MDE_CONV = 75.0


@query(
    "events_power_mde",
    oracle=f"""
    WITH seg AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN value >= {_MDE_CONV} THEN 1 ELSE 0 END)
                  AS BIGINT) AS conv
      FROM events GROUP BY event_type
    )
    SELECT event_type, n, conv,
           round(conv * 1.0 / n, 6) AS p,
           round(({_Z_ALPHA} + {_Z_POWER})
                 * sqrt(2.0 * (conv * 1.0 / n) * (1.0 - conv * 1.0 / n)
                        / (n / 2.0)), 6) AS mde_abs
    FROM seg
    """,
)
def events_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect per event segment for a 50/50 A/B
    split of that segment's traffic at α = 0.05 (two-sided), 80% power:
    MDE ≈ (z_{{1−α/2}} + z_{{power}})·√(2p(1−p)/(n/2)) — the
    experiment-sizing readout that tells a team which segments are big
    enough to measure a given lift in, before they burn a test cycle.

    Determinism: n/conv are exact integers; z-quantiles are fixed
    literals; the MDE is one mirrored sqrt expression (IEEE sqrt is
    correctly rounded — deterministic in both engines) rounded 6 dp.
    Scale: one map-side-combined groupBy to |segments| rows."""
    e = table(spark, sf_dir, "events")
    seg = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("value") >= _MDE_CONV, 1).otherwise(0)).alias(
            "conv"
        ),
    )
    p = F.col("conv") * F.lit(1.0) / F.col("n").cast("double")
    mde = (F.lit(_Z_ALPHA) + F.lit(_Z_POWER)) * F.sqrt(
        F.lit(2.0) * p * (F.lit(1.0) - p) / (F.col("n").cast("double") / F.lit(2.0))
    )
    return seg.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("conv").cast("long").alias("conv"),
        F.round(p, 6).alias("p"),
        F.round(mde, 6).alias("mde_abs"),
    )


# --------------------------------------------------------------------------
# dedup_jaccard_histogram
# --------------------------------------------------------------------------


@query(
    "dedup_jaccard_histogram",
    oracle=f"""
    WITH {xe._X_CTES},
    j AS (
      SELECT round(n_inter / (sa.n + sb.n - n_inter), 9) AS jac
      FROM xinter
      JOIN xsizes sa ON sa.doc_id = doc_a
      JOIN xsizes sb ON sb.doc_id = doc_b
    )
    SELECT CAST(floor(jac * 20) AS BIGINT) AS bin20,
           round(CAST(floor(jac * 20) AS BIGINT) / 20.0, 2) AS bin_lo,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round({dsum9_sql('jac')} / COUNT(*), 6) AS mean_jac
    FROM j
    GROUP BY 1, 2
    """,
    tags=("memo",),
)
def dedup_jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of pairwise shingle-Jaccard over every document pair
    sharing ≥ 1 word-3-gram, in 0.05-wide bins — the corpus's
    near-duplication "temperature curve": a healthy crawl puts nearly
    all mass in the lowest bins with a thin planted-duplicate tail; a
    templated or over-crawled corpus shows a fat middle. This is the
    distribution the dedup thresholds (0.8 for minhash, radius 8 for
    simhash) were chosen against, now a driver-visible artifact.

    Rides the session-memoized cross-engine inverted-index frames
    (functions/xengine.py) — the histogram adds ONE aggregation to
    machinery the recall/detector queries already run; at 100 TB the
    pair frame is the inverted-index join's output, bounded by shingle
    document frequency, never O(n²).

    Determinism: Jaccard is an exact-int division rounded 9 dp; the
    bin is floor(jac·20) on that identical double; mean_jac sums at
    decimal scale 9 (DEC9), where the cast recovers each 9-dp value
    EXACTLY in both engines — no re-round, no tie semantics in play
    (a scale-6 cast would re-round 9-dp inputs with engine-specific
    tie handling; see functions/determinism.py)."""
    keys = xe._xengine_shingle_keys(spark, sf_dir)
    pairs = xe._xengine_pairs(spark, sf_dir)
    sizes = keys.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.round(
        F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 9
    )
    j = pairs.join(sa, "doc_a").join(sb, "doc_b").select(jac.alias("jac"))
    bin20 = F.floor(F.col("jac") * 20).cast("long")
    return (
        j.groupBy(bin20.alias("bin20"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.sum(F.col("jac").cast(DEC9)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_jac"),
        )
        .select(
            "bin20",
            F.round(F.col("bin20") / F.lit(20.0), 2).alias("bin_lo"),
            "n_pairs",
            "mean_jac",
        )
    )


# --------------------------------------------------------------------------
# text_heaps_law_fit
# --------------------------------------------------------------------------


@query(
    "text_heaps_law_fit",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS token
      FROM documents
    ),
    tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_tok FROM tok2 GROUP BY doc_id
    ),
    first_seen AS (
      SELECT token, MIN(doc_id) AS fd FROM tok2 GROUP BY token
    ),
    new_per_doc AS (
      SELECT fd AS doc_id, COUNT(*) AS n_new FROM first_seen GROUP BY fd
    ),
    j AS (
      SELECT p.doc_id, p.n_tok, COALESCE(np.n_new, 0) AS n_new
      FROM per_doc p LEFT JOIN new_per_doc np ON np.doc_id = p.doc_id
    ),
    cum AS (
      SELECT doc_id,
             SUM(n_tok) OVER w AS cum_n,
             SUM(n_new) OVER w AS cum_v
      FROM j
      WINDOW w AS (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    pts AS (
      SELECT round(log10(CAST(cum_n AS DOUBLE)), 9) AS x,
             round(log10(CAST(cum_v AS DOUBLE)), 9) AS y
      FROM cum WHERE cum_n >= 1 AND cum_v >= 1
    ),
    sums AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             {dsum9_sql('x')} AS sx, {dsum9_sql('y')} AS sy,
             {dsum9_sql('round(x * x, 9)')} AS sxx,
             {dsum9_sql('round(x * y, 9)')} AS sxy
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS heaps_beta,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
             AS heaps_log10_k
    FROM sums
    """,
)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit over the document stream in
    doc_id order: at each document, cumulative token count N and
    cumulative distinct-vocabulary size V (a token joins V at its
    FIRST document — min(doc_id) per token, so V needs no stateful
    scan); the fit is log10 V = log10 K + β·log10 N by OLS over the
    per-document checkpoints. Natural text gives β ≈ 0.4-0.6; a heavily
    duplicated or templated corpus flattens β — the growth-side
    companion to text_zipf_slope's frequency-side health check.

    Scale: token explode is map-only; first-occurrence is one
    combiner-reduced groupBy over the (token, doc) stream; the
    cumulative sums ride the exact total-order kernel
    (functions/total_order.py — range-partitioned, no single-partition
    window); the regression runs on |docs| checkpoint rows via the
    decimal-sum OLS of agg_regression_ols.

    Determinism: counts are exact ints; log10 outputs round at 9 dp,
    their sums run at decimal scale 9 (DEC9 — the cast is EXACT for
    9-dp inputs, no engine-specific re-round; see
    functions/determinism.py), and the cross-products round at 9 dp in
    double — mirrored in both engines — before the same exact scale-9
    cast; ties impossible (doc_id is unique)."""
    d = table(spark, sf_dir, "documents")
    tok = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    per_doc = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    first_seen = tok.groupBy("token").agg(F.min("doc_id").alias("fd"))
    new_per_doc = first_seen.groupBy(F.col("fd").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    j = per_doc.join(new_per_doc, "doc_id", "left").select(
        "doc_id", "n_tok", F.coalesce("n_new", F.lit(0)).alias("n_new")
    )
    cum = attach_global_order(
        j,
        [F.asc("doc_id")],
        cumsums=[("n_tok", "cum_n"), ("n_new", "cum_v")],
    )
    pts = cum.filter((F.col("cum_n") >= 1) & (F.col("cum_v") >= 1)).select(
        F.round(F.log10(F.col("cum_n").cast("double")), 9).alias("x"),
        F.round(F.log10(F.col("cum_v").cast("double")), 9).alias("y"),
    )
    dec9 = lambda c: F.sum(c.cast(DEC9)).cast("double")  # noqa: E731
    sums = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec9(F.col("x")).alias("sx"),
        dec9(F.col("y")).alias("sy"),
        dec9(F.round(F.col("x") * F.col("x"), 9)).alias("sxx"),
        dec9(F.round(F.col("x") * F.col("y"), 9)).alias("sxy"),
    )
    n, sx, sy, sxx, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "sxy"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return sums.select(
        n.cast("bigint").alias("n_points"),
        F.round(slope, 6).alias("heaps_beta"),
        F.round((sy - slope * sx) / n, 6).alias("heaps_log10_k"),
    )


# --------------------------------------------------------------------------
# text_log_odds_domain_terms
# --------------------------------------------------------------------------

#: Dirichlet prior mass (Monroe et al. 2008's "informative prior"): the
#: global unigram distribution scaled to _LO_PRIOR total pseudo-counts.
_LO_PRIOR = 500.0
_LO_TOPK = 5


@query(
    "text_log_odds_domain_terms",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(string_split_regex(lower(text), '\\s+')) AS token
      FROM documents
    ),
    tok2 AS (SELECT source, token FROM tok WHERE token <> ''),
    ys AS (
      SELECT source, token, CAST(COUNT(*) AS BIGINT) AS y1
      FROM tok2 GROUP BY source, token
    ),
    yw AS (
      SELECT token, CAST(SUM(y1) AS BIGINT) AS y FROM ys GROUP BY token
    ),
    ns AS (
      SELECT source, CAST(SUM(y1) AS BIGINT) AS n1 FROM ys GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(y) AS BIGINT) AS a FROM yw),
    z AS (
      SELECT s.source, s.token, s.y1, w.y,
             (s.y1 + w.y * {_LO_PRIOR} / t.a) AS num1,
             (n.n1 + {_LO_PRIOR} - s.y1 - w.y * {_LO_PRIOR} / t.a) AS den1,
             (w.y - s.y1 + w.y * {_LO_PRIOR} / t.a) AS num2,
             (t.a - n.n1 + {_LO_PRIOR} - (w.y - s.y1)
              - w.y * {_LO_PRIOR} / t.a) AS den2
      FROM ys s
      JOIN yw w ON w.token = s.token
      JOIN ns n ON n.source = s.source
      CROSS JOIN tot t
    ),
    scored AS (
      SELECT source, token, y1,
             (round(ln(num1 / den1), 9) - round(ln(num2 / den2), 9))
             / sqrt(1.0 / num1 + 1.0 / num2) AS zscore
      FROM z
    ),
    ranked AS (
      SELECT source, token, y1, round(zscore, 9) AS z9,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY round(zscore, 9) DESC, token) AS rn
      FROM scored
    )
    SELECT source, token, y1 AS n_in_source,
           round(z9, 6) AS log_odds_z, CAST(rn AS INT) AS rn
    FROM ranked WHERE rn <= {_LO_TOPK}
    """,
)
def text_log_odds_domain_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most source-distinctive terms by Monroe et al.'s log-odds-ratio
    with an informative Dirichlet prior: for token w in source s vs the
    rest of the corpus, δ = ln((y₁+α_w)/(n₁+α₀−y₁−α_w)) − ln(rest), a
    z-score δ/√(1/(y₁+α_w) + 1/(y₂+α_w)), with α_w the global unigram
    distribution scaled to α₀ = 500 pseudo-counts. The standard corpus
    curation statistic for "what characterizes this source" — unlike
    raw TF-IDF it shrinks rare-word noise toward the global prior
    (Monroe, Colaresi & Quinn 2008, "Fightin' Words"). Top-5 per
    source by z.

    Determinism: counts are exact ints; α_w and every ratio are exact
    double arithmetic; the two ln() outputs round at 9 dp before
    differencing (the repo's libm convention), the ranking key is the
    9-dp z with token tie-break, and the output rounds at 6 dp.

    Scale: one (source, token) combiner-reduced count; the global
    vocab and per-source totals are that frame's re-aggregations; the
    z-frame is |sources|·|vocab-in-source| rows with a broadcast
    1-row total; the rank window partitions by source."""
    d = table(spark, sf_dir, "documents")
    tok = (
        d.select(
            "source",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    ys = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("y1"))
    yw = ys.groupBy("token").agg(F.sum("y1").alias("y"))
    ns = ys.groupBy("source").agg(F.sum("y1").alias("n1"))
    tot = yw.agg(F.sum("y").alias("a"))
    z = (
        ys.join(yw, "token")
        .join(ns, "source")
        .crossJoin(F.broadcast(tot))
    )
    alpha = F.col("y") * F.lit(_LO_PRIOR) / F.col("a")
    num1 = F.col("y1") + alpha
    den1 = F.col("n1") + F.lit(_LO_PRIOR) - F.col("y1") - alpha
    num2 = (F.col("y") - F.col("y1")) + alpha
    den2 = (
        F.col("a")
        - F.col("n1")
        + F.lit(_LO_PRIOR)
        - (F.col("y") - F.col("y1"))
        - alpha
    )
    zscore = (
        F.round(F.log(num1 / den1), 9) - F.round(F.log(num2 / den2), 9)
    ) / F.sqrt(F.lit(1.0) / num1 + F.lit(1.0) / num2)
    scored = z.select(
        "source", "token", "y1", F.round(zscore, 9).alias("z9")
    )
    w = Window.partitionBy("source").orderBy(F.desc("z9"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= _LO_TOPK)
        .select(
            "source",
            "token",
            F.col("y1").cast("long").alias("n_in_source"),
            F.round(F.col("z9"), 6).alias("log_odds_z"),
            "rn",
        )
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
    from python_etl_sample_spark.operators.similarity import sim_knn_per_query

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
    d2 = F.round(
        F.aggregate(
            F.zip_with(F.col("qv"), F.col("nv"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        9,
    )
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
# text_bpe_compression_by_lang
# --------------------------------------------------------------------------


def _bpe_compression_oracle() -> str:
    from python_etl_sample_spark.operators.round10b_ops import (
        _BPE_EOW,
        _BPE_ROUNDS,
        _bpe_round_sql,
    )

    rounds = ",".join(
        _bpe_round_sql(f"w{t - 1}", t) for t in range(1, _BPE_ROUNDS + 1)
    )
    return f"""
    WITH w0 AS MATERIALIZED (
      SELECT t.w AS word, COUNT(*) AS freq,
             list_append(
               list_transform(generate_series(1, len(t.w)),
                              i -> t.w[i]),
               '{_BPE_EOW}') AS syms
      FROM documents,
           unnest(regexp_extract_all(lower(text), '[a-z]+')) t(w)
      GROUP BY t.w
    ),
    {rounds},
    vocab AS (
      SELECT word, len(syms) AS n_toks, length(word) AS n_chars
      FROM w{_BPE_ROUNDS}
    ),
    lw AS (
      SELECT d.lang, t.w AS word, COUNT(*) AS cnt
      FROM documents d,
           unnest(regexp_extract_all(lower(d.text), '[a-z]+')) t(w)
      GROUP BY d.lang, t.w
    )
    SELECT l.lang,
           CAST(SUM(l.cnt) AS BIGINT) AS n_words,
           CAST(SUM(l.cnt * v.n_toks) AS BIGINT) AS n_tokens,
           CAST(SUM(l.cnt * v.n_chars) AS BIGINT) AS n_chars,
           round(SUM(l.cnt * v.n_chars) * 1.0 / SUM(l.cnt * v.n_toks), 6)
             AS chars_per_token,
           round(SUM(l.cnt * v.n_toks) * 1.0 / SUM(l.cnt), 6)
             AS tokens_per_word
    FROM lw l JOIN vocab v ON v.word = l.word
    GROUP BY l.lang
    """


@query("text_bpe_compression_by_lang", oracle=_bpe_compression_oracle(), tags=("memo",))
def text_bpe_compression_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-equity readout: characters per BPE token and tokens
    per word, per language, under the merge table the corpus-global BPE
    training (text_bpe_train_merges) learned. The fairness statistic
    every multilingual tokenizer audit reports — languages whose words
    the learned merges don't cover pay more tokens per character, i.e.
    more sequence length (and cost) per byte of text.

    Rides the session-memoized training pipeline (round10b_ops
    ``_bpe_pipeline`` — shared with the merge-table and encoder
    queries): the per-word segment counts come from the final symbol
    table; this query adds one per-(lang, word) count and one keyed
    join. The oracle replays the full 4-round Sennrich chain (the
    text_bpe_encode precedent).

    Determinism: everything is exact integer counts until two final
    mirrored divisions rounded 6 dp.

    Scale: the (lang, word) count is combiner-reduced to the per-lang
    vocabulary; the join is word-keyed against the |vocab| symbol
    table; output is |langs| rows."""
    from python_etl_sample_spark.operators.round10b_ops import _bpe_pipeline

    _, words = _bpe_pipeline(spark, sf_dir)
    vocab = words.select(
        "word",
        F.size("syms").alias("n_toks"),
        F.length("word").alias("n_chars"),
    )
    d = table(spark, sf_dir, "documents")
    lw = (
        d.select(
            "lang",
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
            ).alias("word"),
        )
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    j = lw.join(vocab, "word")
    return j.groupBy("lang").agg(
        F.sum("cnt").cast("long").alias("n_words"),
        F.sum(F.col("cnt") * F.col("n_toks")).cast("long").alias("n_tokens"),
        F.sum(F.col("cnt") * F.col("n_chars")).cast("long").alias("n_chars"),
        F.round(
            F.sum(F.col("cnt") * F.col("n_chars"))
            * F.lit(1.0)
            / F.sum(F.col("cnt") * F.col("n_toks")),
            6,
        ).alias("chars_per_token"),
        F.round(
            F.sum(F.col("cnt") * F.col("n_toks"))
            * F.lit(1.0)
            / F.sum("cnt"),
            6,
        ).alias("tokens_per_word"),
    )


# --------------------------------------------------------------------------
# stats_krippendorff_alpha
# --------------------------------------------------------------------------


@query(
    "stats_krippendorff_alpha",
    oracle=f"""
    WITH votes AS (
      SELECT ({_FLEISS_R1}) + ({_FLEISS_R2}) + ({_FLEISS_R3}) AS k
      FROM lineitem
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(k) AS BIGINT) AS n1,
             CAST(SUM(k * (3 - k)) AS BIGINT) AS dis
      FROM votes
    )
    SELECT n, n1 AS n_flag_votes,
           round(dis * 1.0 / (3 * n), 6) AS d_obs,
           round(2.0 * n1 * (3 * n - n1)
                 / (CAST(3 * n AS DOUBLE) * (3 * n - 1)), 6) AS d_exp,
           round(1.0 - (dis * 1.0 / (3 * n))
                 / (2.0 * n1 * (3 * n - n1)
                    / (CAST(3 * n AS DOUBLE) * (3 * n - 1))), 6)
             AS kripp_alpha
    FROM s
    """,
)
def stats_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (nominal data, 3 raters per item, no
    missing votes) for the same three deterministic raters
    stats_fleiss_kappa scores: α = 1 − D_o/D_e with observed
    disagreement D_o = Σ k(3−k)/(3N) (disagreeing rater pairs per
    item over the 3 pairs) and expected disagreement from the pooled
    vote margins WITH the finite-sample correction M(M−1) — the
    difference from Fleiss' π-style chance term, and the reason
    content-analysis work reports α when vote counts are small.

    Determinism: two exact int64 sums; the α expression is mirrored
    verbatim and rounded 6 dp. Scale: single scan, 1-row aggregate —
    the agreement tier (Cohen → Fleiss → Krippendorff → Cochran) all
    run on one combiner-reduced pass each."""
    li = table(spark, sf_dir, "lineitem")
    k = (F.expr(_FLEISS_R1) + F.expr(_FLEISS_R2) + F.expr(_FLEISS_R3)).alias(
        "k"
    )
    s = li.select(k).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("n1"),
        F.sum(F.col("k") * (3 - F.col("k"))).alias("dis"),
    )
    n = F.col("n")
    m = (3 * n).cast("double")
    d_obs = F.col("dis") * F.lit(1.0) / (3 * n)
    d_exp = (
        F.lit(2.0)
        * F.col("n1")
        * (3 * n - F.col("n1"))
        / (m * (3 * n - 1))
    )
    return s.select(
        n.cast("long").alias("n"),
        F.col("n1").cast("long").alias("n_flag_votes"),
        F.round(d_obs, 6).alias("d_obs"),
        F.round(d_exp, 6).alias("d_exp"),
        F.round(F.lit(1.0) - d_obs / d_exp, 6).alias("kripp_alpha"),
    )


# --------------------------------------------------------------------------
# stats_cochran_q
# --------------------------------------------------------------------------


@query(
    "stats_cochran_q",
    oracle=f"""
    WITH votes AS (
      SELECT {_FLEISS_R1} AS r1, {_FLEISS_R2} AS r2, {_FLEISS_R3} AS r3
      FROM lineitem
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(r1) AS BIGINT) AS c1,
             CAST(SUM(r2) AS BIGINT) AS c2,
             CAST(SUM(r3) AS BIGINT) AS c3,
             CAST(SUM(r1 + r2 + r3) AS BIGINT) AS sr,
             CAST(SUM((r1 + r2 + r3) * (r1 + r2 + r3)) AS BIGINT) AS sr2
      FROM votes
    )
    SELECT n, c1, c2, c3,
           round(2.0 * (3.0 * (c1 * c1 + c2 * c2 + c3 * c3)
                        - CAST(sr AS DOUBLE) * sr)
                 / (3.0 * sr - sr2), 6) AS cochran_q,
           CAST(2 AS INT) AS df
    FROM s
    """,
)
def stats_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q for the three binary flags as k = 3 matched
    "treatments" over the same lineitem blocks: Q = (k−1)(kΣCⱼ² −
    (ΣCⱼ)²)/(kΣRᵢ − ΣRᵢ²) — the k-sample generalization of McNemar's
    test (``ml_mcnemar_paired``), asking whether the three flag rates
    differ at all before any pairwise comparison is run. χ² with k−1 =
    2 df under H₀.

    Determinism: every term is an exact int64 sum from one
    combiner-reduced pass; the Q expression is mirrored (the ΣRᵢ²
    cross-term stays integer: (r1+r2+r3)² ≤ 9). Scale: single scan,
    1-row aggregate."""
    li = table(spark, sf_dir, "lineitem")
    s = li.select(
        F.expr(_FLEISS_R1).alias("r1"),
        F.expr(_FLEISS_R2).alias("r2"),
        F.expr(_FLEISS_R3).alias("r3"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r1").alias("c1"),
        F.sum("r2").alias("c2"),
        F.sum("r3").alias("c3"),
        F.sum(F.col("r1") + F.col("r2") + F.col("r3")).alias("sr"),
        F.sum(
            (F.col("r1") + F.col("r2") + F.col("r3"))
            * (F.col("r1") + F.col("r2") + F.col("r3"))
        ).alias("sr2"),
    )
    q = (
        F.lit(2.0)
        * (
            F.lit(3.0)
            * (
                F.col("c1") * F.col("c1")
                + F.col("c2") * F.col("c2")
                + F.col("c3") * F.col("c3")
            )
            - F.col("sr").cast("double") * F.col("sr")
        )
        / (F.lit(3.0) * F.col("sr") - F.col("sr2"))
    )
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.col("c1").cast("long").alias("c1"),
        F.col("c2").cast("long").alias("c2"),
        F.col("c3").cast("long").alias("c3"),
        F.round(q, 6).alias("cochran_q"),
        F.lit(2).cast("int").alias("df"),
    )


# --------------------------------------------------------------------------
# events_srm_check
# --------------------------------------------------------------------------

#: deterministic 50/50 arm assignment: multiplicative hash of user_id
#: (overflow audit: max user_id < 2³¹, 2³¹·2654435761 ≈ 5.8e18 < 2⁶³),
#: then parity — the hash decorrelates the arm from any id-ordered
#: ingestion artifact a plain id % 2 would inherit.
_SRM_ARM = "((user_id * 2654435761) % 2147483647) % 2"
#: χ²(1 df) critical value at α = 0.05 — literal, not computed
_SRM_CRIT = 3.841458821


@query(
    "events_srm_check",
    oracle=f"""
    WITH u AS (
      SELECT DISTINCT user_id FROM events
    ),
    arms AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(CASE WHEN {_SRM_ARM} = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_b
      FROM u
    )
    SELECT n_users, n_users - n_b AS arm_a, n_b AS arm_b,
           round((n_users - 2.0 * n_b) * (n_users - 2.0 * n_b) / n_users, 6)
             AS chi2,
           CASE WHEN (n_users - 2.0 * n_b) * (n_users - 2.0 * n_b) / n_users
                     > {_SRM_CRIT}
                THEN 1 ELSE 0 END AS srm_flag
    FROM arms
    """,
)
def events_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check for a 50/50 experiment split:
    deterministic hash-parity arm assignment over distinct users, then
    the 1-df χ² against the expected even split ((a−b)²/n for equal
    expecteds) and a flag at the α = 0.05 critical value — the first
    health check any A/B readout must pass before lift numbers mean
    anything (an SRM means the assignment or logging pipeline is
    biased, not the treatment).

    Determinism: the arm is an exact integer hash (overflow-audited
    multiplicative family); counts are exact; χ² is one mirrored
    double expression; the flag compares that identical double to a
    literal. Scale: distinct-users is one shuffle on user_id; the rest
    is a 1-row aggregate."""
    e = table(spark, sf_dir, "events")
    u = e.select("user_id").distinct()
    arms = u.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(
            F.when(F.expr(_SRM_ARM) == 1, 1).otherwise(0)
        ).alias("n_b"),
    )
    chi2 = (
        (F.col("n_users") - F.lit(2.0) * F.col("n_b"))
        * (F.col("n_users") - F.lit(2.0) * F.col("n_b"))
        / F.col("n_users")
    )
    return arms.select(
        F.col("n_users").cast("long").alias("n_users"),
        (F.col("n_users") - F.col("n_b")).cast("long").alias("arm_a"),
        F.col("n_b").cast("long").alias("arm_b"),
        F.round(chi2, 6).alias("chi2"),
        F.when(chi2 > F.lit(_SRM_CRIT), 1).otherwise(0).alias("srm_flag"),
    )


# --------------------------------------------------------------------------
# corpus_dedup_survivorship
# --------------------------------------------------------------------------


@query(
    "corpus_dedup_survivorship",
    oracle=f"""
    WITH {xe._X_CTES},
    dropped AS (
      SELECT DISTINCT doc_b AS doc_id
      FROM xinter
      JOIN xsizes sa ON sa.doc_id = doc_a
      JOIN xsizes sb ON sb.doc_id = doc_b
      WHERE n_inter / (sa.n + sb.n - n_inter) >= 0.8
    ),
    keep AS (
      SELECT d.doc_id, d.n_chars,
             length(string_split_regex(trim(lower(d.text)), '\\s+'))
               AS n_words,
             CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END AS is_keeper
      FROM documents d LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
    )
    SELECT is_keeper,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           round(SUM(n_chars) * 1.0 / COUNT(*), 6) AS mean_chars,
           round(SUM(n_words) * 1.0 / COUNT(*), 6) AS mean_words
    FROM keep
    GROUP BY is_keeper
    """,
    tags=("memo",),
)
def corpus_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship audit of near-dedup: do the documents the
    keep-lowest rule KEEPS differ systematically from the ones it
    drops? A document is dropped when it is the higher-id side of any
    shingle-Jaccard ≥ 0.8 pair (``dedup_near_minhash``'s verified pair
    set under the greedy keep-lowest discipline of
    ``pipeline_dedup_funnel``); per group: count, total/mean
    characters, mean whitespace-token count. A large keeper-vs-dropped
    gap means dedup is reshaping the corpus distribution, not just
    shrinking it — the bias check a curation pipeline reports next to
    its retention rate. (Exact-hash dedup is vacuous on these fixtures
    — zero byte-identical pairs at sf0.01 — so the audit runs on the
    near-dup tier, where the fixtures plant 25/256 pairs.)

    Rides the session-memoized cross-engine inverted-index frames
    (functions/xengine.py); the audit adds one anti-join-shaped LEFT
    JOIN and one aggregation. Determinism: the dropped set is an exact
    integer-keyed set; stats are exact-int sums with mirrored final
    divisions rounded 6 dp."""
    keys = xe._xengine_shingle_keys(spark, sf_dir)
    pairs = xe._xengine_pairs(spark, sf_dir)
    sizes = keys.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    dropped = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= 0.8)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("dropped", F.lit(1))
    )
    d = table(spark, sf_dir, "documents")
    keep = d.join(dropped, "doc_id", "left").select(
        "n_chars",
        F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "n_words"
        ),
        F.when(F.col("dropped").isNull(), 1).otherwise(0).alias("is_keeper"),
    )
    return keep.groupBy("is_keeper").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.round(
            F.sum("n_chars") * F.lit(1.0) / F.count(F.lit(1)), 6
        ).alias("mean_chars"),
        F.round(
            F.sum("n_words") * F.lit(1.0) / F.count(F.lit(1)), 6
        ).alias("mean_words"),
    )
