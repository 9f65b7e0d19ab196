"""Text-corpus extensions round 4: edit-distance fuzzy dedup and a
Zipf rank-frequency fit.

Complements the dedup family (operators/dedup.py) with the
CHARACTER-level near-duplicate detector the token-level MinHash/SimHash
signatures miss (small in-place edits, OCR noise), and adds the
corpus-health diagnostic (Zipf slope) every tokenizer/LM data report
includes.

- ``corpus_temperature_mix`` — square-root temperature sampling weights
  per (lang, source) domain (the T=2 / α=0.5 multilingual-LM sampling
  scheme), complementing ``corpus_mix_weights``'s full equalization.
  sqrt is IEEE-correctly-rounded, so the temperature transform is
  bit-identical across engines — the reason α is 0.5 and not 0.3
  (libm ``pow`` carries no cross-engine guarantee).

``corpus_apportion_budget``: largest-remainder
apportionment of a sampling budget.

``corpus_temperature_mix`` produces fractional sampling
weights; an epoch builder needs INTEGER document counts that sum to the
budget EXACTLY — fractional quotas rounded independently over- or
under-shoot by up to |domains|/2. The classical fix is Hamilton's
largest-remainder method: every domain gets ⌊quota⌋, and the leftover
seats go to the largest remainders (deterministic tie-break). The
apportionment property Σ alloc = budget is structural, not approximate
— and the oracle proves it as data.

Parity: the quota is one mirrored double expression rounded at 9 dp
(so ⌊·⌋ and the remainder are engine-identical); everything after is
exact integer arithmetic and an exact-rank cut.

- ``corpus_mix_alpha_sweep``: exponentiated sampling weights
  q_i ∝ p_i^α per (lang, source) bucket for an α grid — the decision
  curve around corpus_temperature_mix's deployed α = 0.5 policy
  (mT5/XLM-R-style, public papers).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_sample_spark.cache import cached_df
from python_etl_sample_spark.functions import xengine as xe
from python_etl_sample_spark.functions.determinism import DEC9, dsum_sql
from python_etl_sample_spark.functions.total_order import attach_global_order
from python_etl_sample_spark.operators.text_analysis import _doc_pos_tokens
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table


@query(
    "dedup_fuzzy_levenshtein",
    oracle="""
    SELECT a.doc_id, b.doc_id AS doc_id2,
           levenshtein(substr(a.text, 1, 60), substr(b.text, 1, 60)) AS dist
    FROM documents a
    JOIN documents b
      ON a.lang = b.lang AND a.source = b.source
     AND a.doc_id < b.doc_id
     AND abs(a.n_chars - b.n_chars) <= 5
    WHERE levenshtein(substr(a.text, 1, 60), substr(b.text, 1, 60)) <= 20
    """,
    tags=("memo",),
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup candidates by edit distance: within each
    (lang, source) block, doc pairs whose 60-char prefixes are within
    Levenshtein distance 20 — the character-level complement to the
    token-level MinHash/SimHash detectors (small edits, OCR noise).

    Scale shape: the O(n²) comparison is fenced twice BEFORE any
    distance is computed — an equi-join on the (lang, source) block key
    (a shuffle, not a cartesian) and a ±5-char length gate (edit
    distance ≥ length difference, so this prunes nothing that could
    match at threshold 20... it prunes pairs that could never be CLOSE
    — kept deliberately loose so the DP actually runs). Levenshtein on
    60-char prefixes bounds each comparison at 3 600 DP cells
    regardless of document length. Both engines implement the classic
    unit-cost DP, so distances are exactly equal.

    The RESULT frame (candidate-bounded) is session-memoized: the
    standalone query and ``dedup_consensus``'s fuzzy detector consume
    it verbatim (VERDICT r9 item 2); a fresh session re-runs the DP on
    a clean miss."""

    def build() -> DataFrame:
        return _fuzzy_pairs(spark, sf_dir)

    return cached_df(
        spark, ("fuzzy_levenshtein_result", os.path.abspath(sf_dir)), build
    )


def _fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars", F.substring("text", 1, 60).alias("p")
    )
    # Candidate pairs are CHEAP (equi-join on the block key + length
    # gate) but each surviving pair costs a 3 600-cell DP, and the DP
    # filter — being deterministic — is pushed INTO the join stage, so
    # the join's parallelism IS the DP's parallelism. AQE sees only the
    # tiny shuffle bytes and coalesces that stage to ONE task, putting
    # every DP on one core (measured 9.2 s at sf0.1; a repartition AFTER
    # the join does not help because the filter pushes back through it).
    # Fix: pre-partition both sides by the block key with an EXPLICIT
    # partition count — user-specified counts are exempt from AQE
    # coalescing, so the join and its fused DP run 32-wide. The general
    # rule: when per-row CPU, not bytes, dominates a stage, pin its
    # parallelism explicitly.
    a = d.repartition(32, "lang", "source").alias("a")
    b = d.repartition(32, "lang", "source").alias("b")
    dist = F.levenshtein(F.col("a.p"), F.col("b.p"))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 5),
        )
        .filter(dist <= 20)
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("doc_id2"),
            dist.alias("dist"),
        )
    )


_ZIPF_SQL = f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ), counts AS (
      SELECT token, COUNT(*) AS c FROM tok GROUP BY token
    ), ranked AS (
      SELECT token, c,
             ROW_NUMBER() OVER (ORDER BY c DESC, token) AS r
      FROM counts
    ), top AS (
      SELECT ROUND(log10(CAST(r AS DOUBLE)), 9) AS x,
             ROUND(log10(CAST(c AS DOUBLE)), 9) AS y
      FROM ranked WHERE r <= 100
    ), sums AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             {dsum_sql('x')} AS sx, {dsum_sql('y')} AS sy,
             {dsum_sql('x * x')} AS sxx, {dsum_sql('x * y')} AS sxy
      FROM top
    )
    SELECT CAST(n AS BIGINT) AS n_ranks,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
             AS intercept_log10
    FROM sums
"""


@query("text_zipf_slope", oracle=_ZIPF_SQL)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit: OLS slope of log10(count) on
    log10(rank) over the corpus's top-100 tokens — natural text sits
    near −1; a flat or cliffy slope flags templated/synthetic corpora
    (the standard LM-data health check).

    Determinism: rank ties break lexicographically (count DESC, token
    ASC) in both engines; log10 outputs are rounded to 9 dp BEFORE the
    regression (the unigram-LM convention for libm values —
    text_analysis.py) so the sums run on identical doubles, then go
    through decimal; the closed form mirrors agg_regression_ols. Scale:
    token counting is the only big stage (one shuffle); the rank comes
    from the range-partitioned total order (functions/total_order.py —
    the vocab frame grows with the corpus) and the fit runs on 100
    rows."""
    d = table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = (
        attach_global_order(
            counts, [F.desc("c"), F.asc("token")], rn="r"
        )
        .filter(F.col("r") <= 100)
        .select(
            F.round(F.log10(F.col("r").cast("double")), 9).alias("x"),
            F.round(F.log10(F.col("c").cast("double")), 9).alias("y"),
        )
    )
    dec = lambda c: F.sum(c.cast("decimal(28,6)")).cast("double")  # noqa: E731
    sums = top.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec(F.col("x")).alias("sx"),
        dec(F.col("y")).alias("sy"),
        dec(F.col("x") * F.col("x")).alias("sxx"),
        dec(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy, sxx, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "sxy"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return sums.select(
        n.cast("bigint").alias("n_ranks"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept_log10"),
    )


@query(
    "text_dedup_prefix",
    oracle="""
    WITH pref AS (
      SELECT doc_id,
             array_to_string(string_split(text, ' ')[1:8], ' ') AS prefix
      FROM documents
    )
    SELECT prefix, COUNT(*) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc,
           COUNT(*) - 1 AS n_dropped
    FROM pref GROUP BY prefix HAVING COUNT(*) > 1
    """,
)
def text_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix dedup: documents sharing an identical 8-token prefix
    grouped into clusters with the lowest doc_id as keeper — the cheap
    first pass of a dedup cascade (boilerplate headers, templated
    intros) that removes easy mass before MinHash/SimHash spend
    signatures on it.

    Scale: the prefix is a short derived key, so only ~50 bytes per doc
    shuffle — the groupBy never moves document bodies. HAVING > 1 keeps
    the output to actual duplicate clusters."""
    d = table(spark, sf_dir, "documents")
    prefix = F.array_join(F.slice(F.split("text", " "), 1, 8), " ")
    return (
        d.select("doc_id", prefix.alias("prefix"))
        .groupBy("prefix")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc"),
            (F.count(F.lit(1)) - 1).alias("n_dropped"),
        )
        .filter(F.col("n_docs") > 1)
    )


@query(
    "text_lang_overlap_jaccard",
    oracle="""
    WITH vocab AS (
      SELECT DISTINCT lang, unnest(string_split(text, ' ')) AS token
      FROM documents
    ), sizes AS (
      SELECT lang, COUNT(*) AS n FROM vocab GROUP BY lang
    ), inter AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b, COUNT(*) AS n_common
      FROM vocab a JOIN vocab b
        ON a.token = b.token AND a.lang < b.lang
      GROUP BY a.lang, b.lang
    )
    SELECT i.lang_a, i.lang_b, i.n_common,
           sa.n AS n_a, sb.n AS n_b,
           ROUND(i.n_common * 1.0 / (sa.n + sb.n - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.lang = i.lang_a
    JOIN sizes sb ON sb.lang = i.lang_b
    """,
)
def text_lang_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language vocabulary overlap: token-set Jaccard for every
    language pair — the corpus-composition diagnostic that flags
    mislabeled languages (high overlap where none belongs) and shared
    boilerplate across subcorpora.

    Set semantics via distinct (lang, token); the intersection is an
    equi-join on token (an inverted index, not an all-pairs scan) and
    the union comes free by inclusion-exclusion — the same
    |A∩B| / (|A|+|B|−|A∩B|) identity dedup_ngram_jaccard uses per
    document pair, lifted to whole subcorpora. All counts exact ints;
    one rounded division. Scale: distinct-vocab frames are tiny
    relative to raw text, and the token join shuffles only (lang,
    token) pairs."""
    d = table(spark, sf_dir, "documents")
    vocab = (
        d.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .distinct()
    )
    sizes = vocab.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    a = vocab.alias("a")
    b = vocab.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.lang") < F.col("b.lang")),
        )
        .groupBy(
            F.col("a.lang").alias("lang_a"), F.col("b.lang").alias("lang_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("lang").alias("la"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("lang").alias("lb"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), F.col("lang_a") == F.col("la"))
        .join(F.broadcast(sb), F.col("lang_b") == F.col("lb"))
        .select(
            "lang_a",
            "lang_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(
                F.col("n_common")
                * 1.0
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


@query(
    "text_chunk_fixed_overlap",
    oracle="""
    WITH pos AS (
      SELECT doc_id, text,
             unnest(generate_series(1, CAST(n_chars AS BIGINT), 150)) AS gs
      FROM documents
    )
    SELECT doc_id,
           CAST((gs - 1) / 150 AS BIGINT) AS chunk_idx,
           CAST(gs AS BIGINT) AS chunk_start,
           substr(text, CAST(gs AS INTEGER), 200) AS chunk_text,
           CAST(length(substr(text, CAST(gs AS INTEGER), 200)) AS BIGINT)
             AS chunk_len
    FROM pos
    """,
)
def text_chunk_fixed_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping chunking — 200-char windows every 150
    chars (50-char overlap) — the retrieval/embedding-pipeline step
    that turns documents into index units. Chunk boundaries derive
    purely from (n_chars, stride), so the op is one ``sequence`` +
    ``explode`` + ``substring`` pass: map-only, zero shuffles, stays
    entirely inside whole-stage codegen, and at 100 TB runs at scan
    speed with output rows feeding straight into the embedding UDF
    stage (multimodal.py's batch shape).

    Every chunk's text itself is in the hash-compared output, so the
    substring semantics (1-based, character counts, short final chunk)
    are pinned cross-engine, not just chunk counts."""
    d = table(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(1).cast("bigint"), F.col("n_chars"), F.lit(150))
        ).alias("gs"),
    )
    return pos.select(
        "doc_id",
        ((F.col("gs") - 1) / 150).cast("bigint").alias("chunk_idx"),
        F.col("gs").alias("chunk_start"),
        F.expr("substring(text, CAST(gs AS INT), 200)").alias("chunk_text"),
        F.length(F.expr("substring(text, CAST(gs AS INT), 200)"))
        .cast("bigint")
        .alias("chunk_len"),
    )


_GATE_SQL = """
    WITH scored AS (
      SELECT lang, source, n_chars,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits,
             length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper
      FROM documents
    ), gated AS (
      SELECT lang, source, n_chars,
             CASE
               WHEN n_chars < 200 THEN 'too_short'
               WHEN n_digits * 5 > n_chars THEN 'digit_heavy'
               WHEN n_upper * 10 > n_chars * 3 THEN 'shouting'
               ELSE 'kept'
             END AS gate
      FROM scored
    )
    SELECT lang, source,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE gate = 'too_short') AS n_too_short,
           COUNT(*) FILTER (WHERE gate = 'digit_heavy') AS n_digit_heavy,
           COUNT(*) FILTER (WHERE gate = 'shouting') AS n_shouting,
           COUNT(*) FILTER (WHERE gate = 'kept') AS n_kept,
           CAST(COALESCE(SUM(n_chars) FILTER (WHERE gate = 'kept'), 0)
                AS BIGINT) AS kept_chars
    FROM gated GROUP BY lang, source
"""


@query("corpus_quality_gate_report", oracle=_GATE_SQL)
def corpus_quality_gate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-funnel report every cleaning pipeline prints: per
    (lang, source) block, how many documents each gate rejected —
    first-reason-wins waterfall (too short → digit-heavy → shouting →
    kept) — plus the surviving character mass. First-reason-wins is
    what makes funnel counts ADD UP (a doc failing two gates counts
    once), which is the property dashboards and data-mix planning
    need.

    Gate predicates use integer cross-multiplication (n_digits*5 >
    n_chars, not ratios) so no float threshold comparison can straddle
    engines. Plan: map-only scoring (two regexp strips fused into the
    scan stage) + one partial-aggregated groupBy — at 100 TB this is
    scan-speed, and the report frame is |langs × sources| rows."""
    d = table(spark, sf_dir, "documents")
    scored = d.select(
        "lang",
        "source",
        "n_chars",
        F.length(F.regexp_replace("text", "[^0-9]", "")).alias("n_digits"),
        F.length(F.regexp_replace("text", "[^A-Z]", "")).alias("n_upper"),
    )
    gate = (
        F.when(F.col("n_chars") < 200, "too_short")
        .when(F.col("n_digits") * 5 > F.col("n_chars"), "digit_heavy")
        .when(F.col("n_upper") * 10 > F.col("n_chars") * 3, "shouting")
        .otherwise("kept")
    )
    gated = scored.select("lang", "source", "n_chars", gate.alias("gate"))
    kept = F.col("gate") == "kept"
    return gated.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("gate") == "too_short", 1)).alias("n_too_short"),
        F.count(F.when(F.col("gate") == "digit_heavy", 1)).alias("n_digit_heavy"),
        F.count(F.when(F.col("gate") == "shouting", 1)).alias("n_shouting"),
        F.count(F.when(kept, 1)).alias("n_kept"),
        F.coalesce(F.sum(F.when(kept, F.col("n_chars"))), F.lit(0))
        .cast("bigint")
        .alias("kept_chars"),
    )


@query(
    "text_collocations_pmi",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS words
      FROM documents
    ),
    raw AS (
      SELECT doc_id, generate_subscripts(words, 1) AS i, words
      FROM w
    ),
    tok AS (
      -- ordinality via generate_subscripts (DuckDB 1.0 lacks UNNEST
      -- WITH ORDINALITY); empty tokens keep their slot so positions
      -- match Spark's posexplode over the same split
      SELECT doc_id, words[i] AS token, i AS pos
      FROM raw WHERE words[i] <> ''
    ),
    uni AS (
      SELECT token, COUNT(*) AS c FROM tok GROUP BY token
    ),
    n_uni AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
    big AS (
      SELECT a.token AS w1, b.token AS w2, COUNT(*) AS c
      FROM tok a JOIN tok b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      GROUP BY a.token, b.token
    ),
    n_big AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM big),
    scored AS (
      SELECT big.w1, big.w2, big.c AS pair_count,
             ln( (CAST(big.c AS DOUBLE) / (SELECT n FROM n_big))
                / ( (CAST(u1.c AS DOUBLE) / (SELECT n FROM n_uni))
                  * (CAST(u2.c AS DOUBLE) / (SELECT n FROM n_uni)) ) ) AS pmi
      FROM big
      JOIN uni u1 ON u1.token = big.w1
      JOIN uni u2 ON u2.token = big.w2
      WHERE big.c >= 5
    )
    SELECT w1, w2, pair_count, ROUND(pmi, 6) AS pmi
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY pmi DESC, w1, w2) AS rn
          FROM scored)
    WHERE rn <= 20
    """,
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by pointwise mutual information — the
    corpus-linguistics statistic that surfaces MULTI-WORD UNITS
    ("new york"-style pairs) that raw bigram counts bury under
    frequent-word noise: PMI = ln(p(w1 w2) / (p(w1) p(w2))), with a
    min-count floor of 5 against the low-count PMI explosion.

    Shape: one ordinality-tokenize pass; bigrams via the (doc, pos)
    self-join (adjacent positions, an equi-join); unigram and bigram
    totals are two broadcast scalars; the PMI expression is one ln of
    exact-count ratios mirrored textually, rounded 6 dp; top-20 under
    a unique (pmi, w1, w2) order. At 100 TB the (token, token) bigram
    frame is the only large intermediate and it aggregates map-side
    before the join against unigram counts."""
    tok = _doc_pos_tokens(spark, sf_dir)
    uni = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    n_uni = uni.agg(F.sum("c").alias("n_uni"))
    # adjacent pairs via ONE doc-partitioned lead() window instead of
    # the former (doc, pos) self-join (r14): lead(pos) == pos + 1
    # reproduces the join's adjacency predicate exactly — kept-token
    # positions have gaps where empty tokens were filtered, and pairs
    # across a gap are dropped by the filter just as the +1 equi-join
    # dropped them. One shuffle of tok, not two join sides.
    wn = Window.partitionBy("doc_id").orderBy("pos")
    big_all = (
        tok.withColumn("w2", F.lead("token").over(wn))
        .withColumn("p2", F.lead("pos").over(wn))
        .filter(F.col("p2") == F.col("pos") + 1)
        .groupBy(F.col("token").alias("w1"), F.col("w2"))
        .agg(F.count(F.lit(1)).alias("pair_count"))
    )
    # n_big counts the SAME adjacent-pair frame the oracle sums (before
    # the min-count filter) — not sum(tokens_per_doc - 1), which only
    # matches while kept-token positions happen to stay contiguous
    big = big_all.filter(F.col("pair_count") >= 5)
    n_big = big_all.agg(F.sum("pair_count").alias("n_big"))
    scored = (
        big.join(uni.select(F.col("token").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("token").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_big))
        .select(
            "w1",
            "w2",
            "pair_count",
            F.log(
                (F.col("pair_count").cast("double") / F.col("n_big"))
                / (
                    (F.col("c1").cast("double") / F.col("n_uni"))
                    * (F.col("c2").cast("double") / F.col("n_uni"))
                )
            ).alias("pmi"),
        )
    )
    # top-20 under a unique order: orderBy+limit fuses to
    # TakeOrderedAndProject (per-task 20-heaps, no global sort, no
    # single-task window)
    return (
        scored.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(20)
        .select("w1", "w2", "pair_count", F.round("pmi", 6).alias("pmi"))
    )


# --------------------------------------------------------------------------
# corpus_temperature_mix
# --------------------------------------------------------------------------


def _sqrt_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (lang, source): n_docs, n_chars, the character share p_share,
    sq9 = round(sqrt(p_share), 9) and the normalizer z = Σ sq9 (an
    exact decimal sum) — the α = 0.5 temperature weights are sq9 / z."""
    per = table(spark, sf_dir, "documents").groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("n_chars")
    )
    tot = per.agg(F.sum("n_chars").alias("total_chars"))
    p_share = F.col("n_chars").cast("double") / F.col("total_chars").cast(
        "double"
    )
    sq = per.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        "n_docs",
        "n_chars",
        p_share.alias("p_share"),
        F.round(F.sqrt(p_share), 9).alias("sq9"),
    )
    z = sq.agg(
        F.sum(F.col("sq9").cast("decimal(28,12)")).cast("double").alias("z")
    )
    return sq.crossJoin(F.broadcast(z))


@query(
    "corpus_temperature_mix",
    oracle="""
    WITH per AS (
      SELECT lang, source, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM documents GROUP BY lang, source
    ),
    tot AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM per),
    sq AS (
      SELECT p.lang, p.source, p.n_docs, p.n_chars,
             CAST(p.n_chars AS DOUBLE) / CAST(t.total_chars AS DOUBLE)
               AS p_share,
             round(sqrt(CAST(p.n_chars AS DOUBLE)
                        / CAST(t.total_chars AS DOUBLE)), 9) AS sq9
      FROM per p CROSS JOIN tot t
    ),
    z AS (
      SELECT CAST(SUM(CAST(sq9 AS DECIMAL(28, 12))) AS DOUBLE) AS z FROM sq
    )
    SELECT s.lang, s.source, s.n_docs, s.n_chars,
           round(s.p_share, 6) AS char_share,
           round(s.sq9 / z.z, 6) AS weight,
           round((s.sq9 / z.z) / s.p_share, 6) AS boost
    FROM sq s CROSS JOIN z
    """,
)
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain sampling weights: per (lang, source),
    the multinomial sampling weight ∝ p^0.5 (square-root temperature,
    the standard multilingual-LM rebalance — softer than
    corpus_mix_weights' full equalization, which over-samples tiny
    domains) plus the boost factor weight/p a sampler applies on top of
    natural frequency.

    Float parity by construction: p is one IEEE division of two exact
    BIGINT→DOUBLE conversions (char totals ≪ 2^53 even at 100 TB);
    sqrt is correctly rounded in both engines; the 9-dp round makes the
    normalizer's inputs decimal-exact so Z = Σ decimal(sq9) is exact and
    order-free; weight and boost are mirrored double divisions rounded
    to 6 dp. α = 0.5 specifically because libm ``pow`` has no
    cross-engine bit guarantee — sqrt does.

    Scale: one map-side-combined groupBy over the corpus to ~domains
    rows; the totals and Z frames are 1-row broadcasts; nothing else
    touches the documents."""
    return _sqrt_domain_weights(spark, sf_dir).select(
        "lang",
        "source",
        "n_docs",
        "n_chars",
        F.round(F.col("p_share"), 6).alias("char_share"),
        F.round(F.col("sq9") / F.col("z"), 6).alias("weight"),
        F.round((F.col("sq9") / F.col("z")) / F.col("p_share"), 6).alias(
            "boost"
        ),
    )


_BUDGET = 10_000  # documents to draw next epoch


@query(
    "corpus_apportion_budget",
    oracle=f"""
    WITH per AS (
      SELECT lang, source, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM documents GROUP BY lang, source
    ),
    tot AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM per),
    sq AS (
      SELECT p.lang, p.source, p.n_docs,
             round(sqrt(CAST(p.n_chars AS DOUBLE)
                        / CAST(t.total_chars AS DOUBLE)), 9) AS sq9
      FROM per p CROSS JOIN tot t
    ),
    z AS (
      SELECT CAST(SUM(CAST(sq9 AS DECIMAL(28, 12))) AS DOUBLE) AS z FROM sq
    ),
    quota AS (
      SELECT s.lang, s.source, s.n_docs,
             round({_BUDGET} * (s.sq9 / z.z), 9) AS q
      FROM sq s CROSS JOIN z
    ),
    base AS (
      SELECT lang, source, n_docs, q,
             CAST(floor(q) AS BIGINT) AS b,
             round(q - floor(q), 9) AS rem
      FROM quota
    ),
    d AS (
      SELECT CAST({_BUDGET} - SUM(b) AS BIGINT) AS deficit FROM base
    ),
    ranked AS (
      SELECT lang, source, n_docs, q, b, rem,
             ROW_NUMBER() OVER (ORDER BY rem DESC, lang, source) AS rr
      FROM base
    )
    SELECT r.lang, r.source, r.n_docs,
           round(r.q, 6) AS quota,
           CAST(r.rr AS BIGINT) AS remainder_rank,
           r.b + CASE WHEN r.rr <= d.deficit THEN 1 ELSE 0 END AS alloc
    FROM ranked r CROSS JOIN d
    """,
)
def corpus_apportion_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamilton (largest-remainder) apportionment of a 10000-doc
    epoch budget across (lang, source) domains under the square-root
    temperature weights of corpus_temperature_mix: each domain draws
    ⌊budget·w⌋ documents, and the budget − Σ⌊·⌋ leftover goes to the
    largest fractional remainders (ties broken by (lang, source)).
    Unlike independent rounding, Σ alloc = budget EXACTLY — the
    property an epoch manifest needs before sampling starts — and each
    alloc differs from its real-valued quota by < 1 (Hamilton's
    staying-within-the-quota guarantee).

    Scale: one map-side-combined groupBy to ~domains rows; everything
    after runs on the domain frame. The remainder rank is a window over
    that frame —
    # bounded-window: the ORDER BY rem frame is the (lang, source)
    # domain table (~100 rows at ANY corpus size), not data-sized.

    Determinism: sqrt-temperature weights as in corpus_temperature_mix
    (IEEE-guaranteed sqrt, decimal normalizer); the quota rounds at
    9 dp so floor/remainder are engine-identical; allocation is exact
    integer arithmetic over an exact rank."""
    base = _sqrt_domain_weights(spark, sf_dir).select(
        "lang",
        "source",
        "n_docs",
        F.round(F.lit(_BUDGET) * (F.col("sq9") / F.col("z")), 9).alias("q"),
    ).select(
        "lang",
        "source",
        "n_docs",
        "q",
        F.floor("q").cast("long").alias("b"),
        F.round(F.col("q") - F.floor("q"), 9).alias("rem"),
    )
    deficit = base.agg(
        (F.lit(_BUDGET) - F.sum("b")).cast("long").alias("deficit")
    )
    # bounded-window: the remainder rank orders the (lang, source)
    # domain frame (~100 rows at ANY corpus size), not data-sized rows
    wr = Window.orderBy(F.desc("rem"), F.asc("lang"), F.asc("source"))
    return (
        base.withColumn("rr", F.row_number().over(wr))
        .crossJoin(F.broadcast(deficit))
        .select(
            "lang",
            "source",
            "n_docs",
            F.round(F.col("q"), 6).alias("quota"),
            F.col("rr").cast("long").alias("remainder_rank"),
            (
                F.col("b")
                + F.when(F.col("rr") <= F.col("deficit"), 1).otherwise(0)
            ).alias("alloc"),
        )
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


# --------------------------------------------------------------------------
# corpus_mix_alpha_sweep
# --------------------------------------------------------------------------

#: temperature grid: alpha=1.0 is proportional sampling, alpha->0
#: approaches uniform-over-buckets — the multilingual-mixing knob of
#: mT5/XLM-R-style corpus sampling (public papers).
_MIX_ALPHAS = (1.0, 0.7, 0.5, 0.3)
_MIX_ALPHAS_SQL = ", ".join(repr(a) for a in _MIX_ALPHAS)


@query(
    "corpus_mix_alpha_sweep",
    oracle=f"""
    WITH per AS (
      SELECT lang, source, CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM documents GROUP BY lang, source
    ),
    tot AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM per),
    p AS (
      SELECT lang, source, n_chars,
             round(n_chars * 1.0 / t.total_chars, 9) AS p_raw
      FROM per CROSS JOIN tot t
    ),
    al AS (SELECT UNNEST([{_MIX_ALPHAS_SQL}]) AS alpha),
    pa AS (
      SELECT a.alpha, p.lang, p.source, p.n_chars, p.p_raw,
             round(power(p.p_raw, a.alpha), 9) AS p_pow
      FROM al a CROSS JOIN p
    ),
    z AS (
      SELECT alpha,
             CAST(SUM(CAST(p_pow AS DECIMAL(38,9))) AS DOUBLE) AS zsum
      FROM pa GROUP BY alpha
    )
    SELECT pa.alpha, pa.lang, pa.source, pa.n_chars, pa.p_raw,
           round(pa.p_pow / z.zsum, 6) AS weight,
           round((pa.p_pow / z.zsum) / pa.p_raw, 6) AS boost
    FROM pa JOIN z ON z.alpha = pa.alpha
    """,
)
def corpus_mix_alpha_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights per (lang, source) bucket:
    q_i(α) = p_i^α / Σ_j p_j^α for α in {1.0, 0.7, 0.5, 0.3}, where p_i
    is the bucket's character share — the mixing knob multilingual
    pretraining uses (mT5 / XLM-R style exponentiated sampling) to lift
    low-resource buckets without flattening the mix entirely. `boost`
    = q_i/p_i is the effective up/down-sampling factor each bucket
    receives at each temperature; α = 1.0 is the identity row that
    anchors the sweep (weight == p_raw, boost == 1 up to rounding).

    Relationship to ``corpus_temperature_mix``: that
    operator ships the SINGLE deployed policy α = 0.5 and pins it with
    sqrt specifically because sqrt is correctly rounded in both engines
    while libm pow is not. This sweep is the DECISION CURVE around it —
    the α grid a team compares before committing to 0.5 — and pays the
    standard transcendental toll instead: power() rounds at 9 dp
    immediately (the ln/log-odds convention), so its α = 0.5 row agrees
    with the deployed operator's weights to ~1e-6 (pinned in tests)
    rather than bit-exactly. Policy row exact, sweep rows
    convention-rounded — the same split as dedup_near_minhash (exact
    detector) vs dedup_minhash_param_sweep (geometry curve).

    Scale: one combiner-reduced groupBy to |lang × source| rows, then
    constant-size frame arithmetic under broadcast — nothing rescans
    documents per α. Determinism: p_raw is an exact-int ratio rounded
    9 dp; the 9-dp-rounded power feeds the scale-9 decimal normalizer
    sum (exact for 9-dp inputs — see functions/determinism.py DEC9);
    final weight/boost are mirrored divisions rounded 6 dp."""
    d = table(spark, sf_dir, "documents")
    per = d.groupBy("lang", "source").agg(
        F.sum("n_chars").cast("long").alias("n_chars")
    )
    tot = per.agg(F.sum("n_chars").cast("long").alias("total_chars"))
    p = per.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        "n_chars",
        F.round(F.col("n_chars") * 1.0 / F.col("total_chars"), 9).alias(
            "p_raw"
        ),
    )
    al = spark.createDataFrame([(a,) for a in _MIX_ALPHAS], "alpha double")
    pa = F.broadcast(al).crossJoin(p).select(
        "alpha",
        "lang",
        "source",
        "n_chars",
        "p_raw",
        F.round(F.pow(F.col("p_raw"), F.col("alpha")), 9).alias("p_pow"),
    )
    z = pa.groupBy("alpha").agg(
        F.sum(F.col("p_pow").cast(DEC9)).cast("double").alias("zsum")
    )
    return pa.join(z, "alpha").select(
        "alpha",
        "lang",
        "source",
        "n_chars",
        "p_raw",
        F.round(F.col("p_pow") / F.col("zsum"), 6).alias("weight"),
        F.round((F.col("p_pow") / F.col("zsum")) / F.col("p_raw"), 6).alias(
            "boost"
        ),
    )
