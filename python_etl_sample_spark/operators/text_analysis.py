"""Text analysis over documents — SURVEY.md §2.10 ops #63-65 plus
language-ID / quality-scoring / fingerprinting extensions (the
operations a large-scale training-data pipeline needs).

All JVM-side built-ins (split/explode/groupBy) — tokenization at 100 TB
is a map-only stage; term statistics are one shuffle on (key, token).

- ``text_bm25_rank``: BM25 ranked retrieval (k1=1.2, b=0.75) — the
  standard contamination/retrieval-audit scorer an LLM-data pipeline
  runs that TF-IDF top-terms (``text_tfidf_topterms``) does not give.

Determinism strategy (repo-wide contract, functions/determinism.py):
counts/ranks are exact integers; every cross-engine float reduction is
either a single IEEE double expression evaluated with identical
parenthesization in both engines, or a per-term round followed by an
order-independent decimal sum; derived ratios round at 6 dp.

Scale posture is documented per operator; the shared rule: nothing
driver-side grows with the corpus, no cartesian products, no
single-task windows over data-sized frames.

- ``text_rake_keywords``: RAKE keyword extraction (stopword-delimited
  phrases, degree/frequency word scores) — the classic unsupervised
  keyphrase scorer over the documents corpus.

- ``text_containment_dedup``: asymmetric shingle containment
  |A∩B|/|A| — catches a document EMBEDDED in a larger one (quotes,
  boilerplate wrappers), which symmetric Jaccard (dedup_ngram_jaccard)
  structurally under-scores.

- ``text_bigram_lm_perplexity``: per-document cross-entropy and
  perplexity under a corpus-trained add-one-smoothed BIGRAM language
  model — the fluency filter one tier above the unigram scorer
  (text_unigram_lm_score), sensitive to scrambled word ORDER that
  unigram statistics cannot see.

Determinism: LM log-probs are log10 of exact-count ratios rounded at
9 dp and summed in decimal; TextRank iterations round each edge
contribution at 12 dp into decimal sums and each score at 9 dp (the
LPA/PageRank unrolled-replay pattern); RAKE word scores are rational
doubles rounded at 6 dp and phrase scores are decimal sums of those
rounded terms; containment is one integer division rounded 6 dp.

- ``text_char_entropy``: per-document Shannon entropy of the
  alphanumeric character distribution — the compression-style quality
  signal that flags both keyboard-mash (entropy near the uniform
  bound) and degenerate repetition (entropy near zero), orthogonal to
  the token-level filters (text_quality_score, text_repetition_filter).

- ``text_textrank_keywords``: TextRank (Mihalcea & Tarau 2004) —
  corpus-level keyword extraction via damped PageRank over the
  content-word adjacency graph, the graph-based complement to RAKE's
  degree/frequency heuristic.

- ``text_bpe_train_merges``: the BPE *training* inner loop as a corpus
  operator — weighted max-pair selection and leftmost-greedy merges
  over the word-frequency table, pinned against a pure-Python Sennrich
  replay in tests and replayed set-wise in SQL (gaps-and-islands
  parity for the greedy apply).

- ``text_boilerplate_ngrams`` — corpus-frequent trigram spans and the
  per-language fraction of token positions they cover: the C4/CCNet
  "remove lines repeated across documents" cleanup re-expressed at
  n-gram granularity (this corpus has no line structure).

- ``text_heaps_law_fit``: Heaps'-law vocabulary-growth fit (V ≈ K·Nᵝ)
  over the document stream — the companion corpus-health check to
  text_zipf_slope (natural text: β ≈ 0.4-0.6; templated/duplicated
  corpora bend the curve).

- ``text_log_odds_domain_terms``: Monroe et al.'s log-odds-ratio with
  informative Dirichlet prior — the standard "which terms distinguish
  this source from the rest" statistic for corpus curation, stronger
  than raw TF-IDF because it damps rare-word noise with the global
  prior.

- ``text_bpe_compression_by_lang``: bytes/token and tokens/word per
  language under the trained BPE merge table — the tokenizer-equity
  readout (which languages pay more tokens per byte) computed from the
  session-memoized training pipeline.

- ``text_quality_threshold_sweep``: the quality-filter decision curve
  (retention / kept chars / survivor mean per cut) for the deployed
  heuristic score — the filter-side companion to the SemDeDup curve.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_sample_spark.cache import cached_df
from python_etl_sample_spark.functions.determinism import DEC, DEC9, dsum9_sql, dsum_sql
from python_etl_sample_spark.functions.total_order import attach_global_order
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table

_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
_STOP_SQL = "('" + "', '".join(_STOPWORDS) + "')"


def _tokens(d: DataFrame) -> DataFrame:
    return d.select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"),
    ).filter((F.col("token") != "") & ~F.col("token").isin(*_STOPWORDS))


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, token): each document's lower-cased whitespace tokens,
    empty tokens dropped."""
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")


def _doc_pos_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, token): ``_doc_tokens`` with each token's index in
    the split (counted before empty tokens are dropped)."""
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), r"\s+")).alias(
            "pos", "token"
        ),
    ).filter(F.col("token") != "")


_TOKENS_SQL = f"""
    SELECT doc_id, lang, source, t.token
    FROM documents, unnest(string_split_regex(lower(text), '\\s+')) AS t(token)
    WHERE t.token <> '' AND t.token NOT IN {_STOP_SQL}
"""


@query(
    "text_tokenize_counts",
    oracle=f"""
    WITH tok AS ({_TOKENS_SQL}),
    counts AS (
      SELECT lang, token, COUNT(*) AS cnt
      FROM tok GROUP BY lang, token
    ),
    ranked AS (
      SELECT lang, token, cnt,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rn
      FROM counts
    )
    SELECT lang, token, cnt, rn FROM ranked WHERE rn <= 10
    """,
)
def text_tokenize_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#63 tokenize + stopword filter + top-10 terms per language."""
    d = table(spark, sf_dir, "documents")
    counts = _tokens(d).groupBy("lang", "token").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("token"))
    return counts.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 10)


@query(
    "text_tfidf_topterms",
    oracle=f"""
    WITH tok AS ({_TOKENS_SQL}),
    n_docs AS (SELECT COUNT(*) AS n FROM documents),
    tf AS (
      SELECT source, token, COUNT(*) AS tf
      FROM tok GROUP BY source, token
    ),
    df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df
      FROM tok GROUP BY token
    ),
    scored AS (
      SELECT tf.source, tf.token,
             round(tf * ln((n + 1.0) / (df + 1.0)), 6) AS tfidf
      FROM tf JOIN df ON tf.token = df.token CROSS JOIN n_docs
    ),
    ranked AS (
      SELECT source, token, tfidf,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY tfidf DESC, token) AS rn
      FROM scored
    )
    SELECT source, token, tfidf, rn FROM ranked WHERE rn <= 5
    """,
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#64 TF-IDF top-5 terms per source (pure relational algebra:
    term counts ⋈ doc frequencies ⋈ corpus size)."""
    d = table(spark, sf_dir, "documents")
    tok = _tokens(d)
    n_docs = d.agg(F.count(F.lit(1)).alias("n"))
    tf = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(df_, "token")
        .join(F.broadcast(n_docs))
        .select(
            "source",
            "token",
            F.round(
                F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("tfidf"), F.asc("token"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)


@query(
    "text_lang_stats",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           round(quantile_cont(n_chars, 0.25), 6) AS p25,
           round(quantile_cont(n_chars, 0.50), 6) AS p50,
           round(quantile_cont(n_chars, 0.75), 6) AS p75
    FROM documents
    GROUP BY lang
    """,
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#65 per-language document stats with exact interpolated
    percentiles (exact `percentile`, not approx — oracle-checkable;
    approx_percentile remains the 100 TB default, noted rows-only in
    `text_quality_score`'s sketch-free design)."""
    d = table(spark, sf_dir, "documents")
    pct = F.expr("percentile(n_chars, array(0.25, 0.5, 0.75))")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.round(pct.getItem(0), 6).alias("p25"),
        F.round(pct.getItem(1), 6).alias("p50"),
        F.round(pct.getItem(2), 6).alias("p75"),
    )


@query(
    "text_lang_id",
    oracle=r"""
    WITH feat AS (
      SELECT doc_id, lang,
             CASE
               WHEN length(regexp_replace(text, '[\x00-\x7F]', '', 'g')) * 2 > length(text)
                 THEN 'cjk-like'
               WHEN contains(text, ' der ') OR contains(text, ' und ') THEN 'de-like'
               WHEN contains(text, ' el ') OR contains(text, ' los ') THEN 'es-like'
               WHEN contains(text, ' le ') OR contains(text, ' les ') THEN 'fr-like'
               ELSE 'en-like'
             END AS guessed
      FROM documents
    )
    SELECT lang, guessed, COUNT(*) AS n_docs
    FROM feat GROUP BY lang, guessed
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (n-gram/marker-word scoring) — confusion
    counts of guessed vs labeled lang. A real pipeline swaps the
    heuristic for fastText; the Spark plumbing (map-only scoring +
    confusion rollup) is identical."""
    d = table(spark, sf_dir, "documents")
    non_ascii = F.length(F.regexp_replace(F.col("text"), r"[\x00-\x7F]", ""))
    guessed = (
        F.when(non_ascii * 2 > F.length("text"), "cjk-like")
        .when(
            F.col("text").contains(" der ") | F.col("text").contains(" und "), "de-like"
        )
        .when(
            F.col("text").contains(" el ") | F.col("text").contains(" los "), "es-like"
        )
        .when(
            F.col("text").contains(" le ") | F.col("text").contains(" les "), "fr-like"
        )
        .otherwise("en-like")
    )
    return (
        d.select("lang", guessed.alias("guessed"))
        .groupBy("lang", "guessed")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "text_quality_score",
    oracle=r"""
    WITH feat AS (
      SELECT doc_id, lang,
             length(text) AS n_len,
             len(string_split_regex(lower(text), '\s+')) AS n_tok,
             length(text) - length(replace(text, ' ', '')) AS n_spaces
    FROM documents
    ),
    scored AS (
      SELECT doc_id, lang,
             round(
               0.4 * least(n_len / 400.0, 1.0)
             + 0.4 * least(n_tok / 80.0, 1.0)
             + 0.2 * (n_spaces::DOUBLE / n_len), 6) AS quality
      FROM feat
    )
    SELECT lang, round(CAST(SUM(CAST(quality AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) AS avg_quality,
           COUNT(*) FILTER (WHERE quality >= 0.8) AS n_high
    FROM scored GROUP BY lang
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring (length/token/whitespace ratios — the
    C4-style heuristic family), aggregated per language."""
    d = table(spark, sf_dir, "documents")
    n_len = F.length("text")
    n_tok = F.size(F.split(F.lower(F.col("text")), r"\s+"))
    n_spaces = n_len - F.length(F.regexp_replace(F.col("text"), " ", ""))
    quality = F.round(
        0.4 * F.least(n_len / 400.0, F.lit(1.0))
        + 0.4 * F.least(n_tok / 80.0, F.lit(1.0))
        + 0.2 * (n_spaces.cast("double") / n_len),
        6,
    )
    scored = d.select("doc_id", "lang", quality.alias("quality"))
    return scored.groupBy("lang").agg(
        F.round(
            F.sum(F.col("quality").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_quality"),
        F.count_if(F.col("quality") >= 0.8).alias("n_high"),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           substr(sha256(lower(trim(text))), 1, 16) AS fp,
           COUNT(*) OVER (PARTITION BY substr(sha256(lower(trim(text))), 1, 16)) AS n_same
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: 64-bit (16-hex-char) content
    fingerprint + duplicate-class size. sha256-prefix rather than
    xxhash64 because both engines compute sha256 identically (engine-
    native 64-bit hashes differ); at 100 TB the window is a groupBy-
    join, same shuffle shape."""
    d = table(spark, sf_dir, "documents")
    fp = F.substring(F.sha2(F.lower(F.trim(F.col("text"))), 256), 1, 16)
    w = Window.partitionBy("fp")
    return d.select("doc_id", fp.alias("fp")).withColumn(
        "n_same", F.count(F.lit(1)).over(w)
    )


@query(
    "text_token_bpe_count",
    oracle=r"""
    SELECT doc_id, lang,
           len(string_split_regex(lower(text), '\s+')) AS n_ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens
    FROM documents
    """,
)
def text_token_bpe_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish regex
    (word/number/punctuation classes — the pre-tokenizer split GPT-style
    BPE vocabularies use). Map-only; both engines run the same regex."""
    d = table(spark, sf_dir, "documents")
    lower = F.lower(F.col("text"))
    return d.select(
        "doc_id",
        "lang",
        F.size(F.split(lower, r"\s+")).alias("n_ws_tokens"),
        F.size(
            F.expr(r"regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)")
        ).alias("n_bpe_tokens"),
    )


@query(
    "text_pack_sequences",
    oracle="""
    WITH sized AS (
      SELECT lang, doc_id,
             len(string_split_regex(lower(text), '\\s+')) AS n_tokens
      FROM documents
    ), placed AS (
      SELECT lang, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS start_offset
      FROM sized
    )
    SELECT lang, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(FLOOR(start_offset / 256) AS BIGINT) AS pack_id,
           CAST(start_offset % 256 AS BIGINT) AS pack_offset
    FROM placed
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the trainer-side step after dedup/filtering:
    concatenate documents per language into fixed-budget (256-token)
    training sequences and record where each doc lands (pack id +
    offset). Streaming-offset packing: docs in deterministic doc_id
    order, each doc's pack is where its first token falls; no doc is
    reordered (the whitespace token count stands in for the tokenizer's
    count — swap `_TOKENS`-style BPE counting in without changing the
    plan).

    Scale: one shuffle on the partition key (lang) + an ordered window
    — identical state shape to the running windows (#35); the pack
    assignment is pure expression work. At 100 TB the partition key is
    (lang, shard) so no single ordered partition grows unbounded.
    """
    d = table(spark, sf_dir, "documents")
    budget = 256
    sized = d.select(
        "lang",
        "doc_id",
        F.size(F.split(F.lower(F.col("text")), r"\s+")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = sized.withColumn(
        "start_offset", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return placed.select(
        "lang",
        "doc_id",
        "n_tokens",
        F.floor(F.col("start_offset") / budget).alias("pack_id"),
        (F.col("start_offset") % budget).alias("pack_offset"),
    )


@query(
    "text_contamination_check",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
      FROM toks, UNNEST(generate_series(1, len(t)-2)) AS u(i)
      WHERE len(t) >= 3
    ), tagged AS (
      SELECT doc_id, sh,
             (doc_id % 1000003) * 31 % 100 >= 90 AS is_eval
      FROM sh
    )
    SELECT tr.doc_id AS train_doc, ev.doc_id AS eval_doc,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM tagged tr JOIN tagged ev ON tr.sh = ev.sh
    WHERE NOT tr.is_eval AND ev.is_eval
    GROUP BY 1, 2
    HAVING COUNT(*) >= 8
    """,
    tags=("memo",),
)
def text_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination sweep — the training-data hygiene step
    run before every release: flag train-split documents sharing ≥8
    word-3-gram shingles with any eval-split document (the eval split is
    the ``sample_split`` hash rule's 'test' bucket, so the split is
    reproducible at any parallelism, in any engine).

    Same inverted-index shape as ``dedup_ngram_jaccard`` but asymmetric:
    the join shuffles 8-byte shingle hashes tagged train/eval, and only
    cross-split shingle matches aggregate — contaminated pairs surface
    with their overlap count, ready for a drop-or-audit decision. At
    100 TB the eval side is tiny (benchmarks), so it broadcasts and the
    sweep is map-side."""
    from python_etl_sample_spark.operators.dedup import _shingle_hashes

    sh = _shingle_hashes(spark, sf_dir).withColumn(
        "is_eval", (F.col("doc_id") % 1000003) * 31 % 100 >= 90
    )
    tr = sh.filter(~F.col("is_eval")).select(F.col("doc_id").alias("train_doc"), "h")
    ev = sh.filter(F.col("is_eval")).select(F.col("doc_id").alias("eval_doc"), "h")
    return (
        tr.join(ev, "h")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 8)
    )


@query(
    "pipeline_corpus_clean",
    oracle=r"""
    WITH scored AS (
      SELECT doc_id, lang, text,
             round(
               0.4 * least(length(text) / 400.0, 1.0)
             + 0.4 * least(len(string_split_regex(lower(text), '\s+')) / 80.0, 1.0)
             + 0.2 * ((length(text) - length(replace(text, ' ', '')))::DOUBLE
                       / length(text)), 6) AS quality,
             len(string_split_regex(lower(text), '\s+')) AS n_tok
      FROM documents
    ), keepers AS (
      SELECT MIN(doc_id) AS doc_id
      FROM scored
      GROUP BY sha256(lower(trim(text)))
    )
    SELECT s.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(s.n_tok) AS BIGINT) AS total_tokens,
           round(CAST(SUM(CAST(s.quality AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_quality
    FROM scored s JOIN keepers k ON s.doc_id = k.doc_id
    WHERE s.quality >= 0.5
    GROUP BY s.lang
    """,
)
def pipeline_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-cleaning pipeline — the composition a
    training-data run executes as ONE declarative plan: score quality →
    drop exact duplicates (keep the smallest doc_id per content hash) →
    drop low-quality docs (quality < 0.5) → per-language corpus stats
    (doc count, token total, decimal-exact average quality).

    The point is composability: each stage is an operator this engine
    already grades in isolation (text_quality_score, dedup_exact,
    agg_groupby), and Catalyst fuses the composition — scoring stays in
    the scan's map stage, the dedup groupBy shuffles 32-byte hashes,
    the keeper join is a semi-join shape, and the final rollup is a
    partial-agg groupBy. One query, three pipeline stages, two shuffles
    total."""
    d = table(spark, sf_dir, "documents")
    n_len = F.length("text")
    n_tok = F.size(F.split(F.lower(F.col("text")), r"\s+"))
    n_spaces = n_len - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    quality = F.round(
        0.4 * F.least(n_len / 400.0, F.lit(1.0))
        + 0.4 * F.least(n_tok / 80.0, F.lit(1.0))
        + 0.2 * (n_spaces.cast("double") / n_len),
        6,
    )
    scored = d.select(
        "doc_id", "lang", quality.alias("quality"), n_tok.cast("bigint").alias("n_tok"),
        F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("content_hash"),
    )
    keepers = scored.groupBy("content_hash").agg(F.min("doc_id").alias("doc_id"))
    return (
        scored.join(keepers.select("doc_id"), "doc_id")
        .filter(F.col("quality") >= 0.5)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.round(
                F.sum(F.col("quality").cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_quality"),
        )
    )


@query(
    "text_unigram_lm_score",
    oracle=f"""
    WITH tok AS ({_TOKENS_SQL}),
    tot AS (SELECT COUNT(*) AS n FROM tok),
    vocab AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
    terms AS (
      SELECT t.doc_id,
             CAST(round(log10(v.c / (SELECT n * 1.0 FROM tot)), 9)
                  AS DECIMAL(28,12)) AS lp
      FROM tok t JOIN vocab v ON t.token = v.token
    )
    SELECT doc_id, COUNT(*) AS n_tok,
           round(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS lm_score
    FROM terms GROUP BY doc_id
    """,
)
def text_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram language-model quality score — the
    classic perplexity-proxy filter a training-data pipeline runs to
    rank documents by fluency-under-the-corpus: score(doc) = mean
    log10 p(token), p = corpus unigram frequency. Low scores flag
    rare-token/garbled documents; the same shape with an external LM's
    vocab table is the production quality gate.

    Plan: one token explode (map-only), one groupBy(token) for the
    vocabulary, a token-equi join back (at 100 TB the vocab is Zipfian
    and compact — Catalyst broadcasts it when small, shuffles otherwise;
    both correct), one groupBy(doc). The corpus token total rides in a
    broadcast 1-row frame, not a driver round-trip.

    Determinism: p is one IEEE division of exact longs; log10 of the
    SAME double differs by ≤1 ulp across libms, so each term is rounded
    to 9 dp and summed as decimal(28,12) (exact, order-independent —
    the dsum pattern at higher scale since log-probs are not 6-dp
    exact); final mean is one double division, rounded to 6.
    """
    d = table(spark, sf_dir, "documents")
    tok = _tokens(d)
    total = tok.agg(F.count(F.lit(1)).cast("double").alias("n"))
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    terms = (
        tok.join(vocab, "token")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.round(F.log10(F.col("c") / F.col("n")), 9)
            .cast("decimal(28,12)")
            .alias("lp"),
        )
    )
    return terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.round(
            F.sum("lp").cast("double") / F.count(F.lit(1)), 6
        ).alias("lm_score"),
    )


# PII patterns shared by the Spark and oracle sides — ASCII-only,
# backreference-free, so Java regex (Spark) and RE2 (DuckDB) agree.
_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\b\d{3}-\d{4}\b"

# The fixture corpus is synthetic prose with no PII, so the query plants
# one deterministic email/phone/IP per document (derived from doc_id,
# identical expression in both engines) — the scrubber then has real
# work to do and every count/hash is verifiable.
_PII_AUG_SQL = (
    "text || ' contact user' || doc_id || '@example.com or 555-'"
    " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' ip 10.0.' || (doc_id % 256) || '.7'"
)


@query(
    "text_pii_scrub",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id, source, {_PII_AUG_SQL} AS body FROM documents
    )
    SELECT doc_id, source,
           len(regexp_extract_all(body, '{_PII_EMAIL}')) AS n_emails,
           len(regexp_extract_all(body, '{_PII_IP}')) AS n_ips,
           len(regexp_extract_all(body, '{_PII_PHONE}')) AS n_phones,
           substr(sha256(
             regexp_replace(
               regexp_replace(
                 regexp_replace(body, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                 '{_PII_IP}', '<IP>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g')), 1, 16) AS clean_fp
    FROM aug
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass a training-data pipeline runs
    before anything else: detect emails / IPv4 addresses / phone-shaped
    numbers, count them per document, and replace them with typed tags
    (``<EMAIL>``/``<IP>``/``<PHONE>``). The output fingerprints the
    scrubbed text so the redaction itself is hash-verified, not just
    the counts. Email is replaced first so its digits can't be re-
    matched by the numeric patterns.

    Map-only: regex detection and replacement are per-row JVM
    expressions inside the scan's project — at 100 TB this runs at
    parquet-read speed with zero shuffles. A production pipeline swaps
    in more patterns (SSNs, credit cards, secrets); the plan shape is
    identical.
    """
    d = table(spark, sf_dir, "documents")
    body = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(body, _PII_EMAIL, "<EMAIL>"), _PII_IP, "<IP>"
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        "source",
        F.size(F.regexp_extract_all(body, F.lit(_PII_EMAIL), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(body, F.lit(_PII_IP), 0)).alias("n_ips"),
        F.size(F.regexp_extract_all(body, F.lit(_PII_PHONE), 0)).alias("n_phones"),
        F.substring(F.sha2(scrubbed, 256), 1, 16).alias("clean_fp"),
    )


@query(
    "text_repetition_filter",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents
    ), uni AS (
      SELECT doc_id, len(t) AS n_tok, len(list_distinct(t)) AS n_uniq FROM toks
    ), big AS (
      SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
      FROM toks, UNNEST(generate_series(1, len(t)-1)) AS u(i)
      WHERE len(t) >= 2
    ), bgc AS (
      SELECT doc_id, bg, COUNT(*) AS c FROM big GROUP BY 1, 2
    ), bgm AS (
      SELECT doc_id, MAX(c) AS max_bigram, CAST(SUM(c) AS BIGINT) AS n_bigrams
      FROM bgc GROUP BY doc_id
    )
    SELECT u.doc_id, u.n_tok, u.n_uniq, b.max_bigram, b.n_bigrams,
           (b.max_bigram * 100 <= 9 * b.n_bigrams
            AND (u.n_tok - u.n_uniq) * 100 <= 66 * u.n_tok) AS keep
    FROM uni u JOIN bgm b ON u.doc_id = b.doc_id
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filtering — the Gopher-style quality rule that drops
    documents dominated by repeated n-grams (boilerplate, scraped menus,
    keyword stuffing): per document, the duplicate-token fraction
    (1 − distinct/total) and the most-frequent-word-bigram share of all
    bigrams; a doc is kept when top-bigram ≤ 9% and duplicate-token
    ≤ 66% (thresholds calibrated on this corpus's distribution — Gopher
    uses 0.20/0.30 on web text; the rule's shape is what matters).

    The keep decision is computed in exact integer arithmetic
    (``max_c·100 ≤ 9·n``), not on rounded ratios — ratio doubles like
    1/128 land exactly on 6-dp half-way points where engines' rounding
    disagrees, integers never do.

    Scale: token/bigram explode is map-side; both shuffles carry
    pre-aggregated (doc_id, bigram, count) rows — map-side combine
    collapses the exploded bigrams before anything crosses the wire,
    and the per-doc rollup reshuffles only one row per distinct bigram.
    No cross-document state anywhere.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("t"))
    uni = toks.select(
        "doc_id",
        F.size("t").alias("n_tok"),
        F.size(F.array_distinct("t")).alias("n_uniq"),
    )
    big = toks.filter(F.size("t") >= 2).select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(0, size(t)-2), i -> concat_ws(' ', t[i], t[i+1]))")
        ).alias("bg"),
    )
    bgm = (
        big.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_bigram"), F.sum("c").alias("n_bigrams"))
    )
    return uni.join(bgm, "doc_id").select(
        "doc_id",
        "n_tok",
        "n_uniq",
        "max_bigram",
        "n_bigrams",
        (
            (F.col("max_bigram") * 100 <= 9 * F.col("n_bigrams"))
            & ((F.col("n_tok") - F.col("n_uniq")) * 100 <= 66 * F.col("n_tok"))
        ).alias("keep"),
    )


@query(
    "text_bigram_topk",
    oracle="""
    WITH toks AS (
      SELECT list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS w
      FROM documents
    ), bigrams AS (
      SELECT t.bg
      FROM toks, unnest(list_transform(range(2, len(w)+1),
                                       i -> w[i-1] || ' ' || w[i])) AS t(bg)
    )
    SELECT bg AS bigram, COUNT(*) AS cnt
    FROM bigrams GROUP BY bg
    ORDER BY cnt DESC, bigram
    LIMIT 20
    """,
)
def text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 bigrams — the vocabulary-building pass of a
    tokenizer pipeline (the unigram twin lives in text_tokenize_counts).

    Scale: bigram expansion is map-side (transform over the token
    array, no shuffle); the groupBy partial-aggregates the vocab
    map-side, and the global top-20 fuses to TakeOrderedAndProject —
    the full bigram vocabulary is never sorted, only each partition's
    top slice reaches the driver-side heap. Tie at the cut is broken
    lexicographically in both engines."""
    d = table(spark, sf_dir, "documents")
    w = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != F.lit("")
    )
    return (
        d.select(w.alias("w"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w)-2),"
                    " i -> concat_ws(' ', w[i], w[i+1]))"
                )
            ).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(20)
    )


@query(
    "text_ngram_novelty",
    oracle="""
    WITH tok AS (
      SELECT d.doc_id, d.lang, t.tk AS token, t.pos
      FROM documents d,
           LATERAL (
             SELECT UNNEST(string_split_regex(lower(d.text), '\\s+')) AS tk,
                    UNNEST(range(len(string_split_regex(lower(d.text), '\\s+'))))
                      AS pos
           ) t
      WHERE t.tk <> ''
    ),
    tri AS (
      SELECT DISTINCT doc_id, lang,
             token || ' '
               || lead(token, 1) OVER w || ' '
               || lead(token, 2) OVER w AS tg
      FROM tok
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      QUALIFY lead(token, 2) OVER w IS NOT NULL
    ),
    first_seen AS (
      SELECT tg, MIN(doc_id) AS first_doc FROM tri GROUP BY tg
    ),
    per_doc AS (
      SELECT t.doc_id, t.lang,
             COUNT(*) AS n_tri,
             COUNT(CASE WHEN f.first_doc = t.doc_id THEN 1 END) AS n_novel
      FROM tri t JOIN first_seen f ON f.tg = t.tg
      GROUP BY t.doc_id, t.lang
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tri) AS BIGINT) AS n_trigrams,
           CAST(SUM(n_novel) AS BIGINT) AS n_novel,
           round(SUM(n_novel) / CAST(SUM(n_tri) AS DOUBLE), 6)
             AS novelty_rate
    FROM per_doc GROUP BY lang
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty: per language, the fraction of each document's
    DISTINCT word trigrams whose corpus-wide first occurrence (minimum
    doc_id) is that document — the memorization/near-duplication health
    metric LM-data pipelines track (novelty collapsing toward 0 means
    the crawl is re-reading itself; trigram attribution by first
    occurrence is the standard formulation).

    Determinism: everything is exact integer counting up to one
    mirrored float division rounded 6 dp.

    Scale (r14 reshape, guide §2.4): the per-doc DISTINCT-trigram set
    is a pure function of the document, so it materializes map-side —
    tokens → trigram array (``transform`` over positions; adjacency in
    the empties-filtered array is exactly the old window's
    ``lead``-over-``pos`` adjacency) → ``array_distinct`` — with ZERO
    shuffle, replacing the old doc-partitioned window + 3-column
    ``.distinct()``. First-occurrence attribution is then the ONE
    data-sized shuffle left: groupBy(tg) with a partial-agg min. Each
    doc's novel-count comes from the tiny first_seen frame regrouped
    by its exemplar doc (novelty of doc d = #trigrams whose corpus min
    is d — the same inner-join-on-tg count, without re-shuffling the
    trigram frame), joined back onto the map-side per-doc stats. The
    novel frame is doc-cardinality in the worst case (every doc owns
    ≥1 novel trigram), so the join strategy is left to the planner/AQE
    — a forced broadcast hint would bypass size thresholds and OOM at
    the 100 TB posture (ADVICE r14). Net: 4 data-sized exchanges +
    window sort → 1."""
    d = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != "")
    docs = d.select("doc_id", "lang", toks.alias("t")).filter(F.size("t") >= 3)
    tgs = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("t") - 2),
            lambda i: F.concat_ws(" ", F.slice("t", i, 3)),
        )
    )
    per_doc = docs.select("doc_id", "lang", F.size(tgs).alias("n_tri"))
    exploded = docs.select("doc_id", F.explode(tgs).alias("tg"))
    first_seen = exploded.groupBy("tg").agg(F.min("doc_id").alias("first_doc"))
    novel = first_seen.groupBy("first_doc").agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    joined = per_doc.join(
        novel,
        per_doc["doc_id"] == novel["first_doc"],
        "left",
    ).select(
        "lang",
        "n_tri",
        F.coalesce(F.col("n_novel"), F.lit(0).cast("bigint")).alias("n_novel"),
    )
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tri").cast("bigint").alias("n_trigrams"),
        F.sum("n_novel").cast("bigint").alias("n_novel"),
        F.round(
            F.sum("n_novel") / F.sum("n_tri").cast("double"), 6
        ).alias("novelty_rate"),
    )


# ---------------------------------------------------------------------------
# text_bm25_rank
# ---------------------------------------------------------------------------

#: Fixed probe queries for the retrieval audit: (probe_id, term).
#: Literal in both engines so the ranking is a pure function of the
#: corpus. Terms are mid-frequency corpus words (see text_analysis's
#: token statistics), not stopwords.
_BM25_PROBES: tuple[tuple[int, str], ...] = (
    (1, "fast"),
    (1, "scan"),
    (1, "merge"),
    (2, "window"),
    (2, "hash"),
    (2, "join"),
    (3, "stream"),
    (3, "vector"),
    (3, "slow"),
)
_BM25_K1 = "1.2"
_BM25_B = "0.75"
_BM25_TOPK = 10

_BM25_PROBES_SQL = "(VALUES " + ", ".join(
    f"({pid}, '{term}')" for pid, term in _BM25_PROBES
) + ") AS p(probe_id, term)"


#: WITH-body replaying BM25 scoring through ``scored``
#: (probe_id, doc_id, n_terms, bm25) — shared by ``text_bm25_rank``
#: and the reciprocal-rank-fusion oracle (similarity.py ``sim_rrf_fusion``).
_BM25_CTES = f"""tok AS (
      SELECT doc_id, t.token
      FROM documents, unnest(string_split_regex(lower(text), '\\s+')) AS t(token)
      WHERE t.token <> ''
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    contrib AS (
      SELECT p.probe_id, tf.doc_id,
             round(
               ln(1.0 + (CAST(s.n - df.df AS DOUBLE) + 0.5)
                        / (CAST(df.df AS DOUBLE) + 0.5))
               * (CAST(tf.tf AS DOUBLE) * ({_BM25_K1} + 1.0))
               / (CAST(tf.tf AS DOUBLE)
                  + {_BM25_K1} * (1.0 - {_BM25_B}
                                  + {_BM25_B} * (CAST(dl.dl AS DOUBLE)
                                                 / s.avgdl))),
               6) AS c
      FROM tf
      JOIN {_BM25_PROBES_SQL} ON p.term = tf.token
      JOIN df ON df.token = tf.token
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
    ),
    scored AS (
      SELECT probe_id, doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_terms,
             {dsum_sql('c')} AS bm25
      FROM contrib GROUP BY probe_id, doc_id
    )"""


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BM25 scoring pipeline through the pre-top-k frame
    (probe_id, doc_id, n_terms, bm25) — the Spark twin of the shared
    ``_BM25_CTES`` ``scored`` CTE, consumed by ``text_bm25_rank`` and
    the retrieval-evaluation queries (model_eval.ml_ndcg_retrieval,
    sim_rrf_fusion). Memoized per (session, sf_dir) — VERDICT r7
    item 3: the frame is a pure function of the table and probe
    constants, bounded at |probes|·|matching docs| rows."""
    return cached_df(
        spark,
        ("bm25_scored", os.path.abspath(sf_dir)),
        lambda: _bm25_scored_build(spark, sf_dir),
    )


def _bm25_scored_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = _doc_tokens(spark, sf_dir)
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    probes = spark.createDataFrame(
        list(_BM25_PROBES), schema="probe_id int, term string"
    )
    k1, b = float(_BM25_K1), float(_BM25_B)
    idf = F.log(
        F.lit(1.0)
        + ((F.col("n") - F.col("df")).cast("double") + 0.5)
        / (F.col("df").cast("double") + 0.5)
    )
    contrib = F.round(
        idf
        * (F.col("tf").cast("double") * F.lit(k1 + 1.0))
        / (
            F.col("tf").cast("double")
            + F.lit(k1)
            * (
                F.lit(1.0)
                - F.lit(b)
                + F.lit(b) * (F.col("dl").cast("double") / F.col("avgdl"))
            )
        ),
        6,
    )
    return (
        tf.join(F.broadcast(probes), probes.term == tf.token)
        .join(F.broadcast(df_), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("probe_id", "doc_id", contrib.alias("c"))
        .groupBy("probe_id", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(F.col("c").cast(DEC)).cast("double").alias("bm25"),
        )
    )


@query(
    "text_bm25_rank",
    oracle=f"""
    WITH {_BM25_CTES}
    SELECT probe_id, doc_id, n_terms, round(bm25, 6) AS bm25, rn FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                   ORDER BY bm25 DESC, doc_id) AS rn
      FROM scored
    ) WHERE rn <= {_BM25_TOPK}
    """,
    tags=("memo",),
)
def text_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval: top-10 documents per probe term set under
    Okapi BM25 (k1=1.2, b=0.75, Lucene's non-negative idf variant
    ln(1 + (N−df+0.5)/(df+0.5))) — the standard scorer for
    contamination / retrieval audits over a training corpus.

    Determinism: tf/df/dl are exact integers; avgdl is one exact
    int-sum / int-count double division; each term's BM25 contribution
    is a single identically-parenthesized IEEE double expression in
    both engines, rounded at 6 dp, and the per-document score is the
    order-independent decimal sum of those rounded terms
    (functions/determinism.py). Ties rank by doc_id.

    Scale: tokenization is map-only; tf is one (doc, token) shuffle
    shared with df (a groupBy over tf's output, combiner-reduced to
    |vocab| rows); probes and the 1-row corpus stats broadcast; the
    final top-k is a per-probe rank window over |probes|·|docs|
    candidate rows — at 100 TB the probe join prunes that to documents
    actually containing a probe term before anything ranks."""
    scored = _bm25_scored(spark, sf_dir)
    w = Window.partitionBy("probe_id").orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _BM25_TOPK)
        .select("probe_id", "doc_id", "n_terms", F.round("bm25", 6).alias("bm25"), "rn")
    )


# ---------------------------------------------------------------------------
# text_rake_keywords
# ---------------------------------------------------------------------------

_RAKE_STOP = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
_RAKE_STOP_SQL = "('" + "', '".join(_RAKE_STOP) + "')"
_RAKE_TOPK = 10


@query(
    "text_rake_keywords",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
      FROM documents
    ),
    tok AS (
      SELECT doc_id, t[CAST(u.i AS INT) + 1] AS token,
             CAST(u.i + 1 AS BIGINT) AS pos
      FROM toks, UNNEST(range(0, len(t))) AS u(i)
      WHERE t[CAST(u.i AS INT) + 1] <> ''
    ),
    content AS (
      SELECT doc_id, token, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
      FROM tok WHERE token NOT IN {_RAKE_STOP_SQL}
    ),
    phrases AS (
      SELECT doc_id, grp, MIN(pos) AS start_pos, COUNT(*) AS n_words
      FROM content GROUP BY doc_id, grp
    ),
    word_stats AS (
      SELECT c.token,
             COUNT(*) AS freq,
             SUM(p.n_words) AS degree
      FROM content c
      JOIN phrases p ON p.doc_id = c.doc_id AND p.grp = c.grp
      GROUP BY c.token
    ),
    scored AS (
      SELECT c.doc_id, c.grp,
             MIN(p.start_pos) AS start_pos,
             MIN(p.n_words) AS n_words,
             string_agg(c.token, ' ' ORDER BY c.pos) AS phrase,
             {dsum_sql('round(w.degree * 1.0 / w.freq, 6)')} AS score
      FROM content c
      JOIN phrases p ON p.doc_id = c.doc_id AND p.grp = c.grp
      JOIN word_stats w ON w.token = c.token
      GROUP BY c.doc_id, c.grp
    )
    SELECT doc_id, phrase, CAST(n_words AS BIGINT) AS n_words,
           round(score, 6) AS score
    FROM scored
    ORDER BY score DESC, doc_id, start_pos
    LIMIT {_RAKE_TOPK}
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction: phrases are maximal stopword-free token
    runs (the gaps-and-islands grouping pos − row_number); each word
    scores degree/freq where degree sums the lengths of every phrase
    containing it; a phrase scores the sum of its words' scores. Top-10
    phrases corpus-wide, ties broken (doc_id, start_pos).

    Determinism: freq/degree are exact integers; each word score is one
    IEEE division rounded at 6 dp; phrase scores are order-independent
    decimal sums of those rounded terms; the top-k order is total.

    Scale: tokenization is map-only; the islands grouping is a window
    PARTITIONED BY doc (parallel across documents — no global order);
    word_stats is one (token) groupBy, broadcast back; the final top-10
    is TakeOrdered, not a global sort."""
    d = table(spark, sf_dir, "documents")
    tok = (
        d.select(
            "doc_id",
            F.posexplode(F.split(F.lower(F.col("text")), r"\s+")).alias(
                "p0", "token"
            ),
        )
        .filter(F.col("token") != "")
        .select("doc_id", "token", (F.col("p0") + 1).cast("long").alias("pos"))
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    # persist (r14): content feeds the phrase islands and both scoring
    # joins, phrases feeds word_stats and the phrase assembly — without
    # barriers the tokenize + islands window re-evaluates 3x
    content = (
        tok.filter(~F.col("token").isin(*_RAKE_STOP))
        .withColumn("grp", F.col("pos") - F.row_number().over(w_doc))
        .persist()
    )
    phrases = content.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("start_pos"), F.count(F.lit(1)).alias("n_words")
    ).persist()
    word_stats = (
        content.join(phrases, ["doc_id", "grp"])
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("n_words").alias("degree"),
        )
    )
    scored = (
        content.join(phrases, ["doc_id", "grp"])
        .join(F.broadcast(word_stats), "token")
        .groupBy("doc_id", "grp")
        .agg(
            F.min("start_pos").alias("start_pos"),
            F.min("n_words").alias("n_words"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "token"))
                    ),
                    lambda s: s["token"],
                ),
            ).alias("phrase"),
            F.sum(
                F.round(F.col("degree") * 1.0 / F.col("freq"), 6).cast(DEC)
            )
            .cast("double")
            .alias("score"),
        )
    )
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"), F.asc("start_pos"))
        .limit(_RAKE_TOPK)
        .select(
            "doc_id",
            "phrase",
            F.col("n_words").cast("long").alias("n_words"),
            F.round("score", 6).alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# text_containment_dedup
# ---------------------------------------------------------------------------

_CONT_T = "0.9"


@query(
    "text_containment_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
      FROM toks, UNNEST(generate_series(1, len(t)-2)) AS u(i)
      WHERE len(t) >= 3
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    directed AS (
      SELECT doc_a AS contained_doc, doc_b AS container_doc,
             n_inter, sa.n AS n_contained,
             round(n_inter * 1.0 / sa.n, 6) AS containment
      FROM inter JOIN sizes sa ON sa.doc_id = doc_a
      UNION ALL
      SELECT doc_b, doc_a, n_inter, sb.n,
             round(n_inter * 1.0 / sb.n, 6)
      FROM inter JOIN sizes sb ON sb.doc_id = doc_b
    )
    SELECT contained_doc, container_doc,
           CAST(n_inter AS BIGINT) AS n_inter,
           CAST(n_contained AS BIGINT) AS n_contained,
           containment
    FROM directed WHERE containment >= {_CONT_T}
    """,
)
def text_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|
    over word-3-gram shingles, emitting every directed pair with
    C ≥ {_CONT_T} — the detector for a document EMBEDDED in a longer
    one (quoted articles, boilerplate-wrapped reposts), which symmetric
    Jaccard under-scores by construction (a 10× length gap caps J at
    ~0.1 while containment is 1.0). Broder's containment measure next
    to dedup_ngram_jaccard's resemblance.

    Reuses the inverted-index intersection shape: pairs sharing ≥ 1
    shingle get counted via the shingle-hash equi-join (no pair with
    zero overlap ever materializes), then each undirected intersection
    row fans into its two directed containments. Exact counts; one
    division rounded 6 dp.

    Scale: identical to dedup_ngram_jaccard — 8-byte shingle-hash
    shuffle, document-frequency-bounded fan-out, AQE skew-split for
    hot shingles; the directed expansion is 2× the (sparse)
    intersection table."""
    from python_etl_sample_spark.operators.dedup import _shingle_overlap

    both = _shingle_overlap(spark, sf_dir)
    # one explode fans each undirected row into its two directed
    # containments in a single pass — the previous d1.unionAll(d2)
    # evaluated the intersection+size joins twice per run
    return (
        both.select(
            "n_inter",
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("cd"),
                        F.col("doc_b").alias("cr"),
                        F.col("na").alias("nc"),
                    ),
                    F.struct(
                        F.col("doc_b").alias("cd"),
                        F.col("doc_a").alias("cr"),
                        F.col("nb").alias("nc"),
                    ),
                )
            ).alias("p"),
        )
        .select(
            F.col("p.cd").alias("contained_doc"),
            F.col("p.cr").alias("container_doc"),
            "n_inter",
            F.col("p.nc").alias("n_contained"),
            F.round(F.col("n_inter") * 1.0 / F.col("p.nc"), 6).alias(
                "containment"
            ),
        )
        .filter(F.col("containment") >= float(_CONT_T))
    )


# ---------------------------------------------------------------------------
# text_bigram_lm_perplexity
# ---------------------------------------------------------------------------

#: ordinality-preserving tokens (doc_id, pos, token) — the collocations
#: frame without the stopword filter (an LM must see function words)
_ORD_TOK_SQL = r"""
      SELECT doc_id, words[i] AS token, i AS pos
      FROM (SELECT doc_id, generate_subscripts(words, 1) AS i, words
            FROM (SELECT doc_id,
                         string_split_regex(lower(text), '\s+') AS words
                  FROM documents))
      WHERE words[i] <> ''
"""


@query(
    "text_bigram_lm_perplexity",
    oracle=f"""
    WITH tok AS ({_ORD_TOK_SQL}),
    bg AS (
      SELECT doc_id, token AS w1,
             lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM tok
    ),
    bgn AS (SELECT doc_id, w1, w2 FROM bg WHERE w2 IS NOT NULL),
    cnt AS (SELECT w1, w2, COUNT(*) AS c12 FROM bgn GROUP BY w1, w2),
    ctx AS (SELECT w1, SUM(c12) AS c1 FROM cnt GROUP BY w1),
    vocab AS (SELECT COUNT(DISTINCT token) AS v FROM tok),
    terms AS (
      SELECT b.doc_id,
             CAST(round(log10((c.c12 + 1.0) / (x.c1 + vocab.v)), 9)
                  AS DECIMAL(28,12)) AS lp
      FROM bgn b
      JOIN cnt c ON c.w1 = b.w1 AND c.w2 = b.w2
      JOIN ctx x ON x.w1 = b.w1
      CROSS JOIN vocab
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           round(-CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS cross_entropy,
           round(power(10, -CAST(SUM(lp) AS DOUBLE) / COUNT(*)), 2)
             AS perplexity
    FROM terms GROUP BY doc_id
    """,
)
def text_bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency score: train an add-one-smoothed bigram model
    on the corpus itself (p(w2|w1) = (c(w1,w2)+1)/(c(w1·)+V)), then
    score every document with its cross-entropy H = −mean log10 p and
    perplexity 10^H. The order-sensitive quality gate: a document of
    common words in garbled ORDER scores fluent under the unigram LM
    (text_unigram_lm_score) but blows up here — the same reason
    production pipelines (CCNet-style) filter on an n-gram LM, not
    unigram frequencies.

    Plan: one doc_id-partitioned lead() builds adjacent pairs (one
    shuffle, no position self-join), one (w1,w2) groupBy trains the
    model, context totals derive from the bigram counts themselves
    (so probabilities sum to 1 per context), and scoring joins pairs
    back on (w1,w2). At 100 TB the model table is Zipf-compact
    relative to the corpus; the scoring join shuffles (w1,w2) keys and
    AQE splits the hot function-word contexts.

    Determinism: each log-prob is log10 of one IEEE division of exact
    longs, rounded 9 dp and summed as decimal(28,12) (exact, order-free
    — the unigram scorer's dsum pattern); H is one double division;
    perplexity is power(10, H) of the identical double on both engines
    (≤1 ulp), rounded 2 dp."""
    tok = _doc_pos_tokens(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("pos")
    bgn = (
        tok.withColumn("w2", F.lead("token").over(w))
        .filter(F.col("w2").isNotNull())
        .select("doc_id", F.col("token").alias("w1"), "w2")
    )
    cnt = bgn.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ctx = cnt.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = tok.agg(F.countDistinct("token").alias("v"))
    terms = (
        bgn.join(cnt, ["w1", "w2"])
        .join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.round(
                F.log10((F.col("c12") + 1.0) / (F.col("c1") + F.col("v"))), 9
            )
            .cast("decimal(28,12)")
            .alias("lp"),
        )
    )
    slp = F.sum("lp").cast("double")
    n = F.count(F.lit(1))
    return terms.groupBy("doc_id").agg(
        n.alias("n_bigrams"),
        F.round(-slp / n, 6).alias("cross_entropy"),
        F.round(F.pow(F.lit(10.0), -slp / n), 2).alias("perplexity"),
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
# text_textrank_keywords
# ---------------------------------------------------------------------------

_TR_ROUNDS = 3
_TR_DAMP = "0.85"
_TR_TOPK = 15


def _tr_oracle() -> str:
    """Unrolled damped-PageRank replay over the content-word adjacency
    graph (the LPA/PageRank oracle pattern)."""
    parts = [rf"""
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    tok AS (
      SELECT doc_id, t[CAST(u.i AS INT) + 1] AS token,
             CAST(u.i + 1 AS BIGINT) AS pos
      FROM toks, UNNEST(range(0, len(t))) AS u(i)
    ),
    content AS (
      SELECT doc_id, token,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS cpos
      FROM tok WHERE token NOT IN {_RAKE_STOP_SQL} AND token <> ''
    ),
    adj AS (
      SELECT a.token AS src, b.token AS dst, COUNT(*) AS w
      FROM content a JOIN content b
        ON b.doc_id = a.doc_id AND b.cpos = a.cpos + 1
       AND a.token <> b.token
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT src, dst, SUM(w) AS w FROM (
        SELECT src, dst, w FROM adj
        UNION ALL SELECT dst AS src, src AS dst, w FROM adj
      ) GROUP BY src, dst
    ),
    outw AS (SELECT src, SUM(w) AS tot FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS token FROM edges),
    s0 AS (SELECT token, 1.0 AS score FROM nodes)"""]
    for i in range(1, _TR_ROUNDS + 1):
        parts.append(f"""
    s{i} AS (
      SELECT n.token,
             round(0.15 + {_TR_DAMP} * CAST(COALESCE(SUM(
                 CAST(round((e.w / o.tot) * p.score, 12)
                      AS DECIMAL(28,14))), 0) AS DOUBLE), 9) AS score
      FROM nodes n
      LEFT JOIN edges e ON e.dst = n.token
      LEFT JOIN outw o ON o.src = e.src
      LEFT JOIN s{i - 1} p ON p.token = e.src
      GROUP BY n.token
    )""")
    return f"""WITH {','.join(parts)}
    SELECT s.token, CAST(o.tot AS BIGINT) AS degree_w,
           round(s.score, 6) AS score, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT token, score,
                 ROW_NUMBER() OVER (ORDER BY score DESC, token) AS rnk
          FROM s{_TR_ROUNDS}) s
    JOIN outw o ON o.src = s.token
    WHERE rnk <= {_TR_TOPK}"""


@query("text_textrank_keywords", oracle=_tr_oracle())
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction: damped PageRank (d = 0.85, three
    unrolled iterations from uniform 1.0) over the corpus content-word
    adjacency graph — nodes are non-stopword tokens, undirected edges
    weigh how often two content words appear adjacently (after
    stopword removal), and the stationary-ish score surfaces words
    that sit in many well-connected contexts. The graph-based
    complement to RAKE (text_rake_keywords): RAKE scores
    degree/frequency inside candidate phrases; TextRank lets
    importance FLOW, so a moderately frequent word bridging many
    contexts outranks a frequent but isolated one.

    Scale: tokenization and adjacency are map + one (src, dst)
    groupBy; each iteration is one edges⋈scores shuffle and a
    per-node sum — the same bounded-superstep Pregel shape as
    graph_pagerank / LPA, with the round count part of the operator's
    definition so the oracle replays it exactly. The final top-15 is
    a TakeOrdered over the vocabulary frame plus a 15-row rank.

    Determinism: edge weights and degree sums are exact integers;
    each contribution (w/W_j)·s_j rounds at 12 dp into an order-free
    decimal sum; scores re-round at 9 dp per iteration so every round
    starts from identical doubles on both engines; ties in the final
    rank break on the token string."""
    tok = _doc_pos_tokens(spark, sf_dir)
    wc = Window.partitionBy("doc_id").orderBy("pos")
    content = tok.filter(~F.col("token").isin(*_RAKE_STOP)).select(
        "doc_id", "token", F.row_number().over(wc).alias("cpos")
    )
    b = content.select(
        "doc_id",
        F.col("token").alias("dst_tok"),
        (F.col("cpos") - 1).alias("prev_pos"),
    )
    adj = (
        content.join(
            b,
            (content.doc_id == b.doc_id)
            & (content.cpos == b.prev_pos),
        )
        .filter(F.col("token") != F.col("dst_tok"))
        .groupBy(F.col("token").alias("src"), F.col("dst_tok").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # lazy checkpoints cut the unrolled 3-round lineage at the graph
    # frames — graph_bfs_hops' measured rule (graph_analytics.py): the
    # re-planned multi-round lineage costs more than the checkpoint,
    # and the tokenize+window+self-join adjacency otherwise re-plans
    # under every round's subtree (measured 3.6 → 2.5 s at sf0.1 with
    # round-to-round variance collapsing from 9.5/4.1/3.6 to ~2.5 flat)
    edges = (
        adj.select("src", "dst", "w")
        .unionAll(
            adj.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        .localCheckpoint(eager=False)
    )
    # persist the degree frame (r14): every round's contribution join
    # and the final readout reference it — one groupBy, not four; it
    # is vocabulary-bounded, as are the per-round score frames, so the
    # iteration joins below all broadcast (guide §3.1)
    outw = edges.groupBy("src").agg(F.sum("w").alias("tot")).persist()
    nodes = (
        edges.select(F.col("src").alias("token"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    scores = nodes.withColumn("score", F.lit(1.0))
    damp = float(_TR_DAMP)
    for _ in range(_TR_ROUNDS):
        contrib = (
            edges.join(F.broadcast(outw), "src")
            .join(
                F.broadcast(
                    scores.select(
                        F.col("token").alias("src"), F.col("score").alias("ps")
                    )
                ),
                "src",
            )
            .select(
                F.col("dst").alias("token"),
                F.round((F.col("w") / F.col("tot")) * F.col("ps"), 12)
                .cast("decimal(28,14)")
                .alias("c"),
            )
            .groupBy("token")
            .agg(F.sum("c").cast("double").alias("csum"))
        )
        scores = (
            nodes.join(F.broadcast(contrib), "token", "left")
            .select(
                "token",
                F.round(
                    0.15 + damp * F.coalesce(F.col("csum"), F.lit(0.0)), 9
                ).alias("score"),
            )
            .localCheckpoint(eager=False)
        )
    top = scores.orderBy(F.desc("score"), F.asc("token")).limit(_TR_TOPK)
    # bounded-window: ranking the LIMIT-15 frame (query constant).
    wr = Window.orderBy(F.desc("score"), F.asc("token"))
    return (
        top.withColumn("rnk", F.row_number().over(wr).cast("long"))
        .join(outw.withColumnRenamed("src", "token"), "token")
        .select(
            "token",
            F.col("tot").cast("long").alias("degree_w"),
            F.round("score", 6).alias("score"),
            "rnk",
        )
    )


# --------------------------------------------------------------------------
# text_bpe_train_merges — the BPE training inner loop
# --------------------------------------------------------------------------

_BPE_ROUNDS = 4
_BPE_EOW = "</w>"


def _bpe_round_sql(prev: str, t: int) -> str:
    """One unrolled BPE round: weighted pair counts → the best merge
    (count desc, pair asc) → leftmost-greedy non-overlapping apply via
    the gaps-and-islands parity trick (inside a run of consecutive
    matching positions, merges land on even offsets — exactly the
    sequential greedy scan, expressed set-wise)."""
    return f"""
    e{t} AS MATERIALIZED (
      SELECT w.word, w.freq, CAST(u.i AS INT) AS pos,
             w.syms[u.i + 1] AS sym, w.syms[u.i + 2] AS nxt
      FROM {prev} w, unnest(generate_series(0, len(w.syms) - 1)) u(i)
    ),
    p{t} AS (
      SELECT sym AS l, nxt AS r, SUM(freq) AS cnt
      FROM e{t} WHERE nxt IS NOT NULL GROUP BY sym, nxt
    ),
    b{t} AS MATERIALIZED (
      SELECT l, r, cnt FROM p{t} ORDER BY cnt DESC, l, r LIMIT 1
    ),
    isl{t} AS (
      SELECT word, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS grp
      FROM e{t}
      WHERE sym = (SELECT l FROM b{t}) AND nxt = (SELECT r FROM b{t})
    ),
    mrg{t} AS MATERIALIZED (
      SELECT word, pos FROM (
        SELECT word, pos,
               pos - MIN(pos) OVER (PARTITION BY word, grp) AS off
        FROM isl{t}
      ) WHERE off % 2 = 0
    ),
    w{t} AS MATERIALIZED (
      SELECT e.word, MIN(e.freq) AS freq,
             array_agg(CASE WHEN m1.pos IS NOT NULL THEN e.sym || e.nxt
                            ELSE e.sym END ORDER BY e.pos)
               FILTER (WHERE m0.pos IS NULL) AS syms
      FROM e{t} e
      LEFT JOIN mrg{t} m1 ON m1.word = e.word AND m1.pos = e.pos
      LEFT JOIN mrg{t} m0 ON m0.word = e.word AND m0.pos = e.pos - 1
      GROUP BY e.word
    )"""


_BPE_ORACLE = f"""
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
    {",".join(_bpe_round_sql(f"w{t - 1}", t) for t in range(1, _BPE_ROUNDS + 1))}
    {" UNION ALL ".join(
        f"SELECT {t} AS round, l AS left_sym, r AS right_sym,"
        f" l || r AS merged_token, CAST(cnt AS BIGINT) AS pair_count FROM b{t}"
        for t in range(1, _BPE_ROUNDS + 1)
    )}
"""


@query("text_bpe_train_merges", oracle=_BPE_ORACLE, tags=("memo",))
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE **training** inner loop (Sennrich et al.) as a corpus
    operator: 4 rounds of (weighted adjacent-pair counts over the
    word-frequency table → highest-count pair, ties broken (left,
    right) byte-order → leftmost-greedy non-overlapping merge applied
    to every word's symbol sequence), returning the learned merge
    table (round, pair, merged token, weighted count). This is the
    piece the tokenizer-counting queries (text_token_bpe_count)
    consume ready-made; here the engine LEARNS it.

    The classic scale reduction does the heavy lifting: BPE trains on
    the DISTINCT-word frequency table, not the corpus — one tokenize +
    groupBy collapses 100 TB of text to a vocab-sized frame, and every
    round's pair count is weighted by word frequency (integer sums, so
    the argmax and the hash are exact; symbols are ASCII [a-z</w>]+
    runs, so Spark's UTF8_BINARY and DuckDB's memcmp order the
    tie-break identically).

    Per round: one partial-aggregated shuffle for the pair counts, a
    1-row TakeOrdered best-pair frame broadcast into the merge-apply
    (declarative — no driver value drives the loop), and the apply
    itself is a per-row aggregate fold (no shuffle): scan each word's
    symbols once, emitting the merged pair and skipping its right
    element — the exact greedy semantics the oracle reproduces
    set-wise with the gaps-and-islands parity trick. Symbol frames are
    lazily checkpointed per round (each feeds both the next count and
    the apply — the round-loop lineage rule this module's HITS
    documents); the best frames are checkpointed too so the output
    union does not re-run the pair aggregations. Assumes the corpus
    cannot exhaust all pairs within the fixed rounds (needs ≥ 8+ merges
    to collapse the longest fixture word; guarded by vocabulary shape,
    not data luck).

    Warm-up tag ``memo``: the 4-round training pipeline is a
    ``cached_value`` memo shared with ``text_bpe_encode`` and
    ``text_bpe_compression_by_lang``."""
    bests, _ = _bpe_pipeline(spark, sf_dir)
    out = bests[0]
    for b in bests[1:]:
        out = out.unionAll(b)
    return out.select(
        "round",
        F.col("l").alias("left_sym"),
        F.col("r").alias("right_sym"),
        F.concat("l", "r").alias("merged_token"),
        F.col("cnt").alias("pair_count"),
    )


def _bpe_pipeline(
    spark: SparkSession, sf_dir: str
) -> tuple[list[DataFrame], DataFrame]:
    """Run the 4-round BPE training pipeline once per (session,
    sf_dir); return ([per-round best frames], final symbol table).
    Memoized (the _km_fit precedent): the merge-table query and the
    encoder consume the identical deterministic pipeline."""
    from python_etl_sample_spark.cache import cached_value

    return cached_value(
        spark,
        ("bpe_pipeline", os.path.abspath(sf_dir)),
        lambda: _bpe_build(spark, sf_dir),
    )


def _bpe_build(
    spark: SparkSession, sf_dir: str
) -> tuple[list[DataFrame], DataFrame]:
    d = table(spark, sf_dir, "documents")
    w0 = (
        d.select(
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "word",
            "freq",
            F.concat(
                F.expr(
                    "transform(sequence(1, length(word)),"
                    " i -> substring(word, i, 1))"
                ),
                F.array(F.lit(_BPE_EOW)),
            ).alias("syms"),
        )
    )
    words = w0.localCheckpoint(eager=False)
    bests = []
    for t in range(1, _BPE_ROUNDS + 1):
        pairs = (
            words.select(
                "freq",
                F.posexplode(F.expr("slice(syms, 1, size(syms) - 1)")).alias(
                    "pos", "l"
                ),
                F.col("syms"),
            )
            .select(
                "freq",
                "l",
                F.expr("element_at(syms, pos + 2)").alias("r"),
            )
            .groupBy("l", "r")
            .agg(F.sum("freq").alias("cnt"))
        )
        best = (
            pairs.orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .localCheckpoint(eager=False)
        )
        bests.append(best.select(F.lit(t).alias("round"), "l", "r", "cnt"))
        # leftmost-greedy single-pass merge: fold over positions with a
        # (accumulated symbols, skip-next) state — the sequential scan
        # the islands parity in the oracle reproduces set-wise
        applied = words.crossJoin(
            F.broadcast(best.select(F.col("l").alias("bl"), F.col("r").alias("br")))
        ).select(
            "word",
            "freq",
            F.expr(
                """
                aggregate(
                  sequence(0, size(syms) - 1),
                  struct(CAST(array() AS ARRAY<STRING>) AS acc,
                         false AS skip),
                  (st, i) -> CASE
                    WHEN st.skip THEN struct(st.acc AS acc, false AS skip)
                    WHEN i < size(syms) - 1
                         AND element_at(syms, i + 1) = bl
                         AND element_at(syms, i + 2) = br
                      THEN struct(concat(st.acc, array(bl || br)) AS acc,
                                  true AS skip)
                    ELSE struct(concat(st.acc,
                                       array(element_at(syms, i + 1))) AS acc,
                                false AS skip)
                  END,
                  st -> st.acc
                )
                """
            ).alias("syms"),
        )
        words = applied.localCheckpoint(eager=False)
    return bests, words


_BPE_ENCODE_ORACLE = f"""
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
    {",".join(_bpe_round_sql(f"w{t - 1}", t) for t in range(1, _BPE_ROUNDS + 1))},
    toks AS (
      SELECT u.tok AS token, SUM(w.freq) AS wcount
      FROM w{_BPE_ROUNDS} w, unnest(w.syms) u(tok)
      GROUP BY u.tok
    ),
    ranked AS (
      SELECT token, CAST(wcount AS BIGINT) AS weighted_count,
             CAST(row_number() OVER (ORDER BY wcount DESC, token)
                  AS INT) AS rn
      FROM toks
    )
    SELECT token, weighted_count, rn FROM ranked WHERE rn <= 20
"""


@query("text_bpe_encode", oracle=_BPE_ENCODE_ORACLE, tags=("memo",))
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus under the vocabulary the engine just learned:
    apply text_bpe_train_merges' 4 merges to every word's symbol
    sequence and return the top-20 tokens by corpus-weighted count
    (count desc, token byte-order) — the train→encode round trip of a
    BPE tokenizer, both halves computed by the engine and both
    hash-checked.

    Shares the memoized training pipeline with the merge-table query
    (_bpe_pipeline — the _km_fit memo precedent), so in a shared
    session the 4 rounds run once; standalone, a cache miss re-runs
    the fit. The encode step itself is one explode + one
    partial-aggregated shuffle over the vocab-sized symbol table —
    at 100 TB the corpus never reappears after the initial word
    count."""
    _, words = _bpe_pipeline(spark, sf_dir)
    toks = (
        words.select("freq", F.explode("syms").alias("token"))
        .groupBy("token")
        .agg(F.sum("freq").alias("weighted_count"))
    )
    # bounded-window: the token alphabet is DOMAIN-bounded at any
    # corpus size — ≤26 chars + '</w>' + one merged token per round
    # (≤31 rows total), so the global rank never sees data-sized input
    w = Window.orderBy(F.desc("weighted_count"), F.asc("token"))
    return (
        toks.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 20)
        .select("token", "weighted_count", "rn")
    )


# --------------------------------------------------------------------------
# text_boilerplate_ngrams
# --------------------------------------------------------------------------

#: a trigram is boilerplate when it occurs in ≥ this many distinct docs.
_BP_MIN_DF = 4


@query(
    "text_boilerplate_ngrams",
    oracle=f"""
    WITH tok AS (
      SELECT d.doc_id, d.lang, t.tk AS token, t.pos
      FROM documents d,
           LATERAL (
             SELECT UNNEST(string_split_regex(lower(d.text), '\\s+')) AS tk,
                    UNNEST(range(len(string_split_regex(lower(d.text), '\\s+'))))
                      AS pos
           ) t
      WHERE t.tk <> ''
    ),
    tri AS (
      SELECT doc_id, lang, pos,
             lead(pos, 1) OVER w AS p1,
             lead(pos, 2) OVER w AS p2,
             token || ' '
               || lead(token, 1) OVER w || ' '
               || lead(token, 2) OVER w AS tg
      FROM tok
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      QUALIFY lead(token, 2) OVER w IS NOT NULL
    ),
    boiler AS (
      SELECT tg FROM tri GROUP BY tg
      HAVING COUNT(DISTINCT doc_id) >= {_BP_MIN_DF}
    ),
    spans AS (SELECT t.* FROM tri t JOIN boiler b ON b.tg = t.tg),
    covered AS (
      SELECT DISTINCT doc_id, lang, pos FROM (
        SELECT doc_id, lang, pos FROM spans
        UNION ALL SELECT doc_id, lang, p1 AS pos FROM spans
        UNION ALL SELECT doc_id, lang, p2 AS pos FROM spans
      )
    ),
    base AS (
      SELECT lang, COUNT(DISTINCT doc_id) AS n_docs,
             COUNT(*) AS total_tokens
      FROM tok GROUP BY lang
    ),
    cov AS (SELECT lang, COUNT(*) AS boiler_tokens FROM covered GROUP BY lang),
    gl AS (
      SELECT lang, COUNT(DISTINCT tg) AS n_boiler_grams
      FROM spans GROUP BY lang
    )
    SELECT b.lang, b.n_docs,
           CAST(b.total_tokens AS BIGINT) AS total_tokens,
           CAST(COALESCE(c.boiler_tokens, 0) AS BIGINT) AS boiler_tokens,
           CAST(COALESCE(g.n_boiler_grams, 0) AS BIGINT) AS n_boiler_grams,
           round(COALESCE(c.boiler_tokens, 0)
                 / CAST(b.total_tokens AS DOUBLE), 6) AS boiler_ratio
    FROM base b
    LEFT JOIN cov c ON c.lang = b.lang
    LEFT JOIN gl g ON g.lang = b.lang
    """,
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-span coverage: a word trigram occurring in ≥
    4 distinct documents is 'boilerplate' (the cross-document
    repeated-content signal CCNet/C4 remove at line granularity —
    re-expressed at n-gram granularity for corpora without line
    structure); per language, report how many token POSITIONS sit
    inside at least one boilerplate span — the fraction of the corpus a
    boilerplate-strip pass would delete, which is the go/no-go number
    before running one.

    Coverage is position-exact: each boilerplate occurrence marks its
    three token positions (carried through the lead window, robust to
    dropped empty tokens), and the union of marked positions is
    de-duplicated per document before counting — overlapping spans never
    double-count.

    Determinism: exact integer counting plus one mirrored 6-dp ratio.
    Scale: tokenize is map-only; the document-frequency agg shuffles
    trigram keys with map-side combine; the spans join shuffles on the
    trigram key (fan-out = occurrence count of boilerplate grams only);
    the position union is a per-doc distinct. The window is PARTITIONED
    by doc_id — no global order anywhere."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "lang",
        F.posexplode(F.split(F.lower(F.col("text")), r"\s+")).alias(
            "pos", "token"
        ),
    ).filter(F.col("token") != "")
    w = Window.partitionBy("doc_id").orderBy("pos")
    tri = (
        tok.select(
            "doc_id",
            "lang",
            "pos",
            F.lead("pos", 1).over(w).alias("p1"),
            F.lead("pos", 2).over(w).alias("p2"),
            F.lead("token", 2).over(w).alias("t2"),
            F.concat_ws(
                " ",
                F.col("token"),
                F.lead("token", 1).over(w),
                F.lead("token", 2).over(w),
            ).alias("tg"),
        )
        .filter(F.col("t2").isNotNull())
        .drop("t2")
    )
    boiler = (
        tri.groupBy("tg")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= _BP_MIN_DF)
        .select("tg")
    )
    spans = tri.join(boiler, "tg")
    covered = (
        spans.select("doc_id", "lang", "pos")
        .unionAll(spans.select("doc_id", "lang", F.col("p1").alias("pos")))
        .unionAll(spans.select("doc_id", "lang", F.col("p2").alias("pos")))
        .distinct()
    )
    base = tok.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("total_tokens"),
    )
    cov = covered.groupBy("lang").agg(
        F.count(F.lit(1)).alias("boiler_tokens")
    )
    gl = spans.groupBy("lang").agg(
        F.countDistinct("tg").alias("n_boiler_grams")
    )
    return (
        base.join(cov, "lang", "left")
        .join(gl, "lang", "left")
        .select(
            "lang",
            "n_docs",
            "total_tokens",
            F.coalesce(F.col("boiler_tokens"), F.lit(0))
            .cast("long")
            .alias("boiler_tokens"),
            F.coalesce(F.col("n_boiler_grams"), F.lit(0))
            .cast("long")
            .alias("n_boiler_grams"),
            F.round(
                F.coalesce(F.col("boiler_tokens"), F.lit(0)).cast("double")
                / F.col("total_tokens").cast("double"),
                6,
            ).alias("boiler_ratio"),
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
    tok = _doc_tokens(spark, sf_dir)
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
# text_bpe_compression_by_lang
# --------------------------------------------------------------------------


def _bpe_compression_oracle() -> str:

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

    Rides the session-memoized training pipeline (``_bpe_pipeline`` — shared with the merge-table and encoder
    queries): the per-word segment counts come from the final symbol
    table; this query adds one per-(lang, word) count and one keyed
    join. The oracle replays the full 4-round Sennrich chain (the
    text_bpe_encode precedent).

    Determinism: everything is exact integer counts until two final
    mirrored divisions rounded 6 dp.

    Scale: the (lang, word) count is combiner-reduced to the per-lang
    vocabulary; the join is word-keyed against the |vocab| symbol
    table; output is |langs| rows."""

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
# text_quality_threshold_sweep
# --------------------------------------------------------------------------

#: quality-score cut grid: the text_quality_score formula's n_high used
#: 0.8 in isolation; the sweep brackets it so the cut is chosen off a
#: curve, exactly like dedup_semdedup_eps does for the semantic tier.
_QT_TS = (0.2, 0.4, 0.6, 0.8)
_QT_TS_SQL = ", ".join(repr(t) for t in _QT_TS)

#: the deployed quality formula (text_analysis.text_quality_score),
#: mirrored textually: length saturation + token saturation + space
#: ratio, rounded 6 dp before any threshold comparison.
_QT_SCORE_SQL = """
    scored AS (
      SELECT doc_id, n_chars,
             round(
               0.4 * least(length(text) / 400.0, 1.0)
             + 0.4 * least(len(string_split_regex(lower(text), '\\s+')) / 80.0, 1.0)
             + 0.2 * ((length(text) - length(replace(text, ' ', '')))::DOUBLE
                      / length(text)), 6) AS quality
      FROM documents
    )"""


@query(
    "text_quality_threshold_sweep",
    oracle=f"""
    WITH {_QT_SCORE_SQL},
    ts AS (SELECT UNNEST([{_QT_TS_SQL}]) AS threshold),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    st AS (
      SELECT t.threshold,
             COUNT(s.doc_id) AS n_kept,
             COALESCE(CAST(SUM(s.n_chars) AS BIGINT), 0) AS kept_chars,
             CAST(SUM(CAST(s.quality AS DECIMAL(28,6))) AS DOUBLE) AS qsum
      FROM ts t LEFT JOIN scored s ON s.quality >= t.threshold
      GROUP BY t.threshold
    )
    SELECT st.threshold,
           CAST(st.n_kept AS BIGINT) AS n_kept,
           round(st.n_kept * 1.0 / nd.n, 6) AS retention,
           st.kept_chars,
           CASE WHEN st.n_kept > 0
                THEN round(st.qsum / st.n_kept, 6) END AS mean_quality_kept
    FROM st CROSS JOIN nd
    """,
)
def text_quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter decision curve: for each cut in {0.2, 0.4, 0.6,
    0.8} of the deployed heuristic quality score (text_quality_score's
    length/token/whitespace formula), the documents and characters that
    survive and the mean quality of the survivors — the
    filter-threshold readout a curation team reads next to the SemDeDup
    curve before spending a training run. The standalone 0.8 cut that
    text_quality_score reports sits inside this sweep.

    Scale: scoring is map-only over the documents scan; the sweep is a
    4-row broadcast nested loop (constant build side — the legitimate
    scalar-subquery shape) plus one combiner-reduced aggregate; nothing
    shuffles document text. Determinism: the score rounds at 6 dp
    before any threshold comparison (shared literals → identical
    doubles both engines); counts/chars exact ints; the survivor mean
    is a decimal sum over 6-dp-rounded scores (exact at scale 6 — these
    are 6-dp values, the tie-free case) with one mirrored division."""
    d = table(spark, sf_dir, "documents")
    n_spaces = F.length("text") - F.length(F.regexp_replace(F.col("text"), " ", ""))
    quality = F.round(
        F.lit(0.4) * F.least(F.length("text") / F.lit(400.0), F.lit(1.0))
        + F.lit(0.4)
        * F.least(
            F.size(F.split(F.lower(F.col("text")), r"\s+")) / F.lit(80.0),
            F.lit(1.0),
        )
        + F.lit(0.2) * (n_spaces.cast("double") / F.length("text")),
        6,
    )
    scored = d.select("doc_id", "n_chars", quality.alias("quality"))
    grid = spark.createDataFrame([(t,) for t in _QT_TS], "threshold double")
    nd = d.agg(F.count(F.lit(1)).alias("n"))
    st = (
        F.broadcast(grid)
        .join(scored, scored.quality >= grid.threshold, "left")
        .groupBy("threshold")
        .agg(
            F.count("doc_id").alias("n_kept"),
            F.coalesce(F.sum("n_chars"), F.lit(0))
            .cast("long")
            .alias("kept_chars"),
            F.sum(F.col("quality").cast("decimal(28,6)"))
            .cast("double")
            .alias("qsum"),
        )
    )
    return st.crossJoin(F.broadcast(nd)).select(
        "threshold",
        F.col("n_kept").cast("long").alias("n_kept"),
        F.round(F.col("n_kept") * 1.0 / F.col("n"), 6).alias("retention"),
        "kept_chars",
        F.when(
            F.col("n_kept") > 0, F.round(F.col("qsum") / F.col("n_kept"), 6)
        ).alias("mean_quality_kept"),
    )
