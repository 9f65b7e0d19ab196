"""Text analysis over documents — SURVEY.md §2.10 ops #63-65 plus
language-ID / quality-scoring / fingerprinting extensions (the
operations a large-scale training-data pipeline needs).

All JVM-side built-ins (split/explode/groupBy) — tokenization at 100 TB
is a map-only stage; term statistics are one shuffle on (key, token).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

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
