"""Round-7 batch 13 — completing the evaluation suite and graph-based
keyword extraction:

- ``ml_pr_auc``: exact average precision (PR-AUC, the sklearn
  step-interpolated definition) over the score histogram — the
  imbalanced-label complement to ml_roc_auc (ROC-AUC stays near 1 on
  a 99:1 label while AP collapses, which is why pipelines report
  both).
- ``ml_ndcg_retrieval``: NDCG@10 of the BM25 ranking per probe with
  graded relevance = number of matched probe terms — the standard
  ranking-quality audit, sharing the exact BM25 scoring pipeline.
- ``ml_threshold_sweep``: the operating-point table — confusion
  counts, precision, recall, F1 at the nine score-decile thresholds —
  the readout that turns a scored population into a deployable
  cutoff.
- ``text_textrank_keywords``: TextRank (Mihalcea & Tarau 2004) —
  corpus-level keyword extraction via damped PageRank over the
  content-word adjacency graph, the graph-based complement to RAKE's
  degree/frequency heuristic.

Determinism: AP terms are single divisions of exact cumulative
integers rounded at 12 dp into decimal sums; NDCG gains are exact
2^rel − 1 integers with log2 discounts rounded per term; confusion
counts are exact with F1 = 2TP/(2TP+FP+FN) one division; TextRank
iterations round each edge contribution at 12 dp into decimal sums
and each score at 9 dp (the LPA/PageRank unrolled-replay pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_sample_spark.functions.total_order import attach_global_order
from python_etl_sample_spark.operators.round7_ops import (
    _BM25_CTES,
    _bm25_scored,
    text_bm25_rank,
)
from python_etl_sample_spark.operators.round7e_ops import (
    _RAKE_STOP,
    _RAKE_STOP_SQL,
)
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table

_SCENTS = "CAST(round(o_totalprice * 100) AS BIGINT)"
_YPOS = "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END"
_DEC38 = "decimal(38,0)"


# ---------------------------------------------------------------------------
# ml_pr_auc
# ---------------------------------------------------------------------------


@query(
    "ml_pr_auc",
    oracle=f"""
    WITH base AS (
      SELECT {_SCENTS} AS score, {_YPOS} AS y FROM orders
    ),
    h AS (SELECT score, COUNT(*) AS cnt, SUM(y) AS pos
          FROM base GROUP BY score),
    r AS (
      SELECT cnt, pos,
             SUM(cnt) OVER w AS cumcnt, SUM(pos) OVER w AS cumpos
      FROM h
      WINDOW w AS (ORDER BY score DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    agg AS (
      SELECT SUM(CAST(round(CAST(pos AS DECIMAL(38,0)) * cumpos / cumcnt,
                            12) AS DECIMAL(28,14))) AS apnum,
             SUM(CAST(pos AS DECIMAL(38,0))) AS n1,
             SUM(CAST(cnt AS DECIMAL(38,0))) AS n
      FROM r
    )
    SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n - n1 AS BIGINT) AS n_neg,
           CASE WHEN n1 > 0
                THEN round(CAST(apnum AS DOUBLE) / CAST(n1 AS DOUBLE), 6)
                END AS pr_auc,
           CASE WHEN n > 0
                THEN round(CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE), 6)
                END AS baseline
    FROM agg
    """,
)
def ml_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact average precision (PR-AUC) of the order-value score
    against the urgent/high label: AP = Σ_t (R_t − R_{t−1})·P_t over
    every distinct-score threshold, descending — sklearn's
    average_precision_score definition, which with ties collapses to
    Σ pos_t·(cumpos_t/cumcnt_t)/n₁ over the score HISTOGRAM. Reported
    with the no-skill baseline n₁/n: unlike ROC-AUC (whose no-skill is
    always 0.5), AP must be read against the label prevalence — the
    reason imbalanced-label evaluation reports PR, not ROC.

    Scale: identical shape to ml_roc_auc — one groupBy to the
    value-domain-bounded score histogram, the total-order kernel's
    cumulative sums over distinct scores (never rows), one reduction.

    Determinism: cumcnt/cumpos/pos are exact integers; each
    threshold's pos·cumpos/cumcnt is ONE division rounded at 12 dp
    into an order-free decimal sum; AP divides by n₁ once, 6 dp."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.expr(_SCENTS).alias("score"), F.expr(_YPOS).alias("y")
    )
    h = base.groupBy("score").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    )
    r = attach_global_order(
        h,
        [F.desc("score")],
        cumsums=[("cnt", "cumcnt"), ("pos", "cumpos")],
    )
    term = F.round(
        F.col("pos").cast(_DEC38) * F.col("cumpos") / F.col("cumcnt"), 12
    ).cast("decimal(28,14)")
    agg = r.agg(
        F.sum(term).alias("apnum"),
        F.sum(F.col("pos").cast(_DEC38)).alias("n1"),
        F.sum(F.col("cnt").cast(_DEC38)).alias("n"),
    )
    n1, n = F.col("n1"), F.col("n")
    return agg.select(
        n1.cast("long").alias("n_pos"),
        (n - n1).cast("long").alias("n_neg"),
        F.when(
            n1 > 0,
            F.round(F.col("apnum").cast("double") / n1.cast("double"), 6),
        ).alias("pr_auc"),
        F.when(
            n > 0, F.round(n1.cast("double") / n.cast("double"), 6)
        ).alias("baseline"),
    )


# ---------------------------------------------------------------------------
# ml_ndcg_retrieval
# ---------------------------------------------------------------------------

_NDCG_K = 10


@query(
    "ml_ndcg_retrieval",
    oracle=f"""
    WITH {_BM25_CTES},
    ranked AS (
      SELECT probe_id, n_terms,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY bm25 DESC, doc_id) AS rn
      FROM scored
    ),
    ideal AS (
      SELECT probe_id, n_terms,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY n_terms DESC, doc_id) AS rn
      FROM scored
    ),
    dcg AS (
      SELECT probe_id,
             CAST(SUM(CAST(round((power(2.0, n_terms) - 1.0)
                                 / log2(rn + 1.0), 9)
                           AS DECIMAL(28,12))) AS DOUBLE) AS dcg
      FROM ranked WHERE rn <= {_NDCG_K} GROUP BY probe_id
    ),
    idcg AS (
      SELECT probe_id,
             CAST(SUM(CAST(round((power(2.0, n_terms) - 1.0)
                                 / log2(rn + 1.0), 9)
                           AS DECIMAL(28,12))) AS DOUBLE) AS idcg
      FROM ideal WHERE rn <= {_NDCG_K} GROUP BY probe_id
    )
    SELECT d.probe_id, round(d.dcg, 6) AS dcg, round(i.idcg, 6) AS idcg,
           CASE WHEN i.idcg > 0 THEN round(d.dcg / i.idcg, 6) END AS ndcg
    FROM dcg d JOIN idcg i ON i.probe_id = d.probe_id
    """,
    tags=("memo",),
)
def ml_ndcg_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the BM25 ranking per probe, with graded relevance =
    the number of distinct probe terms the document matches (1..3):
    DCG = Σ (2^rel − 1)/log2(rank+1) over the BM25 top-10, IDCG the
    same sum over the relevance-ideal ordering of ALL candidate
    documents, NDCG their ratio. The standard ranking-quality audit —
    it answers whether the scorer actually puts the most-relevant
    documents first, independent of the scorer's own scale.

    Scale: shares the exact BM25 scoring pipeline (_bm25_scored — the
    candidate frame is already pruned to documents matching ≥1 probe
    term); both rankings are per-probe windows over that candidate
    frame, and each per-probe sum touches ≤10 rows.

    Determinism: gains 2^rel − 1 are exact small integers; each
    discount term rounds at 9 dp into a ≤10-term decimal sum; the
    final ratio is one division rounded at 6 dp (ties in either
    ranking are value-identical, so the top-10 gain multiset — and
    both sums — are tie-order-independent only where tied ranks share
    a relevance; the doc_id tie-break pins the rest).

    Warm-up tag ``memo``: ``_bm25_scored`` is a session memo shared with
    ``text_bm25_rank``."""
    scored = _bm25_scored(spark, sf_dir)
    gain = F.pow(F.lit(2.0), F.col("n_terms")) - 1.0
    wr = Window.partitionBy("probe_id").orderBy(
        F.desc("bm25"), F.asc("doc_id")
    )
    wi = Window.partitionBy("probe_id").orderBy(
        F.desc("n_terms"), F.asc("doc_id")
    )

    def dsum_terms(w, out):
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _NDCG_K)
            .groupBy("probe_id")
            .agg(
                F.sum(
                    F.round(gain / F.log2(F.col("rn") + 1.0), 9).cast(
                        "decimal(28,12)"
                    )
                )
                .cast("double")
                .alias(out)
            )
        )

    dcg = dsum_terms(wr, "dcg")
    idcg = dsum_terms(wi, "idcg")
    return dcg.join(idcg, "probe_id").select(
        "probe_id",
        F.round("dcg", 6).alias("dcg"),
        F.round("idcg", 6).alias("idcg"),
        F.when(
            F.col("idcg") > 0, F.round(F.col("dcg") / F.col("idcg"), 6)
        ).alias("ndcg"),
    )


# ---------------------------------------------------------------------------
# ml_threshold_sweep
# ---------------------------------------------------------------------------


@query(
    "ml_threshold_sweep",
    oracle=f"""
    WITH base AS (
      SELECT {_SCENTS} AS score, {_YPOS} AS y FROM orders
    ),
    h AS (SELECT score, COUNT(*) AS cnt, SUM(y) AS pos
          FROM base GROUP BY score),
    r AS (
      SELECT score, cnt, pos,
             SUM(cnt) OVER w AS cumcnt, SUM(pos) OVER w AS cumpos
      FROM h
      WINDOW w AS (ORDER BY score DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    tot AS (SELECT SUM(cnt) AS n, SUM(pos) AS n1 FROM h),
    ks AS (SELECT UNNEST([1,2,3,4,5,6,7,8,9]) AS k),
    hit AS (
      SELECT ks.k, r.score, r.cumcnt, r.cumpos, tot.n, tot.n1
      FROM r CROSS JOIN tot JOIN ks
        ON r.cumcnt >= CAST(ceil(ks.k * tot.n / 10.0) AS BIGINT)
       AND r.cumcnt - r.cnt < CAST(ceil(ks.k * tot.n / 10.0) AS BIGINT)
    )
    SELECT k AS decile,
           round(CAST(score AS DOUBLE) / 100.0, 2) AS threshold,
           CAST(cumpos AS BIGINT) AS tp,
           CAST(cumcnt - cumpos AS BIGINT) AS fp,
           CAST(n1 - cumpos AS BIGINT) AS fn,
           CAST(n - cumcnt - (n1 - cumpos) AS BIGINT) AS tn,
           round(CAST(cumpos AS DOUBLE) / cumcnt, 6) AS precision,
           CASE WHEN n1 > 0
                THEN round(CAST(cumpos AS DOUBLE) / n1, 6) END AS recall,
           round(CAST(2 * cumpos AS DOUBLE)
                 / (2 * cumpos + (cumcnt - cumpos) + (n1 - cumpos)), 6)
             AS f1
    FROM hit
    """,
)
def ml_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point sweep: confusion counts and precision / recall
    / F1 when the classifier flags the top k×10% of scores, for
    k = 1..9 — the table that turns a scored population into a
    deployable threshold (pick the row whose precision/recall
    trade-off fits the budget). Thresholds are the exact score-decile
    boundaries; because the cut is 'score ≥ boundary', each reported
    row also shows the realized threshold value.

    Scale: the same histogram + total-order-kernel cumulative shape
    as ml_roc_auc / ml_pr_auc; the nine decile ranks broadcast-join
    against the histogram row that brackets each rank. Distinct
    scores, never rows, carry the rank arithmetic.

    Determinism: every confusion cell is exact integer arithmetic on
    cumulative counts; F1 = 2TP/(2TP+FP+FN) is ONE division of exact
    integers, rounded at 6 dp."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.expr(_SCENTS).alias("score"), F.expr(_YPOS).alias("y")
    )
    # persist (r14): the histogram feeds the prefix-sum kernel and the
    # n/n1 totals — one orders scan + groupBy, not two
    h = base.groupBy("score").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    ).persist()
    r = attach_global_order(
        h,
        [F.desc("score")],
        cumsums=[("cnt", "cumcnt"), ("pos", "cumpos")],
    )
    tot = h.agg(F.sum("cnt").alias("n"), F.sum("pos").alias("n1"))
    ks = spark.createDataFrame([(k,) for k in range(1, 10)], "k int")
    rank_k = F.ceil(F.col("k") * F.col("n") / 10.0).cast("bigint")
    hit = (
        r.crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(ks),
            (F.col("cumcnt") >= rank_k)
            & (F.col("cumcnt") - F.col("cnt") < rank_k),
        )
    )
    tp = F.col("cumpos")
    fp = F.col("cumcnt") - F.col("cumpos")
    fn = F.col("n1") - F.col("cumpos")
    tn = F.col("n") - F.col("cumcnt") - (F.col("n1") - F.col("cumpos"))
    return hit.select(
        F.col("k").alias("decile"),
        F.round(F.col("score").cast("double") / 100.0, 2).alias("threshold"),
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        tn.cast("long").alias("tn"),
        F.round(tp.cast("double") / F.col("cumcnt"), 6).alias("precision"),
        F.when(
            F.col("n1") > 0, F.round(tp.cast("double") / F.col("n1"), 6)
        ).alias("recall"),
        F.round(
            (2 * tp).cast("double") / (2 * tp + fp + fn), 6
        ).alias("f1"),
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
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), r"\s+")).alias(
            "pos", "token"
        ),
    ).filter(F.col("token") != "")
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
    # frames — graph_bfs_hops' measured rule (round7c_ops.py): the
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
