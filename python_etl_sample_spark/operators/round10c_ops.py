"""Round-10c — four surface extensions, each a standard large-corpus
technique the existing families stop just short of:

- ``graph_personalized_pagerank`` — seeded-teleport PageRank (the
  recommendation / graph-feature variant of ``graph_pagerank``), in the
  same exact scaled-integer arithmetic, with the PPR-specific scale win:
  each round's contribution join runs over the REACHED frontier
  (``r > 0``), not the node set.
- ``corpus_temperature_mix`` — square-root temperature sampling weights
  per (lang, source) domain (the T=2 / α=0.5 multilingual-LM sampling
  scheme), complementing ``corpus_mix_weights``'s full equalization.
  sqrt is IEEE-correctly-rounded, so the temperature transform is
  bit-identical across engines — the reason α is 0.5 and not 0.3
  (libm ``pow`` carries no cross-engine guarantee).
- ``text_boilerplate_ngrams`` — corpus-frequent trigram spans and the
  per-language fraction of token positions they cover: the C4/CCNet
  "remove lines repeated across documents" cleanup re-expressed at
  n-gram granularity (this corpus has no line structure).
- ``dedup_minhash_param_sweep`` — the LSH S-curve made driver-visible:
  candidate recall AND candidate volume for four (bands × rows) splits
  of the same 32-permutation signature, the measurement that picks the
  banding geometry before a 100 TB dedup run.

Engine-parity ground rules are inherited: integer arithmetic wherever a
recurrence exists (PPR), the round10_ops cross-engine hash family for
the minhash sweep, exact counts plus one mirrored rounded division for
every ratio.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_sample_spark.operators.graph_analytics import (
    _EDGES_SQL,
    _PR_SCALE,
    _copurchase_edges,
)
from python_etl_sample_spark.operators.round10_ops import (
    _MH_SIG_COLS_SQL,
    _X_CTES,
    _xengine_minhash_sig,
    _xengine_pairs,
    _xengine_shingle_keys,
)
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table

# --------------------------------------------------------------------------
# graph_personalized_pagerank
# --------------------------------------------------------------------------

_PPR_SEEDS = 10
_PPR_ROUNDS = 5
#: teleport mass per seed per round: 0.15 · SCALE / |seeds|, exact.
_PPR_TELE = 15 * _PR_SCALE // (100 * _PPR_SEEDS)
#: initial mass per seed: SCALE / |seeds|, exact.
_PPR_INIT = _PR_SCALE // _PPR_SEEDS


def _ppr_iter_sql(prev: str, cur: str) -> str:
    """One unrolled personalized-PageRank round, scaled-integer exact.
    The frontier prune (``p.r > 0``) drops rows whose contribution is
    identically zero — same result, smaller join, mirrored verbatim."""
    return f"""
    {cur} AS (
      SELECT n.node, n.deg, n.is_seed,
             CAST(n.is_seed * {_PPR_TELE}
                  + (85 * COALESCE(s.contrib, 0)) // 100 AS BIGINT) AS r
      FROM nodes n
      LEFT JOIN (
        SELECT e.dst AS node, SUM(p.r // p.deg) AS contrib
        FROM dir e JOIN {prev} p ON p.node = e.src AND p.r > 0
        GROUP BY e.dst
      ) s ON s.node = n.node
    )"""


@query(
    "graph_personalized_pagerank",
    oracle=f"""
    WITH {_EDGES_SQL},
    dir AS (
      SELECT u AS src, v AS dst FROM edges
      UNION ALL
      SELECT v AS src, u AS dst FROM edges
    ),
    seeds AS (
      SELECT node FROM deg ORDER BY deg DESC, node LIMIT {_PPR_SEEDS}
    ),
    nodes AS (
      SELECT d.node, d.deg,
             CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END AS is_seed
      FROM deg d LEFT JOIN seeds s ON s.node = d.node
    ),
    p0 AS (
      SELECT node, deg, is_seed,
             CAST(is_seed * {_PPR_INIT} AS BIGINT) AS r
      FROM nodes
    ),
    {_ppr_iter_sql("p0", "p1")},
    {_ppr_iter_sql("p1", "p2")},
    {_ppr_iter_sql("p2", "p3")},
    {_ppr_iter_sql("p3", "p4")},
    {_ppr_iter_sql("p4", "p5")}
    SELECT node AS part_id, deg AS degree,
           CAST(is_seed AS INT) AS is_seed, r AS ppr_scaled
    FROM p5 WHERE r > 0
    """,
)
def graph_personalized_pagerank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Personalized PageRank from the 10 highest-degree parts
    (graph_bfs_hops' seed rule) over the co-purchase graph: teleport
    mass returns to the SEED SET each round instead of spreading
    uniformly, so the stationary mass ranks parts by proximity to the
    seeds — the related-items / graph-feature workhorse that global
    PageRank can't express (its ranking is seed-independent).

    Exactness: identical integer scheme to graph_pagerank — rank mass
    as BIGINT ×10^15, truncating per-edge division by degree, the
    (85·Σ) div 100 damping mix mirrored textually — so five rounds are
    bit-equal across engines. Overflow: total mass never exceeds SCALE
    (teleport injects 0.15·SCALE, propagation keeps ≤ 0.85 of what
    exists), so 85·contrib ≤ 8.5e16 ≪ 2^63.

    Scale shape vs graph_pagerank: the contribution join's left side is
    the POSITIVE-mass frontier (``r > 0``), which for few seeds on a
    100 TB graph is a small expanding ball, not the node set — rounds
    cost O(edges touched by the frontier). Output keeps only reached
    nodes (mirrored ``r > 0`` filter): untouched nodes carry no
    information. The whole build is one job — no actions inside the
    loop, ReuseExchange dedupes the repeated edge/degree subtrees (the
    measured graph_pagerank posture; see _copurchase_edges note)."""
    edges = _copurchase_edges(spark, sf_dir)
    dir_edges = edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    deg = (
        dir_edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    seeds = (
        deg.orderBy(F.desc("deg"), F.asc("node"))
        .limit(_PPR_SEEDS)
        .select("node", F.lit(1).alias("s"))
    )
    # one lazy lineage cut: unlike graph_pagerank (whose per-round
    # frames are each consumed once and fuse into one ReuseExchange'd
    # job), the seed-flagged node frame is consumed by EVERY round's
    # base term and join domain, and its TakeOrdered(seeds) subtree is
    # not exchange-reusable across those differently-pruned branches.
    # Probe (sf0.1, 5 reps): 2.85 re-derived → 2.69 cut solo, 1.99 in a
    # graph-warm session vs graph_pagerank's 1.15 — the remaining delta
    # is the checkpoint job + seed fit + per-round nodes join, the PPR
    # structure itself.
    nodes = deg.join(F.broadcast(seeds), "node", "left").select(
        "node", "deg", F.coalesce(F.col("s"), F.lit(0)).alias("is_seed")
    ).localCheckpoint(eager=False)
    ranks = nodes.select(
        "node",
        "deg",
        "is_seed",
        (F.col("is_seed").cast("bigint") * F.lit(_PPR_INIT)).alias("r"),
    )
    for _ in range(_PPR_ROUNDS):
        contrib = (
            ranks.filter(F.col("r") > 0)
            .join(dir_edges, F.col("node") == F.col("src"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.expr("sum(r div deg)").alias("contrib"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            "deg",
            "is_seed",
            (
                F.col("is_seed").cast("bigint") * F.lit(_PPR_TELE)
                + F.expr("CAST((85 * coalesce(contrib, 0)) div 100 AS BIGINT)")
            ).alias("r"),
        )
    return ranks.filter(F.col("r") > 0).select(
        F.col("node").alias("part_id"),
        F.col("deg").alias("degree"),
        F.col("is_seed").cast("int").alias("is_seed"),
        F.col("r").alias("ppr_scaled"),
    )


# --------------------------------------------------------------------------
# corpus_temperature_mix
# --------------------------------------------------------------------------


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
    d = table(spark, sf_dir, "documents")
    per = d.groupBy("lang", "source").agg(
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
    return sq.crossJoin(F.broadcast(z)).select(
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
# dedup_minhash_param_sweep
# --------------------------------------------------------------------------

#: the four (bands × rows-per-band) splits of the 32-permutation
#: signature: from strict/low-recall (2×16) to loose/high-recall (16×2).
_SWEEP = ((2, 16), (4, 8), (8, 4), (16, 2))


def _band_key_idx_sql(prefix: str, idxs: range) -> str:
    """Fold an arbitrary run of per-row minima into one band key — the
    generalization of round10_ops._band_key_sql to any rows-per-band.
    Same overflow audit: acc < 2³¹ keeps acc·1048573 < 2.3e15."""
    expr = "CAST(0 AS BIGINT)"
    for i in idxs:
        expr = f"(({expr}) * 1048573 + {prefix}{i}) % 2147483647"
    return expr


#: one stacked long frame over ALL configs: (cfg, band, key) rows folded
#: map-side from the signature columns — 30 branches, one self-join.
_SWEEP_LNG_SQL = "\n      UNION ALL ".join(
    f"SELECT doc_id, '{bands}x{rows}' AS cfg, {b} AS band,"
    f" {_band_key_idx_sql('h', range(b * rows, (b + 1) * rows))} AS bk"
    f" FROM sig"
    for bands, rows in _SWEEP
    for b in range(bands)
)
_SWEEP_META_SQL = "\n      UNION ALL ".join(
    f"SELECT '{bands}x{rows}' AS cfg, {bands} AS bands,"
    f" {rows} AS rows_per_band"
    for bands, rows in _SWEEP
)


def _xengine_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ≥ 0.8 ground-truth pairs over the cross-engine
    shingle keys (the numerator/denominator frames are the round10_ops
    session memos, so this is two broadcast-sized joins plus a filter)."""
    keys = _xengine_shingle_keys(spark, sf_dir)
    pairs = _xengine_pairs(spark, sf_dir)
    sizes = keys.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= 0.8)
        .select("doc_a", "doc_b")
    )


@query(
    "dedup_minhash_param_sweep",
    oracle=f"""
    WITH {_X_CTES},
    sig AS MATERIALIZED (
      SELECT doc_id,
             {_MH_SIG_COLS_SQL}
      FROM xk GROUP BY doc_id
    ),
    truth AS MATERIALIZED (
      -- MATERIALIZED (r14): truth is consumed by the stats join AND
      -- two scalar COUNT(*) subqueries — inlined, the whole inverted-
      -- index chain would re-evaluate three times (sf1 memory)
      SELECT doc_a, doc_b
      FROM xinter
      JOIN xsizes sa ON sa.doc_id = doc_a
      JOIN xsizes sb ON sb.doc_id = doc_b
      WHERE n_inter / (sa.n + sb.n - n_inter) >= 0.8
    ),
    lng AS MATERIALIZED (
      {_SWEEP_LNG_SQL}
    ),
    cand AS (
      SELECT DISTINCT a.cfg, a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM lng a JOIN lng b
        ON a.cfg = b.cfg AND a.band = b.band AND a.bk = b.bk
       AND a.doc_id < b.doc_id
    ),
    stats AS (
      SELECT c.cfg,
             COUNT(*) AS n_candidates,
             CAST(SUM(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_caught
      FROM cand c
      LEFT JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
      GROUP BY c.cfg
    ),
    meta AS (
      {_SWEEP_META_SQL}
    )
    SELECT m.cfg, m.bands, m.rows_per_band,
           (SELECT COUNT(*) FROM truth) AS n_truth,
           CAST(COALESCE(s.n_caught, 0) AS BIGINT) AS n_caught,
           round(COALESCE(s.n_caught, 0)
                 / CAST((SELECT COUNT(*) FROM truth) AS DOUBLE), 6) AS recall,
           CAST(COALESCE(s.n_candidates, 0) AS BIGINT) AS n_candidates
    FROM meta m LEFT JOIN stats s ON s.cfg = m.cfg
    """,
    tags=("memo",),
)
def dedup_minhash_param_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The LSH banding S-curve as data: for four splits of the same
    32-permutation minhash signature — 2×16, 4×8, 8×4, 16×2 — the
    candidate recall against exact Jaccard ≥ 0.8 ground truth AND the
    candidate-pair volume the verifier must then score. This is the
    measurement that tunes a 100 TB dedup: recall rises monotonically
    with more/shorter bands (collision prob 1−(1−J^r)^b) while candidate
    volume — the run's actual cost — rises with it; the operator choice
    is the knee. The deployed 4×8 geometry (dedup_near_minhash) sits
    inside the sweep, so its recall is now bracketed by driver-visible
    alternatives, not asserted in isolation.

    All four geometries fold band keys from ONE session-memoized
    signature frame (round10_ops._xengine_minhash_sig — the agg runs
    once, the folds are map-side column expressions) into ONE stacked
    (cfg, band, key) long frame; candidates come from ONE bucket
    aggregation of that frame (pairs expand locally inside each
    bucket — fan-out is bucket occupancy, never an all-pairs product),
    then one distinct, one truth-flag left join, and one
    combiner-reduced groupBy(cfg). The first cut ran each config as
    its own candidate frame + three aggregates (12 jobs of barrier
    overhead, every candidate frame evaluated twice); stacking
    collapsed that to one chain, and round 12 replaced the stacked
    self-join (which shuffled the long frame twice) with the bucket
    pre-aggregation — see the inline probe note. Ground
    truth reuses the memoized inverted-index pair frame. Every count
    is exact; recall is the one mirrored 6-dp division.

    Expected shape (Broder's analysis at J = 0.95): per-band collision
    prob 0.95^16 ≈ 0.44 (2×16) → P(caught) ≈ 0.69; 0.95⁸ ≈ 0.66 (4×8)
    → ≈ 0.987; ≈ 1.0 by 8×4 — while 16×2's bucket keys are weak enough
    to start admitting non-dup candidates: the S-curve's two tails."""
    sig = _xengine_minhash_sig(spark, sf_dir)
    truth = _xengine_truth(spark, sf_dir)
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))

    # ONE stacked long frame over all 4 geometries: 30 (cfg, band, key)
    # rows per doc, folded map-side from the persisted signature columns
    entries = [
        F.struct(
            F.lit(f"{bands}x{rows}").alias("cfg"),
            F.lit(b).alias("band"),
            F.expr(
                _band_key_idx_sql("h", range(b * rows, (b + 1) * rows))
            ).alias("bk"),
        )
        for bands, rows in _SWEEP
        for b in range(bands)
    ]
    lng = sig.select(
        "doc_id", F.explode(F.array(*entries)).alias("e")
    ).select(
        "doc_id",
        F.col("e.cfg").alias("cfg"),
        F.col("e.band").alias("band"),
        F.col("e.bk").alias("bk"),
    )
    # bucket pre-aggregation (round-12 probe, VERDICT r11 item 4): one
    # shuffle of the stacked frame into (cfg, band, bk) buckets, then
    # LOCAL pair expansion over each bucket's sorted doc list — the
    # former self-join shuffled the long frame TWICE (both join sides)
    # to land the same bucket's rows in the same task anyway.
    # Interleaved sf0.1 probe: join 3.70 s vs bucketed 2.68 s warm-min,
    # values identical. Memory/skew posture unchanged at 100 TB: a
    # bucket's pairs were already co-resident in the join form (hash
    # by bucket key), and occupancy is banding-geometry/df-bounded;
    # sort_array gives doc_a < doc_b by construction. The HOF pair
    # expansion runs interpreted (the round-11 lesson), but over
    # candidate-bounded bucket lists, not per-corpus-row data.
    buckets = (
        lng.groupBy("cfg", "band", "bk")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    cand = (
        buckets.select(
            "cfg",
            F.explode(
                F.expr(
                    "flatten(transform(ds, (a, i) -> "
                    "transform(slice(ds, i + 2, size(ds) - i - 1), "
                    "b -> struct(a AS doc_a, b AS doc_b))))"
                )
            ).alias("p"),
        )
        .select(
            "cfg",
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
        )
        .distinct()
    )
    # one pass computes both counts: tag each candidate with its truth
    # membership, then a single combiner-reduced groupBy(cfg)
    stats = (
        cand.join(
            truth.select("doc_a", "doc_b", F.lit(1).alias("is_truth")),
            ["doc_a", "doc_b"],
            "left",
        )
        .groupBy("cfg")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum(F.coalesce(F.col("is_truth"), F.lit(0)))
            .cast("long")
            .alias("n_caught"),
        )
    )
    # literal 4-row frame built relationally (no createDataFrame: keeps
    # the whole query a pure plan over registered sources) — via ONE
    # explode over the n_truth scalar, not a 4-branch unionAll. The
    # union form embedded the n_truth aggregate subtree once per branch,
    # and `truth` ends in broadcast joins (no Exchange), so runtime
    # exchange reuse could not dedupe it: the truth chain re-executed
    # ~5x (4 meta branches + the stats join). r15 interleaved A/B:
    # 3.14 -> 1.23 s floor (0.39x), values identical; persisting truth
    # instead measured no better than the explode (guide §5's "persist
    # only when recomputation exceeds the cache cost").
    metas = F.array(
        *[
            F.struct(
                F.lit(f"{bands}x{rows}").alias("cfg"),
                F.lit(bands).alias("bands"),
                F.lit(rows).alias("rows_per_band"),
            )
            for bands, rows in _SWEEP
        ]
    )
    meta = n_truth.select(F.explode(metas).alias("m"), "n_truth").select(
        F.col("m.cfg").alias("cfg"),
        F.col("m.bands").alias("bands"),
        F.col("m.rows_per_band").alias("rows_per_band"),
        "n_truth",
    )
    return meta.join(stats, "cfg", "left").select(
        "cfg",
        "bands",
        "rows_per_band",
        "n_truth",
        F.coalesce(F.col("n_caught"), F.lit(0)).cast("long").alias("n_caught"),
        F.round(
            F.coalesce(F.col("n_caught"), F.lit(0)).cast("double")
            / F.col("n_truth").cast("double"),
            6,
        ).alias("recall"),
        F.coalesce(F.col("n_candidates"), F.lit(0))
        .cast("long")
        .alias("n_candidates"),
    )
