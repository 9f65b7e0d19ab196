"""Round-10b — families the surface still lacked, all fully
hash-checkable by construction:

- ``graph_hits_scores``: HITS hubs & authorities — the one classic
  fixed-point graph ranking missing next to PageRank / LPA / k-core /
  harmonic centrality. Unlike those, HITS is defined on a DIRECTED
  bipartite relation, so it runs on the customer→supplier shipment
  graph rather than the undirected co-purchase projection. The same
  exact-replay discipline as ``graph_pagerank``
  (graph_analytics.py:240): score mass is a scaled BIGINT and the
  per-half-step L1 normalization is a widened integer multiply-divide
  (``DECIMAL(38,0)`` in Spark ≡ ``HUGEINT`` in DuckDB — division
  semantics verified identical on positive operands), so four
  hub/authority rounds are BIT-equal across engines, not "close".

- ``sim_pq_adc``: product-quantization ANN with asymmetric distance
  computation — the canonical billion-scale vector-compression pattern
  (Jégou et al., PQ) missing next to the LSH / IVF tiers. The two
  engine-specific pieces that force sim_ann_lsh/sim_ann_ivf to be
  rows-only are replaced by deterministic constructions: the codebook
  is the subvectors of the 16 lowest-``vec_id`` corpus rows (the
  sample-as-codebook move, same class as the IVF quantizer's bounded
  sample), and every distance is 9-dp-rounded then scaled to an exact
  BIGINT before any argmin / ordering decision — so the WHOLE
  approximate tier (codebook, codes, lookup tables, ADC scan, top-k)
  replays in DuckDB and lands as a driver hash row. PQ is thereby the
  first ANN family here whose *output* (not just its recall) is
  oracle-checked.

- ``sim_pq_ivf_adc``: the IVFADC composition — the deterministic
  Lloyd quantizer's inverted lists (round7_ops._km_fit, already
  SQL-replayed by five other queries) bound the candidate set, the PQ
  ADC scan ranks the survivors. FAISS's IndexIVFPQ, the standard
  billion-scale ANN layout, hash-checked end to end.

- ``text_bpe_train_merges``: the BPE *training* inner loop as a corpus
  operator — weighted max-pair selection and leftmost-greedy merges
  over the word-frequency table, pinned against a pure-Python Sennrich
  replay in tests and replayed set-wise in SQL (gaps-and-islands
  parity for the greedy apply).

Scale postures are documented per query; none plans a cartesian
(PLANS.md regenerates over the full surface) and none collects
anything data-sized to the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_sample_spark.cache import cached_df
from python_etl_sample_spark.operators.round7_ops import (
    _KM_ROUNDS,
    _km_centroid_literal,
    _km_ctes,
    _km_dist_sql,
    _km_fit,
)
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table

# --------------------------------------------------------------------------
# graph_hits_scores
# --------------------------------------------------------------------------

#: HITS score mass is tracked as scaled-integer trillionths (1e12).
#: Renormalized hub scores are int64; between renorms (see
#: _HITS_RENORM_EVERY) the raw half-step sums run widened —
#: DECIMAL(38,0) in Spark ≡ HUGEINT in DuckDB — with the range audit
#: in the loop comment.
_HITS_SCALE = 1_000_000_000_000
_HITS_ROUNDS = 4

_HITS_EDGES_SQL = """
    e AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate >= DATE '1995-01-01'
        AND l.l_shipdate < DATE '1996-01-01'
    ),
    outdeg AS (SELECT c, COUNT(*) AS deg FROM e GROUP BY c),
    indeg  AS (SELECT s, COUNT(*) AS deg FROM e GROUP BY s)
"""


#: hub renormalization cadence: every 2nd round (rounds 2 and 4).
#: Round-11 probe shoot-out (same session, sf0.1, 4 reps each):
#: every-round renorm (the round-10 shipped form) min 2.616 s;
#: every-2-rounds min 2.393 s; NO mid-loop renorm (pure wide-integer
#: loop, zero barriers) min 2.908 s — barrier removal does NOT pay
#: once the unrenormalized stretch forces widened aggregation all the
#: way down, so the half-cadence is the measured optimum: it drops two
#: broadcast-total AQE stages and two lineage cuts while keeping the
#: widened stretch to two half-steps.
_HITS_RENORM_EVERY = 2

def _hits_maxdeg_bound(renorm_every: int) -> int:
    """Audited DECIMAL(38,0)/HUGEINT headroom on max degree for a
    given renorm cadence. Between renorms the raw sums grow by at most
    one maxdeg factor per hub half-step, so at the renorm the widened
    product ``raw · SCALE`` is bounded by maxdeg^(2·cadence−1) · 10²⁴;
    it must stay under 10³⁸, i.e. maxdeg ≤ 10^(14 / (2·cadence−1)).
    Cadence 1 restores the round-10 ~10¹⁴ headroom; the shipped
    cadence 2 gives ~4.6·10⁴. Beyond the bound Spark's non-ANSI
    decimal arithmetic silently yields NULL (DuckDB's HUGEINT at least
    errors), so graph_hits_scores asserts max(outdeg, indeg) against
    this bound AT EXECUTION TIME — a ``raise_error`` folded into the
    already-broadcast scalar aggregate, zero extra stages. A hot-node
    graph at cluster scale fails loudly with the remediation (set
    _HITS_RENORM_EVERY = 1) rather than shipping silently-NULL hub
    scores; the bound is recomputed from the ACTIVE cadence so the
    remediation actually unlocks the wider headroom
    (tests/test_round13_ops.py pins both the trip and the fallback)."""
    return int(10 ** (14 / (2 * renorm_every - 1)))


def _hits_round_sql(prev_h: str, t: int) -> str:
    """One unrolled HITS round in HUGEINT: authority half-step, hub
    half-step, and — on renorm rounds only — the exact L1
    renormalization ``(raw · SCALE) // total`` (per-node flooring only,
    so each role's mass is SCALE minus < 1 unit per node — the test
    invariant). Range audit under the 2-round cadence is in the Spark
    loop comment; the Spark side computes the identical expression, so
    every half-step is bit-equal across engines."""
    body = f"""
    a{t}r AS MATERIALIZED (
      SELECT e.s, SUM(h.h::HUGEINT) AS raw
      FROM e JOIN {prev_h} h ON h.c = e.c GROUP BY e.s
    ),
    h{t}r AS MATERIALIZED (
      SELECT e.c, SUM(a.raw) AS raw
      FROM e JOIN a{t}r a ON a.s = e.s GROUP BY e.c
    )"""
    if t % _HITS_RENORM_EVERY == 0:
        return body + f""",
    h{t}t AS (SELECT SUM(raw) AS t FROM h{t}r),
    h{t} AS MATERIALIZED (
      SELECT c, CAST((raw * {_HITS_SCALE}) // (SELECT t FROM h{t}t)
                     AS BIGINT) AS h
      FROM h{t}r
    )"""
    return body + f""",
    h{t} AS (SELECT c, raw AS h FROM h{t}r)"""


@query(
    "graph_hits_scores",
    oracle=f"""
    WITH {_HITS_EDGES_SQL},
    h0 AS (
      SELECT c, CAST({_HITS_SCALE} // (SELECT COUNT(*) FROM outdeg)
                     AS BIGINT) AS h
      FROM outdeg
    ),
    {",".join(_hits_round_sql(f"h{t - 1}", t) for t in range(1, _HITS_ROUNDS + 1))},
    aft AS (SELECT SUM(raw) AS t FROM a{_HITS_ROUNDS}r),
    af AS (
      SELECT s, CAST((raw * {_HITS_SCALE}) // (SELECT t FROM aft)
                     AS BIGINT) AS a
      FROM a{_HITS_ROUNDS}r
    )
    SELECT 'hub' AS role, h.c AS node_id, d.deg AS degree,
           h.h AS score_scaled
    FROM h{_HITS_ROUNDS} h JOIN outdeg d ON d.c = h.c
    UNION ALL
    SELECT 'authority' AS role, a.s AS node_id, d.deg AS degree,
           a.a AS score_scaled
    FROM af a JOIN indeg d ON d.s = a.s
    """,
)
def graph_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS over the directed customer→supplier shipment
    graph (an edge when some 1995-shipped order links the two): four
    mutual-reinforcement rounds — authority(s) = Σ hub(c) over
    in-edges, hub(c) = Σ authority(s) over out-edges — with the hub
    side L1-renormalized every SECOND round and the authority side
    renormalized once at output (normalization frequency is a free
    choice in HITS; the half-cadence is the round-11 probe-measured
    optimum — see _HITS_RENORM_EVERY — dropping two broadcast-total
    AQE stages and two lineage cuts vs the every-round form, floor
    2.62 → 2.39 s in the shoot-out, with the zero-renorm form the
    measured counter-example at 2.91 s), returning every node's final
    scaled score (mass 10¹² per role) and its degree.

    Exactness by design: scores are integers; unrenormalized stretches
    sum in DECIMAL(38,0) (DuckDB mirrors in HUGEINT), and each
    renormalization is ``(raw · 10¹²) div total`` with the product
    range-audited for the cadence (see the loop comment); the two
    engines' truncating division was verified identical on positive
    operands — so every half-step is bit-equal across engines.
    Every customer has ≥1 out-edge and every supplier ≥1 in-edge by
    construction, so there is no dangling mass and inner joins suffice.

    Scale (100 TB): the 1995 ship-date range predicate is a raw-column
    comparison, pushed to the parquet scan with row-group pruning (the
    graph_pagerank precedent). Each half-step is one equi-join of the
    edge list with a node-score frame plus one partial-aggregated
    shuffle on the receiving key; normalization totals ride in as
    broadcast scalars. Unlike graph_pagerank (whose rounds use each
    intermediate ONCE, so a single job + ReuseExchange wins — see
    _copurchase_edges' counter-measurement), every HITS half-step
    consumes its raw-sum frame TWICE (the total and the renormalize),
    which would double the logical plan per half-step — ~4⁴ copies of
    the edge subtree by round 4, an analyzer blow-up, not just
    redundant exchanges. The raw frames therefore take the LPA /
    TextRank lazy-localCheckpoint treatment (functions/components.py
    precedent): lineage is cut at each node-sized raw-sum frame, so
    plan size stays linear in rounds. On a real cluster the edge list
    and score frames co-bucket on node id, making every round a
    zero-exchange join."""
    def _edges() -> DataFrame:
        li = (
            table(spark, sf_dir, "lineitem")
            .filter(
                (F.col("l_shipdate") >= F.lit("1995-01-01"))
                & (F.col("l_shipdate") < F.lit("1996-01-01"))
            )
            .select("l_orderkey", "l_suppkey")
        )
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select(
                F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
            )
            .distinct()
        )

    # the lineage cuts below make each half-step a separate
    # materialization, so the edge list is consumed across JOBS (9×) —
    # exactly the CC-kernel case where persisting the derived graph is
    # the measured-right call (vs graph_pagerank's single-job fan-out)
    edges = cached_df(spark, ("hits_edges", os.path.abspath(sf_dir)), _edges)
    outdeg = edges.groupBy("c").agg(F.count(F.lit(1)).alias("deg"))
    indeg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    # one scalar frame carries BOTH the hub count and the max degree
    # over both roles (the widened-arithmetic headroom input) — the
    # union costs nothing extra vs the old outdeg-only count scalar,
    # and the guard rides the broadcast instead of adding a job
    n_hubs = (
        outdeg.select("deg", F.lit(1).alias("is_hub"))
        .unionAll(indeg.select("deg", F.lit(0).alias("is_hub")))
        .agg(F.sum("is_hub").alias("n"), F.max("deg").alias("md"))
    )
    # degree guard (see _hits_maxdeg_bound): folded into the h₀
    # expression as `+ 0` so column pruning can't drop it; raise_error
    # only evaluates on the over-bound branch. Bound and message are
    # computed from the ACTIVE cadence, so the documented remediation
    # (_HITS_RENORM_EVERY = 1) genuinely widens the guard to ~10¹⁴.
    deg_guard = (
        f"(CASE WHEN md > {_hits_maxdeg_bound(_HITS_RENORM_EVERY)} "
        f"THEN raise_error("
        f"'graph_hits_scores: max degree exceeds the audited "
        f"DECIMAL(38) headroom for _HITS_RENORM_EVERY="
        f"{_HITS_RENORM_EVERY}; set _HITS_RENORM_EVERY = 1') "
        f"ELSE 0 END)"
    )

    # renorm product form: ``(raw · SCALE) DIV t`` — exact per-node
    # flooring (mass loss ≤ 1 unit/node, the invariant the mass test
    # pins). Range audit at this cadence: raw ≤ maxdeg³·10¹², so the
    # product ≤ maxdeg³·10²⁴ — inside DECIMAL(38)/HUGEINT to maxdeg
    # ~4.6·10⁴, ENFORCED at runtime by deg_guard above; beyond it,
    # tighten _HITS_RENORM_EVERY back to 1 (restoring the round-10
    # maxdeg ~10¹⁴ headroom) — the cadence is a tunable, not a
    # correctness knob, since the oracle is generated from the same
    # constant. Spark's decimal DIV returns BIGINT with the same
    # truncation-toward-zero DuckDB's ``//`` applies on positive
    # operands (verified).
    renorm = f"CAST((raw * CAST({_HITS_SCALE} AS DECIMAL(38,0))) DIV t AS BIGINT)"
    dec = "decimal(38,0)"
    hubs = outdeg.crossJoin(F.broadcast(n_hubs)).select(
        "c",
        F.expr(f"CAST({_HITS_SCALE} DIV n + {deg_guard} AS {dec})").alias(
            "h"
        ),
    )
    a_raw = None
    for rnd in range(1, _HITS_ROUNDS + 1):
        # Unrenormalized stretches run in DECIMAL(38,0) (the DuckDB
        # side mirrors in HUGEINT): between renorms values are bounded
        # by maxdeg^(steps since renorm)·SCALE — ≤ maxdeg³·10¹² at this
        # cadence, inside decimal(38) to maxdeg ~4·10⁸. The authority
        # half-step never renormalizes (its mass bound rides the hub
        # side's — the round-10 measurement that normalize-both costs
        # 3.9 s vs 2.5 s stands).
        a_raw = (
            edges.join(hubs, "c").groupBy("s").agg(F.sum("h").alias("raw"))
        )
        if rnd == _HITS_ROUNDS:
            # final round: a_raw feeds h_raw AND the output renorm
            a_raw = a_raw.localCheckpoint(eager=False)
        h_raw = edges.join(a_raw, "s").groupBy("c").agg(
            F.sum("raw").alias("raw")
        )
        if rnd % _HITS_RENORM_EVERY == 0:
            # renorm round: h_raw is consumed twice (total + renorm) —
            # cut lineage (the round-10 ReuseExchange-defeat rationale)
            h_raw = h_raw.localCheckpoint(eager=False)
            h_tot = h_raw.agg(F.sum("raw").alias("t"))
            hubs = h_raw.crossJoin(F.broadcast(h_tot)).select(
                "c", F.expr(renorm).cast(dec).alias("h")
            )
        else:
            # raw carry-over: single consumer, no cut, no total — the
            # two AQE stages this cadence saves per skipped round
            hubs = h_raw.select("c", F.col("raw").alias("h"))
    a_tot = a_raw.agg(F.sum("raw").alias("t"))
    auths = a_raw.crossJoin(F.broadcast(a_tot)).select(
        "s", F.expr(renorm).alias("a")
    )
    hub_rows = hubs.join(outdeg, "c").select(
        F.lit("hub").alias("role"),
        F.col("c").alias("node_id"),
        F.col("deg").alias("degree"),
        F.col("h").cast("long").alias("score_scaled"),
    )
    auth_rows = auths.join(indeg, "s").select(
        F.lit("authority").alias("role"),
        F.col("s").alias("node_id"),
        F.col("deg").alias("degree"),
        F.col("a").alias("score_scaled"),
    )
    return hub_rows.unionAll(auth_rows)


# --------------------------------------------------------------------------
# sim_pq_adc
# --------------------------------------------------------------------------

_PQ_SUBS = 8  # subspaces (64 dims → 8 × 8)
_PQ_SUBDIM = 8
_PQ_K = 16  # codebook entries per subspace
_PQ_TOPK = 5


def _pq_dist_sql(a: str, b: str) -> str:
    """Squared L2 between two 8-dim list slices, 9-dp-rounded and
    scaled to an exact BIGINT (the same round-then-scale guard every
    discontinuous comparison in this repo uses)."""
    return (
        f"CAST(round(round((SELECT SUM(({a}[i+1] - {b}[i+1])"
        f" * ({a}[i+1] - {b}[i+1])) FROM range({_PQ_SUBDIM}) t(i)), 9)"
        f" * 1e9, 0) AS BIGINT)"
    )


#: shared WITH-body: corpus → codebook → subvectors → distances →
#: codes + query lookup tables. Reused verbatim by the exhaustive-scan
#: oracle (sim_pq_adc) and the IVF-bounded one (sim_pq_ivf_adc).
_PQ_CTES = f"""
    x AS (
      SELECT vec_id, label,
             list_transform(embedding, e -> e::DOUBLE) AS emb
      FROM embeddings
    ),
    cb AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             emb
      FROM (SELECT vec_id, emb FROM x ORDER BY vec_id LIMIT {_PQ_K})
    ),
    centers AS MATERIALIZED (
      SELECT CAST(t.i AS INT) AS s, cb.cid AS c,
             list_slice(cb.emb, t.i * {_PQ_SUBDIM} + 1,
                        t.i * {_PQ_SUBDIM} + {_PQ_SUBDIM}) AS cen
      FROM cb CROSS JOIN range({_PQ_SUBS}) t(i)
    ),
    sub AS MATERIALIZED (
      SELECT vec_id, label, CAST(t.i AS INT) AS s,
             list_slice(emb, t.i * {_PQ_SUBDIM} + 1,
                        t.i * {_PQ_SUBDIM} + {_PQ_SUBDIM}) AS sub
      FROM x CROSS JOIN range({_PQ_SUBS}) t(i)
    ),
    dists AS MATERIALIZED (
      SELECT sub.vec_id, sub.s, centers.c,
             {_pq_dist_sql("sub.sub", "centers.cen")} AS d9
      FROM sub JOIN centers ON centers.s = sub.s
    ),
    codes AS MATERIALIZED (
      SELECT vec_id, s, c AS code
      FROM (SELECT vec_id, s, c,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY d9, c) AS rn
            FROM dists)
      WHERE rn = 1
    ),
    lut AS MATERIALIZED (
      SELECT sub.vec_id AS query_id, sub.s, centers.c,
             {_pq_dist_sql("sub.sub", "centers.cen")} AS d9
      FROM sub JOIN centers ON centers.s = sub.s
      WHERE sub.label = 0
    )"""

_PQ_ORACLE = f"""
    WITH {_PQ_CTES},
    adc AS MATERIALIZED (
      SELECT l.query_id, co.vec_id AS neighbor_id,
             SUM(l.d9) AS adc_scaled
      FROM codes co JOIN lut l ON l.s = co.s AND l.c = co.code
      WHERE co.vec_id != l.query_id
      GROUP BY l.query_id, co.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, adc_scaled,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc_scaled, neighbor_id)
                  AS INT) AS rn
      FROM adc
    )
    SELECT query_id, neighbor_id, rn,
           round(adc_scaled / 1e9, 9) AS adc_dist
    FROM ranked WHERE rn <= {_PQ_TOPK}
"""


def _pq_dists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, s, c, d9): every vector's 9-dp-rounded scaled
    squared L2 to every (subspace, codebook-center) pair — the frame
    both the code assignment and the query lookup tables derive from.
    Memoized per (session, sf_dir) via cached_df: the exhaustive scan
    (sim_pq_adc) and the IVF-bounded scan (sim_pq_ivf_adc) consume the
    identical deterministic frame, and it is a pure function of the
    table (the _km_fit memo precedent)."""

    def build() -> DataFrame:
        x = table(spark, sf_dir, "embeddings").select(
            "vec_id",
            "label",
            F.col("embedding").cast("array<double>").alias("emb"),
        )
        # deterministic codebook: 16 lowest vec_ids (TakeOrdered — a
        # bounded 16-row frame, never the corpus); cid by that order
        # bounded-window: 16-row codebook frame (LIMIT above), constant
        cb = (
            x.orderBy("vec_id")
            .limit(_PQ_K)
            .select(
                (F.row_number().over(Window.orderBy("vec_id")) - 1)
                .cast("int")
                .alias("c"),
                "emb",
            )
        )
        subspaces = F.array(
            *[
                F.slice("emb", s * _PQ_SUBDIM + 1, _PQ_SUBDIM)
                for s in range(_PQ_SUBS)
            ]
        )
        centers = cb.select("c", F.posexplode(subspaces).alias("s", "cen"))
        sub = x.select(
            "vec_id", "label", F.posexplode(subspaces).alias("s", "sub")
        )
        # squared L2, 9-dp-rounded, scaled to exact BIGINT (module doc)
        d9 = F.round(
            F.round(
                F.aggregate(
                    F.zip_with("sub", "cen", lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                9,
            )
            * 1e9,
            0,
        ).cast("bigint")
        return sub.join(F.broadcast(centers), "s").select(
            "vec_id", "label", "s", "c", d9.alias("d9")
        )

    return cached_df(spark, ("pq_dists", os.path.abspath(sf_dir)), build)


def _pq_codes_lut(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Derive the code assignment (vec_id, s, code) and the query
    lookup tables (query_id, s, c, d9) from the memoized dists frame.
    The min-struct argmin with center-id tie-break ≡ the oracle's
    (d9, c) row_number."""
    dists = _pq_dists(spark, sf_dir)
    codes = (
        dists.groupBy("vec_id", "s")
        .agg(F.min(F.struct("d9", "c")).alias("m"))
        .select("vec_id", "s", F.col("m.c").alias("code"))
    )
    lut = dists.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("query_id"), "s", "c", "d9"
    )
    return codes, lut


def _pq_adc_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, vec_id, adc_scaled): the exhaustive asymmetric-
    distance frame — every query's ADC sum to every other vector.
    Session-memoized (the detector-RESULT-frame precedent from round
    10's recall queries): the exhaustive scan (sim_pq_adc) ranks it,
    and the nprobe sweep (round10e_ops.sim_ivf_nprobe_sweep) uses its
    top-5 as ground truth — one evaluation serves both, and both carry
    the ``memo`` warm-up tag (their bench JSON label is
    "shared_intermediate")."""

    def build() -> DataFrame:
        codes, lut = _pq_codes_lut(spark, sf_dir)
        return (
            codes.join(
                F.broadcast(lut),
                (codes.s == lut.s)
                & (codes.code == lut.c)
                & (codes.vec_id != lut.query_id),
            )
            .groupBy("query_id", "vec_id")
            .agg(F.sum("d9").alias("adc_scaled"))
        )

    return cached_df(spark, ("pq_adc_frame", os.path.abspath(sf_dir)), build)


@query("sim_pq_adc", oracle=_PQ_ORACLE, tags=("memo",))
def sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation:
    64-dim vectors split into 8 subspaces of 8 dims; each subvector is
    encoded as its nearest of 16 codebook centers; a query's distance
    to a compressed vector is the sum of 8 precomputed
    query-to-center lookup-table entries (ADC); top-5 neighbors per
    label-0 query under (distance, id). The codebook is deterministic
    — the subvectors of the 16 lowest-vec_id corpus rows — so unlike
    the LSH/IVF tiers the whole pipeline replays in SQL and the
    OUTPUT is hash-checked, not just its recall.

    Determinism: every squared subdistance is 9-dp-rounded then scaled
    to an exact BIGINT before the encode argmin (min-struct with
    center-id tie-break ≡ the oracle's (d9, c) row_number), so code
    assignment and the integer ADC sums are bit-equal across engines;
    the ≤1-ulp float fold divergence the 9-dp round absorbs is the
    similarity.py precedent (verified there at the grading scales).

    Scale (100 TB): this is FAISS's IndexPQ scan shape. Encoding is a
    16-row-broadcast join + one partial-aggregated shuffle keyed
    (vec_id, s) — linear in the corpus, 128 tiny rows per vector in
    flight, and the stored representation is 8 small ints per vector
    (64 B float32 → 8 B codes, the 8× compression that makes exhaustive
    scans affordable). The ADC scan joins codes to the broadcast
    lookup table on (s, code) — #queries × #docs × 8 rows, partially
    aggregated map-side before the (query, doc) shuffle. The quadratic
    query×corpus term is inherent to exhaustive ADC; the at-scale
    composition is IVF lists bounding the candidates THEN this exact
    plan over the survivors (IVFADC), which changes only the `codes`
    input.

    Measured quality at sf0.001: recall@5 vs exact L2 is 0.143 (vs
    0.019 for random picks) — the isotropic Gaussian fixtures are PQ's
    worst case (distances concentrate; a sample codebook captures no
    cluster structure; K=128 only reaches 0.232), so the pinned claim
    (tests/test_round10b_ops.py) is order-of-magnitude-above-chance
    ranking, with the exact replay — not fixture recall — as the point.

    Warm-up tag ``memo``: the PQ distance frame (codes + query LUTs) is
    a session memo shared with ``sim_pq_ivf_adc``, so bench's timed
    number is this scan's own ranking pass."""
    adc = _pq_adc_frame(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy("adc_scaled", "vec_id")
    return (
        adc.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= _PQ_TOPK)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rn",
            F.round(F.col("adc_scaled") / 1e9, 9).alias("adc_dist"),
        )
    )

# --------------------------------------------------------------------------
# sim_pq_ivf_adc — the IVFADC composition
# --------------------------------------------------------------------------

_PQ_NPROBE = 2

_IVFADC_ORACLE = f"""
    WITH {_km_ctes()},
    {_PQ_CTES},
    probes AS MATERIALIZED (
      SELECT query_id, cid FROM (
        SELECT x.vec_id AS query_id, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY round({_km_dist_sql('x.emb', 'c.emb')}, 9), c.cid
               ) AS rn
        FROM x CROSS JOIN c{_KM_ROUNDS} c
        WHERE x.label = 0
      ) WHERE rn <= {_PQ_NPROBE}
    ),
    cand AS MATERIALIZED (
      SELECT p.query_id, f.vec_id
      FROM probes p JOIN fin f ON f.cid = p.cid
      WHERE f.vec_id != p.query_id
    ),
    iadc AS MATERIALIZED (
      SELECT ca.query_id, ca.vec_id AS neighbor_id, SUM(l.d9) AS adc_scaled
      FROM cand ca
      JOIN codes co ON co.vec_id = ca.vec_id
      JOIN lut l ON l.query_id = ca.query_id
               AND l.s = co.s AND l.c = co.code
      GROUP BY ca.query_id, ca.vec_id
    ),
    iranked AS (
      SELECT query_id, neighbor_id, adc_scaled,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc_scaled, neighbor_id)
                  AS INT) AS rn
      FROM iadc
    )
    SELECT query_id, neighbor_id, rn,
           round(adc_scaled / 1e9, 9) AS adc_dist
    FROM iranked WHERE rn <= {_PQ_TOPK}
"""


@query("sim_pq_ivf_adc", oracle=_IVFADC_ORACLE, tags=("memo",))
def sim_pq_ivf_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC — the composition sim_pq_adc's docstring names as the
    at-scale path, assembled from two already-hash-checked tiers: the
    deterministic Lloyd quantizer (round7_ops._km_fit, 8 cells) bounds
    each query's candidates to its nprobe=2 nearest cells' inverted
    lists, and the PQ asymmetric-distance scan (the memoized codes /
    lookup tables of _pq_codes_lut) ranks ONLY those survivors. This
    is FAISS's IndexIVFPQ shape — the standard billion-scale ANN
    layout — and, like sim_pq_adc, its OUTPUT hash-checks end to end
    because every ingredient (cell assignment, probe choice, code
    assignment, ADC sums) is a 9-dp-rounded-then-exact-integer
    decision both engines replay.

    Scale (100 TB): the exhaustive ADC scan's #queries × #docs term
    becomes #queries × (nprobe/k) × #docs — the candidate join is
    probes ⋈ home-cells on cid (equi-join against the linear inverted
    lists), then codes and the broadcast LUT attach by key. Nothing
    quadratic, nothing collected (the centroid literal is the k×64
    constant the k-means family already ships in closures). Recall
    retention vs the exhaustive scan is pinned in
    tests/test_round10b_ops.py; shared ADC values are bit-identical to
    sim_pq_adc's by construction (same memoized frame)."""
    codes, lut = _pq_codes_lut(spark, sf_dir)
    assigned, cents = _km_fit(spark, sf_dir)
    home = assigned.select("vec_id", "cid")

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
    probes = q.select(
        "query_id",
        F.explode(F.slice(pdists, 1, _PQ_NPROBE)).alias("p"),
    ).select("query_id", F.col("p.cid").alias("cid"))
    cand = probes.join(home, "cid").filter(
        F.col("vec_id") != F.col("query_id")
    ).select("query_id", "vec_id")
    lut_r = lut.select(
        F.col("query_id").alias("qid"),
        F.col("s").alias("ls"),
        F.col("c").alias("lc"),
        "d9",
    )
    adc = (
        cand.join(codes, "vec_id")
        .join(
            F.broadcast(lut_r),
            (F.col("query_id") == F.col("qid"))
            & (F.col("s") == F.col("ls"))
            & (F.col("code") == F.col("lc")),
        )
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d9").alias("adc_scaled"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_scaled", "vec_id")
    return (
        adc.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= _PQ_TOPK)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rn",
            F.round(F.col("adc_scaled") / 1e9, 9).alias("adc_dist"),
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
