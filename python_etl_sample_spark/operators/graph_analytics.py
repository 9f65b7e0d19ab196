"""Graph analytics over the part co-purchase graph: triangle counting
(degree-oriented, the MapReduce-classic shape) and fixed-iteration
PageRank in exact scaled-integer arithmetic.

The graph: two parts are linked when some 1995 order ships both — the
standard "co-occurrence projection" of the order×part bipartite graph,
the same construction behind related-item graphs and co-citation
networks. The 1995 ship-year filter bounds the projection (each order
contributes C(lines, 2) edges) and is pushed to the parquet scan.

Engine-parity ground rules:

- Triangle counting is pure integers end-to-end — no float can reach
  the hash.
- PageRank runs in scaled-integer arithmetic (rank mass × 10^15 as
  BIGINT, truncating division mirrored textually in the oracle), so
  five join-aggregate iterations are BIT-EXACT across engines: no
  accumulated float-summation drift, no rounding-boundary risk. The
  deliberate truncation leak (≤ deg ulps of 1e-15 mass per node per
  round) is identical in both engines by construction.

Scale posture (100 TB):

- Degree orientation (orient each edge toward the higher-(degree, id)
  endpoint) is the load-balancing trick from Suri & Vassilvitskii's
  MR triangle counting: out-degrees are bounded by ~sqrt(2m), so the
  per-node wedge fan-out — the quadratic step — is capped, and the
  wedge→edge equi-join shuffles on plain int keys. No cartesian
  anywhere (plan-pinned in tests/test_round5_refs.py).
- PageRank iterates shuffle(join on src) → partial-agg(sum by dst);
  ranks stay (node, deg, r) rows co-partitionable with the edge list.
  On a real cluster both sides would be pre-bucketed by node id so
  every round is a zero-exchange join; here AQE handles it. Five
  rounds of lineage on a pair list is well inside plan-size limits —
  the CC kernel's localCheckpoint pattern (functions/components.py)
  is the escape hatch if rounds grow.

- ``graph_degree_assortativity``: degree-degree Pearson over the
  co-purchase graph — do hubs link to hubs?

- ``graph_community_modularity``: Newman modularity of the
  deterministic LPA communities — the quality number that says whether
  the partition is better than chance.

- ``graph_hits_scores``: HITS hubs & authorities — the one classic
  fixed-point graph ranking missing next to PageRank / LPA / k-core /
  harmonic centrality. Unlike those, HITS is defined on a DIRECTED
  bipartite relation, so it runs on the customer→supplier shipment
  graph rather than the undirected co-purchase projection. The same
  exact-replay discipline as ``graph_pagerank``: score mass is a scaled BIGINT and the
  per-half-step L1 normalization is a widened integer multiply-divide
  (``DECIMAL(38,0)`` in Spark ≡ ``HUGEINT`` in DuckDB — division
  semantics verified identical on positive operands), so four
  hub/authority rounds are BIT-equal across engines, not "close".

- ``graph_personalized_pagerank`` — seeded-teleport PageRank (the
  recommendation / graph-feature variant of ``graph_pagerank``), in the
  same exact scaled-integer arithmetic, with the PPR-specific scale win:
  each round's contribution join runs over the REACHED frontier
  (``r > 0``), not the node set.

Engine-parity ground rules are inherited: integer arithmetic wherever a
recurrence exists (PPR), exact counts plus one mirrored rounded
division for every ratio.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_etl_sample_spark.cache import cached_df
from python_etl_sample_spark.functions.determinism import _pearson_from_int_sums
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table

#: Rank mass is tracked as BIGINT millionths-of-a-billionth (1e15).
#: 0.85 damping → the largest intermediate is 85 × 10^15 < 2^63.
_PR_SCALE = 1_000_000_000_000_000


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical undirected edge list (u < v) of parts co-shipped in
    the same 1995 order. DISTINCT twice: once to collapse a part
    appearing on several lines of one order, once to collapse a pair
    co-occurring in several orders.

    Deliberately NOT checkpointed/persisted even though consumers fan
    out over it (triangle counting 3×, PageRank's unrolled rounds ~10×):
    the static plan shows the re-derivations, but Spark's ReuseExchange
    dedupes the identical subtrees at runtime — the executed PageRank
    plan carries 20 ReusedExchange nodes and ONE job runs all rounds,
    measured 0.24 s warm at sf0.1 versus 2.2 s for the eager/lazy
    localCheckpoint variant (7 sequential jobs of scheduling overhead).
    Materializing the derived graph becomes the right call only when
    rounds grow past plan-size limits or consumers span JOBS (the CC
    kernel's case); a single-job fan-out should lean on exchange reuse.
    Pinned in test_round5b_refs (executed-plan ReusedExchange count)."""
    # range predicate, not year() — a raw-column comparison reaches the
    # parquet scan as a pushed filter + row-group min/max prune; a
    # function of the column would not (pinned in test_round5b_refs)
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-01-01"))
        )
        .select("l_orderkey", "l_partkey")
    )
    # per-order pair expansion without the self-join (r14, the
    # basket_brand_pairs_lift shape): ONE groupBy(l_orderkey) shuffle
    # with map-side-combined collect_set replaces the former
    # distinct + self-equi-join — collect_set subsumes the per-order
    # DISTINCT, and sort_array + (j > i) reproduces the a < b pair set
    # exactly. Fan-out stays per-order-bounded (TPC-H baskets ≤ 7
    # lines), so no skew concern at scale; the second DISTINCT (a pair
    # co-occurring in several orders) is unchanged.
    per_order = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    return (
        per_order.select("ps", F.posexplode("ps").alias("i", "u"))
        .select("u", "i", F.posexplode("ps").alias("j", "v"))
        .filter(F.col("j") > F.col("i"))
        .select("u", "v")
        .distinct()
    )


def _endpoints(edges: DataFrame) -> DataFrame:
    """Both endpoints of every undirected (u, v) edge as one ``node``
    column: a node appears once per incident edge."""
    return edges.select(F.col("u").alias("node")).unionAll(
        edges.select(F.col("v").alias("node"))
    )


def _directed_edges(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Both directions (src, dst) of the undirected (u, v) edge list,
    and each node's degree (node, deg) counted over them."""
    dir_edges = edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    deg = dir_edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    return dir_edges, deg


# li/edges/deg are MATERIALIZED (r14): every consumer references edges
# (and often deg) several times — the unrolled iterative oracles up to
# 4x per round — and DuckDB's CTE inlining re-derives the whole
# lineitem self-join per reference, which is what blew graph_kcore_peel
# past a 16 GiB spill budget at sf1 (4 references/round x 4 rounds).
_EDGES_SQL = """
    li AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
    ),
    edges AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS MATERIALIZED (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
      ) GROUP BY node
    )
"""


@query(
    "graph_triangle_count",
    oracle=f"""
    WITH {_EDGES_SQL},
    oriented AS (
      SELECT CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.u ELSE e.v END AS s,
             CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.v ELSE e.u END AS t
      FROM edges e
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v
    ),
    tris AS (
      SELECT COUNT(*) AS n_triangles
      FROM (SELECT o1.s, LEAST(o1.t, o2.t) AS b, GREATEST(o1.t, o2.t) AS c
            FROM oriented o1 JOIN oriented o2
              ON o1.s = o2.s AND o1.t < o2.t) w
      JOIN edges e ON e.u = w.b AND e.v = w.c
    )
    SELECT (SELECT COUNT(*) FROM deg)   AS n_nodes,
           (SELECT COUNT(*) FROM edges) AS n_edges,
           (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) FROM deg)
             AS n_wedges,
           (SELECT n_triangles FROM tris) AS n_triangles,
           ROUND(3.0 * (SELECT n_triangles FROM tris)
                 / NULLIF((SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT)
                           FROM deg), 0), 6)
             AS global_clustering
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count + global clustering coefficient of the
    co-purchase graph, via degree-oriented wedge checking.

    Each edge is oriented toward its higher-(degree, node-id) endpoint;
    every triangle then has exactly one apex whose two out-edges cover
    it, so counting (wedge at s) ⋈ (closing edge) equi-join hits each
    triangle once — no 3-way enumeration, no double counting, and the
    out-degree (hence the wedge blow-up) is bounded by ~sqrt(2m)
    regardless of raw degree skew. Wedge pairs are canonicalized
    (b < c) so the closing join is against the canonical u<v edge list
    as a plain two-column equi-join."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = _endpoints(edges).groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    e = (
        edges.join(deg.withColumnRenamed("node", "u"), "u")
        .withColumnRenamed("deg", "du")
        .join(
            deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v"
        )
    )
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = e.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
    )
    # wedge enumeration without the self-join (r14): group each apex's
    # out-neighborhood and pair-explode it — one groupBy(s) shuffle
    # instead of shuffling `oriented` twice. sort_array + (j > i)
    # yields each unordered {t, t'} pair once with b < c already
    # canonical (so the old least/greatest normalization is implicit).
    # Per-apex fan-out stays bounded: degree orientation caps
    # out-degree at ~sqrt(2m) regardless of raw degree skew, which is
    # exactly the bound that made the join form safe too.
    wedges = (
        oriented.groupBy("s")
        .agg(F.sort_array(F.collect_set("t")).alias("ts"))
        .select("ts", F.posexplode("ts").alias("i", "b"))
        .select("b", "i", F.posexplode("ts").alias("j", "c"))
        .filter(F.col("j") > F.col("i"))
        .select("b", "c")
    )
    tri = wedges.join(
        edges, (F.col("b") == F.col("u")) & (F.col("c") == F.col("v"))
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    summary = (
        deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.expr("sum(deg * (deg - 1) div 2)").alias("n_wedges"),
        )
        .crossJoin(edges.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(tri)
    )
    return summary.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.round(
            3.0 * F.col("n_triangles") / F.nullif(F.col("n_wedges"), F.lit(0)), 6
        ).alias("global_clustering"),
    )


def _pr_iter_sql(prev: str, cur: str) -> str:
    """One unrolled PageRank round in exact scaled-integer arithmetic."""
    return f"""
    {cur} AS (
      SELECT d.node, d.deg,
             CAST(15 * {_PR_SCALE} // (100 * (SELECT COUNT(*) FROM deg))
                  + (85 * COALESCE(s.contrib, 0)) // 100 AS BIGINT) AS r
      FROM deg d
      LEFT JOIN (
        SELECT e.dst AS node, SUM(p.r // p.deg) AS contrib
        FROM dir e JOIN {prev} p ON p.node = e.src
        GROUP BY e.dst
      ) s ON s.node = d.node
    )"""


@query(
    "graph_pagerank",
    oracle=f"""
    WITH {_EDGES_SQL},
    dir AS (
      SELECT u AS src, v AS dst FROM edges
      UNION ALL
      SELECT v AS src, u AS dst FROM edges
    ),
    it0 AS (
      SELECT node, deg,
             CAST({_PR_SCALE} // (SELECT COUNT(*) FROM deg) AS BIGINT) AS r
      FROM deg
    ),
    {_pr_iter_sql("it0", "it1")},
    {_pr_iter_sql("it1", "it2")},
    {_pr_iter_sql("it2", "it3")},
    {_pr_iter_sql("it3", "it4")},
    {_pr_iter_sql("it4", "it5")}
    SELECT node AS part_id, deg AS degree, r AS rank_scaled
    FROM it5
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five damped PageRank iterations (d = 0.85) over the undirected
    co-purchase graph, returning every node's rank as a scaled BIGINT
    (rank × 10^15).

    Exactness by design: rank mass is an integer, per-edge contribution
    is truncating integer division by out-degree, and the damping mix
    is (85·Σ) div 100 — the identical expression tree the oracle
    unrolls — so five rounds of join-aggregate are bit-equal across
    engines rather than "close enough to round". Every node sits in the
    edge list by construction (degree ≥ 1), so there is no dangling
    mass to redistribute.

    Shape per round: broadcast-or-shuffle join ranks⋈edges on src
    (Spark picks broadcast while ranks fit, the right call at any n
    since ranks ≪ edges), then one partial-aggregated shuffle on dst.
    The driver loop is plan construction only — no actions, no
    collect: a single job executes all five unrolled rounds, with
    ReuseExchange deduping the repeated edge/degree subtrees at
    runtime (measured: 20 ReusedExchange nodes, 0.24 s warm at sf0.1;
    a localCheckpoint-per-round variant was 9× slower from per-job
    scheduling overhead — see _copurchase_edges docstring)."""
    edges = _copurchase_edges(spark, sf_dir)
    dir_edges, deg = _directed_edges(edges)
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n"))
    ranks = deg.crossJoin(F.broadcast(n_nodes)).select(
        "node", "deg", F.expr(f"CAST({_PR_SCALE} div n AS BIGINT)").alias("r")
    )
    base = F.expr(f"CAST(15 * {_PR_SCALE} div (100 * n) AS BIGINT)")
    for _ in range(5):
        contrib = (
            ranks.join(dir_edges, ranks.node == dir_edges.src)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.expr("sum(r div deg)").alias("contrib"))
        )
        ranks = (
            deg.join(contrib, "node", "left")
            .crossJoin(F.broadcast(n_nodes))
            .select(
                "node",
                "deg",
                (base + F.expr("CAST((85 * coalesce(contrib, 0)) div 100 AS BIGINT)")).alias("r"),
            )
        )
    return ranks.select(
        F.col("node").alias("part_id"),
        F.col("deg").alias("degree"),
        F.col("r").alias("rank_scaled"),
    )


_BFS_ROUNDS = 4
_INF = 999


def _bfs_round_sql(prev: str, cur: str) -> str:
    """One unrolled BFS relaxation in sentinel-integer arithmetic."""
    return f"""
    {cur} AS (
      SELECT d.node,
             LEAST(p.dist, COALESCE(m.nbr_min + 1, {_INF})) AS dist
      FROM deg d
      JOIN {prev} p ON p.node = d.node
      LEFT JOIN (
        SELECT e.dst AS node, MIN(q.dist) AS nbr_min
        FROM dir e JOIN {prev} q ON q.node = e.src AND q.dist < {_INF}
        GROUP BY e.dst
      ) m ON m.node = d.node
    )"""


@query(
    "graph_bfs_hops",
    oracle=f"""
    WITH {_EDGES_SQL},
    dir AS (
      SELECT u AS src, v AS dst FROM edges
      UNION ALL
      SELECT v AS src, u AS dst FROM edges
    ),
    seeds AS (
      SELECT node FROM deg ORDER BY deg DESC, node LIMIT 10
    ),
    d0 AS (
      SELECT d.node,
             CASE WHEN s.node IS NOT NULL THEN 0 ELSE {_INF} END AS dist
      FROM deg d LEFT JOIN seeds s ON s.node = d.node
    ),
    {_bfs_round_sql("d0", "d1")},
    {_bfs_round_sql("d1", "d2")},
    {_bfs_round_sql("d2", "d3")},
    {_bfs_round_sql("d3", "d4")}
    SELECT CAST(dist AS BIGINT) AS hops, COUNT(*) AS n_parts,
           CAST(MIN(node) AS BIGINT) AS min_part,
           CAST(MAX(node) AS BIGINT) AS max_part
    FROM d4 WHERE dist < {_INF} GROUP BY dist
    """,
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the co-purchase graph: hop distance from
    the 10 highest-degree parts (the "hub reachability" question), four
    relaxation rounds, reported as nodes-per-hop-level with id extremes.

    Pure integer relaxation with a sentinel (999 = unreached) instead
    of NULL-propagating mins — LEAST/MIN over exact BIGINTs, so four
    unrolled rounds are bit-equal across engines. Each round is the
    BSP/Pregel step expressed relationally: frontier⋈edges on src
    (only settled nodes q.dist < INF join — the frontier filter), one
    partial-agg MIN shuffle on dst, and a LEAST merge with the previous
    state. The driver loop only builds the plan; runtime exchange reuse
    dedupes the repeated edge subtrees exactly as in graph_pagerank.
    Hop-level aggregation (not per-node rows) keeps the answer
    calendar-sized; the per-node frame is the intermediate.

    Lineage note — the OPPOSITE call from graph_pagerank, measured both
    ways: each BFS round references the previous distance frame TWICE
    (frontier join + merge), so the unrolled tree DOUBLES per round
    (2^rounds copies; 5.8 s at sf0.1) and, unlike PageRank's linear
    tree, cannot be saved by same-job exchange reuse alone. A lazy
    localCheckpoint on the edge list and on each round's distances
    caps the tree at one round (2.6 s measured). Rule of thumb
    recorded: linear self-reference → lean on ReuseExchange;
    multiplicative self-reference → cut lineage per round."""
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    dir_edges, deg = _directed_edges(edges)
    seeds = deg.orderBy(F.desc("deg"), F.asc("node")).limit(10).select("node")
    dist = deg.join(
        seeds.withColumnRenamed("node", "seed"),
        F.col("node") == F.col("seed"),
        "left",
    ).select(
        "node",
        F.when(F.col("seed").isNotNull(), F.lit(0))
        .otherwise(F.lit(_INF))
        .alias("dist"),
    )
    for _ in range(_BFS_ROUNDS):
        nbr = (
            dist.filter(F.col("dist") < _INF)
            .join(dir_edges, dist.node == dir_edges.src)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("dist").alias("nbr_min"))
        )
        dist = (
            dist.join(nbr, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("dist"), F.coalesce(F.col("nbr_min") + 1, F.lit(_INF))
                ).alias("dist"),
            )
            .localCheckpoint(eager=False)
        )
    return (
        dist.filter(F.col("dist") < _INF)
        .groupBy(F.col("dist").cast("bigint").alias("hops"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.min("node").cast("bigint").alias("min_part"),
            F.max("node").cast("bigint").alias("max_part"),
        )
    )


_KCORE_K = 3
_KCORE_ROUNDS = 4


def _peel_sql(prev_nodes: str, cur: str) -> str:
    """One unrolled k-core peel: drop nodes whose degree in the current
    induced subgraph is below k; the edge set follows the node set."""
    return f"""
    {cur} AS MATERIALIZED (
      SELECT d.node FROM (
        SELECT node, COUNT(*) AS deg FROM (
          SELECT e.u AS node FROM edges e
          JOIN {prev_nodes} a ON a.node = e.u
          JOIN {prev_nodes} b ON b.node = e.v
          UNION ALL
          SELECT e.v AS node FROM edges e
          JOIN {prev_nodes} a ON a.node = e.u
          JOIN {prev_nodes} b ON b.node = e.v
        ) GROUP BY node
      ) d WHERE d.deg >= {_KCORE_K}
    )"""


@query(
    "graph_kcore_peel",
    oracle=f"""
    WITH {_EDGES_SQL},
    n0 AS (SELECT node FROM deg),
    {_peel_sql("n0", "n1")},
    {_peel_sql("n1", "n2")},
    {_peel_sql("n2", "n3")},
    {_peel_sql("n3", "n4")}
    SELECT * FROM (
      SELECT 0 AS round, COUNT(*) AS n_nodes FROM n0
      UNION ALL SELECT 1, COUNT(*) FROM n1
      UNION ALL SELECT 2, COUNT(*) FROM n2
      UNION ALL SELECT 3, COUNT(*) FROM n3
      UNION ALL SELECT 4, COUNT(*) FROM n4
    )
    """,
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four rounds of {_KCORE_K}-core peeling over the co-purchase
    graph: repeatedly drop nodes whose degree in the surviving induced
    subgraph is below {_KCORE_K}, reporting the shrinking node count
    per round — the dense-core extraction that separates structurally
    connected products from incidental co-occurrences (and, on
    documents, dense duplicate cores from stragglers).

    Each round is two semi-join filters of the edge list against the
    surviving node set, a degree partial-agg, and a threshold filter —
    all exact integers. The surviving-node frame shrinks monotonically,
    and each round takes a lazy lineage cut (the BFS rule: a round
    references its predecessor on BOTH edge endpoints, so unrolled
    lineage would grow multiplicatively). Four fixed rounds make the
    result deterministic and SQL-mirrorable; full convergence is the
    same loop with a count-stability check (the CC kernel's escape
    hatch), noted rather than hashed."""
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    nodes = _endpoints(edges).distinct().localCheckpoint(eager=False)
    counts = [("0", nodes)]
    cur = nodes
    for rnd in range(1, _KCORE_ROUNDS + 1):
        kept_edges = edges.join(
            cur.withColumnRenamed("node", "u"), "u", "leftsemi"
        ).join(cur.withColumnRenamed("node", "v"), "v", "leftsemi")
        deg = _endpoints(kept_edges).groupBy("node").agg(
            F.count(F.lit(1)).alias("deg")
        )
        cur = (
            deg.filter(F.col("deg") >= _KCORE_K)
            .select("node")
            .localCheckpoint(eager=False)
        )
        counts.append((str(rnd), cur))
    out = None
    for rnd, frame in counts:
        row = frame.agg(F.count(F.lit(1)).alias("n_nodes")).select(
            F.lit(int(rnd)).alias("round"), "n_nodes"
        )
        out = row if out is None else out.unionAll(row)
    return out


@query(
    "graph_jaccard_link_prediction",
    oracle="""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
    ),
    edges AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    sym AS (
      SELECT u AS src, v AS dst FROM edges
      UNION ALL SELECT v, u FROM edges
    ),
    deg AS (SELECT src AS node, COUNT(*) AS deg FROM sym GROUP BY src),
    common AS (
      SELECT a.src AS x, b.src AS y, COUNT(*) AS c
      FROM sym a JOIN sym b ON a.dst = b.dst AND a.src < b.src
      GROUP BY a.src, b.src
    ),
    cand AS (
      SELECT cm.x, cm.y, cm.c, dx.deg AS degx, dy.deg AS degy
      FROM common cm
      JOIN deg dx ON dx.node = cm.x
      JOIN deg dy ON dy.node = cm.y
      WHERE NOT EXISTS (SELECT 1 FROM edges e
                        WHERE e.u = cm.x AND e.v = cm.y)
    )
    SELECT x AS part_a, y AS part_b,
           CAST(c AS BIGINT) AS n_common,
           round(c / CAST(degx + degy - c AS DOUBLE), 6) AS jaccard
    FROM cand
    ORDER BY jaccard DESC, x, y
    LIMIT 20
    """,
)
def graph_jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighborhood Jaccard: for every NON-adjacent
    part pair sharing at least one co-purchase neighbor,
    |Γ(a)∩Γ(b)| / |Γ(a)∪Γ(b)| — the classic "customers who bought
    these also bought..." candidate generator — reported as the top-20
    under the unique (jaccard, a, b) order.

    Shape: common-neighbor counting is one self-equi-join of the
    symmetrized edge list on the shared endpoint + a partial-agg
    count; existing edges leave via an anti join; top-20 fuses to
    TakeOrderedAndProject. The wedge fan-out is Σ deg(n)² over hub
    nodes — the honest cost of EXACT common-neighbor counts; at 100 TB
    the standard mitigations are hub capping (drop neighbors past the
    top-K per node before the join) or neighborhood MinHash (estimate
    Jaccard from signatures — see dedup_near_minhash for the kernel),
    both of which keep this plan's shape.

    r14 note: the wedge join was deliberately NOT rewritten to the
    groupBy + collect_set pair explode that replaced the bounded pair
    expansions (_copurchase_edges, triangle wedges): neighborhoods here
    are hub-unbounded, and the join form stays AQE-skew-splittable
    while a per-node collect_set would concentrate each hub's whole
    deg² expansion in one task."""
    edges = _copurchase_edges(spark, sf_dir)
    sym, deg = _directed_edges(edges)
    a, b = sym.alias("a"), sym.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.dst") == F.col("b.dst"))
            & (F.col("a.src") < F.col("b.src")),
        )
        .groupBy(F.col("a.src").alias("x"), F.col("b.src").alias("y"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cand = (
        common.join(
            edges,
            (common.x == edges.u) & (common.y == edges.v),
            "left_anti",
        )
        .join(deg.select(F.col("node").alias("x"), F.col("deg").alias("degx")), "x")
        .join(deg.select(F.col("node").alias("y"), F.col("deg").alias("degy")), "y")
    )
    return (
        cand.select(
            F.col("x").alias("part_a"),
            F.col("y").alias("part_b"),
            F.col("c").cast("bigint").alias("n_common"),
            F.round(
                F.col("c")
                / (F.col("degx") + F.col("degy") - F.col("c")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
    )


#: synchronous label-propagation rounds (unrolled — every round is one
#: join + one argmax, and 3 rounds stabilize the fixture graph's small
#: communities; the CC kernel is the escape hatch for deep convergence)
_LPA_ROUNDS = 3


def _lpa_round_sql(prev: str, out: str) -> str:
    """One synchronous LPA round in SQL: count neighbor labels, keep the
    (count DESC, label ASC) winner per node."""
    return f"""
    cnt_{out} AS (
      SELECT s.src AS node, l.label, COUNT(*) AS c
      FROM sym s JOIN {prev} l ON l.node = s.dst
      GROUP BY s.src, l.label
    ),
    {out} AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, label) AS rn
        FROM cnt_{out}
      ) WHERE rn = 1
    )"""


@query(
    "graph_label_propagation",
    oracle=f"""
    WITH {_EDGES_SQL},
    sym AS (
      SELECT u AS src, v AS dst FROM edges
      UNION ALL SELECT v, u FROM edges
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
    {",".join(_lpa_round_sql(f"l{i}", f"l{i + 1}") for i in range(_LPA_ROUNDS))}
    SELECT label AS community,
           COUNT(*) AS n_members,
           CAST(MIN(node) AS BIGINT) AS min_member,
           CAST(MAX(node) AS BIGINT) AS max_member
    FROM l{_LPA_ROUNDS}
    GROUP BY label
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation community detection on the 1995
    co-purchase graph, {_LPA_ROUNDS} unrolled rounds: every node starts
    as its own label and each round adopts its neighborhood's plurality
    label with the (count DESC, label ASC) tie-break — the rule that
    makes plain LPA (normally run-to-run unstable) fully DETERMINISTIC,
    so the oracle replays it exactly.

    Per round: one edges⋈labels shuffle join, one (node, label) count,
    one per-node argmax window — the Pregel superstep shape shared with
    PageRank/BFS here, and like them the unrolled plan dedupes the
    repeated edge derivation via runtime exchange reuse. At 100 TB
    labels and edges co-partition on node id so each superstep is a
    co-located join; rounds stay bounded (LPA converges in few rounds
    or oscillates — capping rounds IS the algorithm)."""
    labels = _lpa_fit(spark, sf_dir)
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("node").cast("bigint").alias("min_member"),
        F.max("node").cast("bigint").alias("max_member"),
    )


def _lpa_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic LPA fit (node, label) after the fixed rounds —
    shared by graph_label_propagation and the modularity scorer
    (``graph_community_modularity``), so both consume the identical
    communities."""
    edges = _copurchase_edges(spark, sf_dir)
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # lazy checkpoints per round — graph_bfs_hops' measured rule
    # (``graph_bfs_hops``): the unrolled multi-round lineage re-plans the
    # whole edge derivation under every round's subtree and under each
    # CONSUMER of the returned labels (the modularity scorer joins the
    # fit three times); cutting it here floored label-prop 1.83 → 1.69 s
    # and modularity 2.53 → 2.12 s at sf0.1 with identical hashes
    sym = sym.select(F.col("u").alias("src"), F.col("v").alias("dst")).localCheckpoint(
        eager=False
    )
    labels = sym.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(_LPA_ROUNDS):
        # plurality via mode(label, deterministic=true): Spark 4's
        # deterministic mode returns the most frequent value with the
        # LOWEST value winning ties — exactly LPA's (count DESC,
        # label ASC) rule — as ONE partial-aggregable aggregate, so
        # each superstep is a single shuffle by node. The round-11
        # max-struct form needed two shuffles per round (count by
        # (node, label), then argmax by node); round-12 interleaved
        # probe on the modularity consumer at sf0.1: two-shuffle
        # 3.29 s vs mode 2.55 s warm-min, labels bit-identical. The
        # oracle replays plurality semantics (row_number over
        # count DESC, label ASC), so no SQL change was needed. The
        # partial maps mode ships are bounded by per-node distinct
        # neighbor labels — at cluster scale the same co-partitioned
        # superstep shape, one exchange instead of two.
        labels = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.expr("mode(label, true)").alias("label"))
            .localCheckpoint(eager=False)
        )
    return labels


@query(
    "graph_degree_assortativity",
    oracle=f"""
    WITH {_EDGES_SQL},
    sym AS (
      SELECT u, v FROM edges
      UNION ALL
      SELECT v AS u, u AS v FROM edges
    ),
    p AS (
      SELECT du.deg AS dx, dv.deg AS dy
      FROM sym s
      JOIN deg du ON du.node = s.u
      JOIN deg dv ON dv.node = s.v
    ),
    m AS (
      SELECT COUNT(*) AS n,
             SUM(dx) AS sx, SUM(dy) AS sy, SUM(dx * dy) AS sxy,
             SUM(dx * dx) AS sxx, SUM(dy * dy) AS syy
      FROM p
    )
    SELECT CAST(n AS BIGINT) AS n_directed_edges,
           ROUND(CAST(sx AS DOUBLE) / n, 6) AS mean_endpoint_deg,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / NULLIF(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                               * CAST(n * syy - sy * sy AS DOUBLE)), 0.0),
                 6) AS assortativity
    FROM m
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the 1995 co-purchase graph: the Pearson
    correlation of endpoint degrees over all directed edge slots
    (Newman's r) — positive means hubs prefer hubs, negative means
    hub-and-spoke structure. Complements the local view of
    ``graph_jaccard_link_prediction`` with one global mixing number.

    Degrees are exact integers from the symmetrized edge list; the five
    moment sums are exact int64 (shared ``_pearson_from_int_sums``
    kernel with ``stats_spearman_corr``), one double division at the
    end, NULL on a regular (constant-degree) graph.

    Scale: edges⋈deg twice (deg is a node-sized broadcast candidate) and
    a 1-row reduction; the edge list itself is the bounded per-order
    pair expansion shared with ``graph_triangle_count``."""
    e = _copurchase_edges(spark, sf_dir)
    sym = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    p = (
        sym.join(
            F.broadcast(deg.select(F.col("node").alias("u"), F.col("deg").alias("dx"))),
            "u",
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("v"), F.col("deg").alias("dy"))),
            "v",
        )
        .select("dx", "dy")
    )
    m = p.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    return _pearson_from_int_sums(m, "assortativity").select(
        F.col("n").cast("long").alias("n_directed_edges"),
        F.round(F.col("sx").cast("double") / F.col("n"), 6).alias(
            "mean_endpoint_deg"
        ),
        "assortativity",
    )


# ---------------------------------------------------------------------------
# graph_harmonic_centrality
# ---------------------------------------------------------------------------

_HC_ROUNDS = 3
_HC_INF = 999
_HC_SEEDS = 10


def _hc_round_sql(prev: str, cur: str) -> str:
    """One per-seed BFS relaxation (sentinel-integer arithmetic keyed
    by (seed, node) — the landmark generalization of _bfs_round_sql)."""
    return f"""
    {cur} AS MATERIALIZED (
      SELECT p.seed, p.node,
             LEAST(p.dist, COALESCE(m.nbr_min + 1, {_HC_INF})) AS dist
      FROM {prev} p
      LEFT JOIN (
        SELECT q.seed, e.dst AS node, MIN(q.dist) AS nbr_min
        FROM dir e JOIN {prev} q ON q.node = e.src AND q.dist < {_HC_INF}
        GROUP BY q.seed, e.dst
      ) m ON m.seed = p.seed AND m.node = p.node
      UNION ALL
      SELECT m.seed, m.node, m.nbr_min + 1 AS dist
      FROM (
        SELECT q.seed, e.dst AS node, MIN(q.dist) AS nbr_min
        FROM dir e JOIN {prev} q ON q.node = e.src AND q.dist < {_HC_INF}
        GROUP BY q.seed, e.dst
      ) m
      LEFT JOIN {prev} p ON p.seed = m.seed AND p.node = m.node
      WHERE p.node IS NULL
    )"""


_HC_EDGES_SQL = """
    li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
    ),
    edges AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
      ) GROUP BY node
    ),
    dir AS MATERIALIZED (
      SELECT u AS src, v AS dst FROM edges
      UNION ALL
      SELECT v AS src, u AS dst FROM edges
    )
"""


@query(
    "graph_harmonic_centrality",
    oracle=f"""
    WITH {_HC_EDGES_SQL},
    seeds AS (
      SELECT node FROM deg ORDER BY deg DESC, node LIMIT {_HC_SEEDS}
    ),
    h0 AS (
      SELECT node AS seed, node, 0 AS dist FROM seeds
    ),
    {_hc_round_sql("h0", "h1")},
    {_hc_round_sql("h1", "h2")},
    {_hc_round_sql("h2", "h3")}
    SELECT seed,
           CAST(COUNT(*) FILTER (WHERE dist = 1) AS BIGINT) AS reached_1,
           CAST(COUNT(*) FILTER (WHERE dist = 2) AS BIGINT) AS reached_2,
           CAST(COUNT(*) FILTER (WHERE dist = 3) AS BIGINT) AS reached_3,
           round(COUNT(*) FILTER (WHERE dist = 1)
                 + COUNT(*) FILTER (WHERE dist = 2) / 2.0
                 + COUNT(*) FILTER (WHERE dist = 3) / 3.0, 6) AS harmonic3
    FROM h{_HC_ROUNDS}
    WHERE dist BETWEEN 1 AND {_HC_ROUNDS}
    GROUP BY seed
    """,
)
def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark harmonic centrality: for the {_HC_SEEDS} highest-degree
    parts of the co-purchase graph, H₃(s) = Σ_{{d(s,v)≤3}} 1/d(s,v) —
    the bounded-radius closeness variant used to rank hub influence
    (harmonic handles disconnected graphs where closeness breaks).

    Per-seed exact hop distances come from a (seed, node)-keyed BSP
    relaxation — the landmark generalization of graph_bfs_hops' merged
    multi-source form (which computes MIN over seeds and so cannot
    produce per-seed terms). Integer sentinel arithmetic end to end;
    the only float ops are the two harmonic divisions on exact counts.

    Scale: the state frame is |seeds|·|reached| rows — landmarks are a
    CHOSEN constant (10 here), so state is a bounded multiple of the
    node set, the textbook trade of landmark/hyperball centrality
    families. Each round: one frontier⋈edges equi-join on src, one
    (seed, dst) partial-agg MIN shuffle, one merge join. Lineage is cut
    per round with lazy localCheckpoint — graph_bfs_hops' measured rule
    for multiplicative self-reference (its docstring records 5.8 s →
    2.6 s at sf0.1)."""

    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    dir_edges, deg = _directed_edges(edges)
    seeds = (
        deg.orderBy(F.desc("deg"), F.asc("node"))
        .limit(_HC_SEEDS)
        .select("node")
    )
    state = seeds.select(
        F.col("node").alias("seed"), F.col("node"), F.lit(0).alias("dist")
    )
    for _ in range(_HC_ROUNDS):
        nbr = (
            state.filter(F.col("dist") < _HC_INF)
            .join(dir_edges, state.node == dir_edges.src)
            .groupBy("seed", F.col("dst").alias("node"))
            .agg(F.min("dist").alias("nbr_min"))
        )
        state = (
            state.join(nbr, ["seed", "node"], "full")
            .select(
                "seed",
                "node",
                F.least(
                    F.coalesce(F.col("dist"), F.lit(_HC_INF)),
                    F.coalesce(F.col("nbr_min") + 1, F.lit(_HC_INF)),
                ).alias("dist"),
            )
            .localCheckpoint(eager=False)
        )
    return (
        state.filter(
            (F.col("dist") >= 1) & (F.col("dist") <= _HC_ROUNDS)
        )
        .groupBy("seed")
        .agg(
            F.count(F.when(F.col("dist") == 1, 1)).alias("reached_1"),
            F.count(F.when(F.col("dist") == 2, 1)).alias("reached_2"),
            F.count(F.when(F.col("dist") == 3, 1)).alias("reached_3"),
            F.round(
                F.count(F.when(F.col("dist") == 1, 1))
                + F.count(F.when(F.col("dist") == 2, 1)) / 2.0
                + F.count(F.when(F.col("dist") == 3, 1)) / 3.0,
                6,
            ).alias("harmonic3"),
        )
    )


# ---------------------------------------------------------------------------
# graph_community_modularity
# ---------------------------------------------------------------------------

def _modularity_oracle() -> str:

    rounds = ",".join(
        _lpa_round_sql(f"l{i}", f"l{i + 1}") for i in range(_LPA_ROUNDS)
    )
    return f"""
    WITH {_EDGES_SQL},
    sym AS (
      SELECT u AS src, v AS dst FROM edges
      UNION ALL SELECT v, u FROM edges
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
    {rounds},
    lab AS (SELECT node, label FROM l{_LPA_ROUNDS}),
    m AS (SELECT COUNT(*) AS m FROM edges),
    internal AS (
      SELECT la.label AS community, COUNT(*) AS m_c
      FROM edges e
      JOIN lab la ON la.node = e.u
      JOIN lab lb ON lb.node = e.v
      WHERE la.label = lb.label
      GROUP BY la.label
    ),
    degs AS (
      SELECT la.label AS community, SUM(d.deg) AS d_c,
             COUNT(*) AS n_members
      FROM deg d JOIN lab la ON la.node = d.node
      GROUP BY la.label
    )
    SELECT d.community, CAST(d.n_members AS BIGINT) AS n_members,
           CAST(COALESCE(i.m_c, 0) AS BIGINT) AS n_internal_edges,
           CAST(d.d_c AS BIGINT) AS degree_sum,
           round(COALESCE(i.m_c, 0) * 1.0 / m.m
                 - (d.d_c * 1.0 / (2 * m.m)) * (d.d_c * 1.0 / (2 * m.m)),
                 6) + 0.0 AS q_term  -- + 0.0 folds DuckDB's -0.0 to 0.0
    FROM degs d
    LEFT JOIN internal i ON i.community = d.community
    CROSS JOIN m
    """


@query("graph_community_modularity", oracle=_modularity_oracle())
def graph_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the deterministic LPA communities
    (_lpa_fit — the identical fit the LPA query reports):
    per community, Q_c = m_c/m − (d_c/2m)², whose sum is the partition
    modularity — the standard "is this better than a random graph with
    the same degrees" quality score a community detection needs before
    anyone acts on it.

    Determinism: m, m_c, d_c are exact integer counts; each Q term is
    two IEEE divisions and one multiply with mirrored parenthesization,
    rounded 6 dp. The LPA fit itself is the hash-proven deterministic
    one (plurality with (count DESC, label ASC) tie-break).

    Scale: on top of the LPA supersteps, one edges⋈labels⋈labels
    equi-join chain (shuffles node-keyed int pairs), one degree join,
    and a 1-row edge total broadcast — all node/edge-keyed, nothing
    quadratic."""

    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    lab = _lpa_fit(spark, sf_dir)
    deg = _endpoints(edges).groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    m = edges.agg(F.count(F.lit(1)).alias("m"))
    la = lab.select(F.col("node").alias("u"), F.col("label").alias("lu"))
    lb = lab.select(F.col("node").alias("v"), F.col("label").alias("lv"))
    internal = (
        edges.join(la, "u")
        .join(lb, "v")
        .filter(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("community"))
        .agg(F.count(F.lit(1)).alias("m_c"))
    )
    degs = (
        deg.join(lab, "node")
        .groupBy(F.col("label").alias("community"))
        .agg(F.sum("deg").alias("d_c"), F.count(F.lit(1)).alias("n_members"))
    )
    return (
        degs.join(internal, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            F.col("n_members").cast("long").alias("n_members"),
            F.coalesce("m_c", F.lit(0)).cast("long").alias("n_internal_edges"),
            F.col("d_c").cast("long").alias("degree_sum"),
            (
                F.round(
                    F.coalesce("m_c", F.lit(0)) * 1.0 / F.col("m")
                    - (F.col("d_c") * 1.0 / (2 * F.col("m")))
                    * (F.col("d_c") * 1.0 / (2 * F.col("m"))),
                    6,
                )
                + 0.0  # mirror of the oracle's -0.0 normalization
            ).alias("q_term"),
        )
    )


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
    dir_edges, deg = _directed_edges(edges)
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
