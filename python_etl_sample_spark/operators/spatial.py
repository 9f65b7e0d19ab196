"""Spatial radius join via grid-cell bucketing — the "never all-pairs"
pattern for proximity queries (geo joins, collision detection, spatial
feature engineering) expressed as plain equi-joins.

Entities get deterministic synthetic planar coordinates derived from
their keys with the repo's masked multiplicative hashes (the fixtures
carry no geo columns; the DERIVATION is part of the queried semantics
and is mirrored textually in the oracle). Coordinates are integer
centi-units on a 10000×10000 grid, so every distance comparison is
exact int64 arithmetic — no floating point reaches the hash.

The join itself is the scale pattern: bucket space into cells the size
of the search radius, replicate the SMALL side into its 3×3 cell
neighborhood (a constant ×9 blow-up of the small side only), and
equi-join on cell id before the exact distance predicate. At 100 TB
the big side shuffles once on cell id, skew follows spatial density
(AQE splits hot cells), and nothing ever compares against more than
its nine neighboring cells.

- ``spatial_knn_grid``: exact k-nearest-within-radius via the 3×3
  grid-cell pattern (the top-k refinement of ``spatial_grid_join``).

- ``spatial_hotspot_clusters``: grid-density hotspot detection — the
  DBSCAN-shaped primitive expressed relationally: dense cells (count
  above 1.25× the uniform expectation) merged into clusters via
  8-neighbor connected components (the repo's pointer-jump kernel,
  replayed by a recursive-CTE oracle).

Determinism: cell counts are exact integers; hotspot labels are
component minima under converged min-label propagation (order-free).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_sample_spark.functions.components import (
    _uf_find,
    _uf_union,
    pointer_jump_components,
)
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.sources import table

#: search radius in centi-units (5.0 units on the 100×100 map) — also
#: the grid cell size, so candidates always sit in the 3×3 neighborhood
_R = 500
_R2 = _R * _R

# key → coordinate in [0, 10000): two independent masked multiplicative
# hashes (Knuth's 2654435761 and the public xxhash prime 2246822519;
# masking keeps the product provably inside int64 in both engines)
_CX = "(({k} % 100000) * 2654435761) % 10000"
_CY = "(({k} % 100000) * 2246822519) % 10000"


def _with_coords(df: DataFrame, key: str) -> DataFrame:
    return df.select(
        F.col(key),
        F.expr(_CX.format(k=key)).alias("x"),
        F.expr(_CY.format(k=key)).alias("y"),
    )


def _grid_sides(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, Column]:
    """The sides of the customer×supplier radius grid join: customers
    (c_custkey, x, y); suppliers replicated into their 3×3 cell
    neighborhood (s_suppkey, sx, sy, cx, cy) — cells are radius-sized,
    so the neighborhood provably contains every in-radius candidate —
    and the exact int64 squared distance of a joined row."""
    cust = _with_coords(table(spark, sf_dir, "customer"), "c_custkey")
    sup = _with_coords(table(spark, sf_dir, "supplier"), "s_suppkey")
    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    reps = (
        sup.withColumn("dx", off)
        .withColumn("dy", off)
        .select(
            "s_suppkey",
            F.col("x").alias("sx"),
            F.col("y").alias("sy"),
            (F.expr(f"x div {_R}") + F.col("dx")).alias("cx"),
            (F.expr(f"y div {_R}") + F.col("dy")).alias("cy"),
        )
    )
    d2 = (F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx")) + (
        F.col("y") - F.col("sy")
    ) * (F.col("y") - F.col("sy"))
    return cust, reps, d2


@query(
    "spatial_grid_join",
    oracle=f"""
    WITH cust AS (
      SELECT c_custkey,
             {_CX.format(k="c_custkey")} AS x,
             {_CY.format(k="c_custkey")} AS y
      FROM customer
    ),
    sup AS (
      SELECT s_suppkey,
             {_CX.format(k="s_suppkey")} AS x,
             {_CY.format(k="s_suppkey")} AS y
      FROM supplier
    ),
    sup_cells AS (
      SELECT s.s_suppkey, s.x, s.y,
             s.x // {_R} + o1.dx AS cx,
             s.y // {_R} + o2.dy AS cy
      FROM sup s
      CROSS JOIN (VALUES (-1), (0), (1)) o1(dx)
      CROSS JOIN (VALUES (-1), (0), (1)) o2(dy)
    )
    SELECT c.c_custkey,
           COUNT(s.s_suppkey) AS n_nearby,
           CAST(MIN((c.x - s.x) * (c.x - s.x)
                    + (c.y - s.y) * (c.y - s.y)) AS BIGINT) AS min_dist2
    FROM cust c
    LEFT JOIN sup_cells s
      ON s.cx = c.x // {_R} AND s.cy = c.y // {_R}
     AND (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) <= {_R2}
    GROUP BY c.c_custkey
    """,
)
def spatial_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius join: for every customer, how many suppliers sit within
    distance 5.0 on the synthetic map, and how close is the nearest —
    zero-neighbor customers kept with count 0 (LEFT join through the
    grid).

    The supplier (small) side is replicated into its nine neighboring
    cells — a constant-factor blow-up of the small side, the classic
    asymmetry choice — then the join is a cell-id equi-join with the
    exact integer distance predicate as a residual condition, so
    correctness never depends on the bucketing (cells only bound the
    candidate set; a point within radius is always within one cell).
    Per-customer aggregation reuses the join's output partitioning.
    COUNT counts the supplier key (null on no-match rows → 0), and
    min_dist2 is NULL for isolated customers in both engines."""
    cust, sup_cells, d2 = _grid_sides(spark, sf_dir)
    joined = cust.join(
        sup_cells,
        (F.col("cx") == F.expr(f"x div {_R}"))
        & (F.col("cy") == F.expr(f"y div {_R}"))
        & (d2 <= _R2),
        "left",
    )
    return joined.groupBy("c_custkey").agg(
        F.count("s_suppkey").alias("n_nearby"),
        F.min(d2).cast("bigint").alias("min_dist2"),
    )


#: neighbors kept per probe point
_KNN_K = 3


@query(
    "spatial_knn_grid",
    oracle=f"""
    WITH cust AS (
      SELECT c_custkey,
             {_CX.format(k="c_custkey")} AS x,
             {_CY.format(k="c_custkey")} AS y
      FROM customer
    ),
    sup AS (
      SELECT s_suppkey,
             {_CX.format(k="s_suppkey")} AS x,
             {_CY.format(k="s_suppkey")} AS y
      FROM supplier
    ),
    reps AS (
      SELECT s.s_suppkey, s.x, s.y,
             s.x // {_R} + o1.dx AS cx,
             s.y // {_R} + o2.dy AS cy
      FROM sup s
      CROSS JOIN (VALUES (-1), (0), (1)) o1(dx)
      CROSS JOIN (VALUES (-1), (0), (1)) o2(dy)
    ),
    cand AS (
      SELECT c.c_custkey, r.s_suppkey,
             (c.x - r.x) * (c.x - r.x) + (c.y - r.y) * (c.y - r.y) AS d2
      FROM cust c
      JOIN reps r ON r.cx = c.x // {_R} AND r.cy = c.y // {_R}
      WHERE (c.x - r.x) * (c.x - r.x) + (c.y - r.y) * (c.y - r.y)
            <= {_R2}
    ),
    ranked AS (
      SELECT c_custkey, s_suppkey, d2,
             ROW_NUMBER() OVER (PARTITION BY c_custkey
                                ORDER BY d2, s_suppkey) AS rn
      FROM cand
    )
    SELECT c_custkey, CAST(rn AS BIGINT) AS rn, s_suppkey,
           CAST(d2 AS BIGINT) AS d2
    FROM ranked WHERE rn <= {_KNN_K}
    """,
)
def spatial_knn_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-nearest-neighbors within radius: for every customer, the
    {_KNN_K} nearest suppliers among those within {_R} centi-units,
    via the same grid trick as ``spatial_grid_join`` — replicate the
    SMALL side into its 3×3 cell neighborhood (cells are radius-sized,
    so the neighborhood provably contains every in-radius candidate),
    equi-join on cell id, then a per-probe top-k window. Ties break on
    supplier key; distances are exact int64 — no floats anywhere.

    Scale: the big side shuffles once on cell id, the window partitions
    by probe key (millions of small partitions, the shape window
    functions scale best at), and candidate lists are bounded by
    spatial density — never all-pairs."""
    cust, reps, d2 = _grid_sides(spark, sf_dir)
    cand = (
        cust.join(
            F.broadcast(reps),
            (F.col("cx") == F.expr(f"x div {_R}"))
            & (F.col("cy") == F.expr(f"y div {_R}")),
        )
        .filter(d2 <= _R2)
        .select("c_custkey", "s_suppkey", d2.alias("d2"))
    )
    w = Window.partitionBy("c_custkey").orderBy("d2", "s_suppkey")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KNN_K)
        .select(
            "c_custkey",
            F.col("rn").cast("long").alias("rn"),
            "s_suppkey",
            F.col("d2").cast("long").alias("d2"),
        )
    )


# ---------------------------------------------------------------------------
# spatial_hotspot_clusters
# ---------------------------------------------------------------------------

def _hotspot_fwd_edges(dense: DataFrame) -> DataFrame:
    """Forward 8-neighbor adjacency over the dense-cell frame as an
    EQUI-join: explode each dense cell to its four forward-offset
    neighbor keys — (0,+1), (+1,-1), (+1,0), (+1,+1), exactly the
    neighbors with a LARGER cell id, since cell = cx·100000 + cy
    orders lexicographically on (cx, cy) and cy + 1 < 100000 at any
    achievable grid size (g ≈ √(n/4) stays far below 10⁵ even at
    sf 100000) — then hash-join the keys back against the dense-cell
    set.  Produces the identical edge set as the symmetric
    |Δcx| ≤ 1 ∧ |Δcy| ≤ 1 ∧ src < dst predicate, but plans as a
    shuffled/broadcast HASH join on the key: O(d) work instead of the
    O(d²) BroadcastNestedLoopJoin a theta join costs when the
    dense-cell count d grows with the corpus (the same
    replicate-into-neighbor-cells shape as ``spatial_knn_grid``)."""
    # guard the cy-wraparound edge of the packed key (ADVICE r8): at
    # cy = 0 the (+1,-1) offset would wrap to (cx, 99999) and at
    # cy = 99999 the +1 offsets would wrap to (cx+1, 0)/(cx+2, 0) —
    # unreachable at any achievable grid size, but gated here so a
    # future caller with a larger grid can never match a spurious key
    cy = F.col("cell") % 100000
    nbr = dense.select(
        F.col("cell").alias("src"),
        F.explode(
            F.array_compact(
                F.array(
                    F.when(cy < 99999, F.col("cell") + 1),  # (0, +1)
                    F.when(cy > 0, F.col("cell") + 100000 - 1),  # (+1, -1)
                    (F.col("cell") + 100000).cast("bigint"),  # (+1, 0)
                    F.when(cy < 99999, F.col("cell") + 100000 + 1),  # (+1,+1)
                )
            )
        ).alias("dst"),
    )
    return nbr.join(dense.select(F.col("cell").alias("dst")), "dst").select(
        "src", "dst"
    )


#: tile side for the block-local CC solve — a tile holds ≤ _TILE² =
#: 65 536 cells (≤ ~1.6 MB of union-find state per Arrow group), and
#: the tile key (cx div S)·4096 + (cy div S) is collision-free up to
#: g < 4096·_TILE ≈ 10⁶ grid rows (≈ sf 2.6·10⁷ — far past 100 TB)
_TILE = 256


def _hotspot_components(dense: DataFrame, fwd: DataFrame) -> DataFrame:
    """(cell, cluster) labels for the dense-cell adjacency graph —
    cluster = the component's minimum cell id, computed with the
    two-level decomposition production systems use for grid/DBSCAN
    merges at scale (the same philosophy as
    ``graph_connected_components``, graph.py): solve each size-bounded
    spatial TILE locally with an O(n α(n)) union-find inside one Arrow
    ``applyInPandas`` group, then run the iterative pointer-jump
    kernel only on the CONTRACTED tile-boundary graph (one node per
    tile-local sub-component touching a cross-tile edge).

    Why not the kernel over the raw cell graph: hotspot components are
    snake-shaped (the sf0.1 grid has a 1079-cell component of diameter
    ≈ 60 whose scrambled cell ids defeat the min-id shortcut — see
    functions/components.py), so the flat kernel needs ~62 rounds of
    Spark jobs. Tiling solves everything inside a tile in ONE stage;
    the residue graph is perimeter-sized (≤ 4·_TILE nodes per tile vs
    _TILE² cells) and its diameter is measured in TILE units, so the
    kernel's rounds drop by ~_TILE× on the same worst case. At the
    test scale factors the grid fits one tile and the kernel is
    skipped outright.

    Correctness does not depend on tile placement: local labels are
    minima of tile-local sub-components, the contracted closure merges
    them across boundary edges, and min(local minima over a component)
    = the component's global minimum — the exact labels the oracle's
    recursive CTE produces."""
    import pandas as pd

    def tile(col: str):  # exact integer arithmetic end to end
        return F.expr(
            f"(({col} div 100000) div {_TILE}) * 4096"
            f" + (({col} % 100000) div {_TILE})"
        )

    e = fwd.select(
        "src", "dst", tile("src").alias("t_src"), tile("dst").alias("t_dst")
    )

    def tile_uf(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict[int, int] = {}
        for a, b in zip(pdf["src"], pdf["dst"]):
            _uf_union(parent, int(a), int(b))
        keys = list(parent)
        return pd.DataFrame(
            {"node": keys, "lab": [_uf_find(parent, k) for k in keys]}
        )

    intra = e.filter(F.col("t_src") == F.col("t_dst"))
    loc = intra.groupBy("t_src").applyInPandas(
        tile_uf, schema="node bigint, lab bigint"
    )
    cell2loc = (
        dense.select("cell")
        .join(loc.withColumnRenamed("node", "cell"), "cell", "left")
        .select("cell", F.coalesce(F.col("lab"), F.col("cell")).alias("loc"))
        .localCheckpoint(eager=True)
    )
    cross = e.filter(F.col("t_src") != F.col("t_dst"))
    bedges = (
        cross.join(
            cell2loc.select(
                F.col("cell").alias("src"), F.col("loc").alias("lsrc")
            ),
            "src",
        )
        .join(
            cell2loc.select(
                F.col("cell").alias("dst"), F.col("loc").alias("ldst")
            ),
            "dst",
        )
        .filter(F.col("lsrc") != F.col("ldst"))
        .select(F.col("lsrc").alias("src"), F.col("ldst").alias("dst"))
    )
    n_cross = bedges.count()  # perimeter-bounded, one action
    if n_cross:
        glab = pointer_jump_components(bedges, n_bound=2 * n_cross)
        final = (
            cell2loc.join(
                glab.withColumnRenamed("node", "loc"), "loc", "left"
            )
            .select(
                "cell",
                F.coalesce(F.col("lab"), F.col("loc")).alias("cluster"),
            )
        )
    else:
        final = cell2loc.select(
            "cell", F.col("loc").alias("cluster")
        )
    return final


@query(
    "spatial_hotspot_clusters",
    oracle=f"""
    WITH RECURSIVE
    n_t AS (SELECT COUNT(*) AS n FROM customer),
    g_t AS (SELECT n, GREATEST(2, CAST(floor(sqrt(n / 4.0)) AS BIGINT))
                     AS g
            FROM n_t),
    pts AS (
      SELECT ({_CX.format(k="c_custkey")}) * g // 10000 AS cx,
             ({_CY.format(k="c_custkey")}) * g // 10000 AS cy,
             n, g
      FROM customer CROSS JOIN g_t
    ),
    cells AS (SELECT cx, cy, COUNT(*) AS cnt, MAX(n) AS n, MAX(g) AS g
              FROM pts GROUP BY cx, cy),
    dense AS (
      SELECT cx * 100000 + cy AS cell, cx, cy, cnt
      FROM cells
      WHERE 4 * g * g * cnt > 5 * n AND cnt >= 2
    ),
    fwd AS (
      SELECT a.cell AS src, b.cell AS dst
      FROM dense a JOIN dense b
        ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
       AND a.cell < b.cell
    ),
    edges AS (SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd),
    reach(node, lab) AS (
      SELECT cell, cell FROM dense
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node AS cell, MIN(lab) AS cluster FROM reach GROUP BY node)
    SELECT c.cluster AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(d.cnt) AS BIGINT) AS n_points,
           CAST(MAX(d.cnt) AS BIGINT) AS peak_cell_count
    FROM comp c JOIN dense d ON d.cell = c.cell
    GROUP BY c.cluster
    """,
)
def spatial_hotspot_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial hotspot detection: bucket customers onto an ADAPTIVE
    g×g density grid (g = ⌊√(n/4)⌋, so expected cell fill stays ≈4 at
    every data size — a fixed grid under-resolves small maps and
    washes out at scale), keep cells whose count exceeds 1.25× the
    uniform expectation with a two-point floor (exact integers:
    4·g²·cnt > 5·n AND cnt ≥ 2), and merge dense cells touching in
    the 8-neighborhood into clusters via connected components. The
    DBSCAN shape — density gate + neighborhood merge — expressed as
    equi-joins and the pointer-jump CC kernel instead of all-pairs
    distance scans; the report gives each hotspot's extent, mass, and
    peak-cell density.

    Scale: one groupBy collapses points to the cell grid (the only
    data-sized shuffle; the g² grid has ~n/4 cells, each a 16-byte
    row); the dense-cell adjacency is an explode-4-forward-offsets +
    EQUI-join on the neighbor cell key (``_hotspot_fwd_edges`` — O(d)
    hash-join work in the dense-cell count d, never the O(d²) nested
    loop a theta join would plan); components come from the two-level
    tile decomposition in ``_hotspot_components`` — size-bounded
    per-tile union-find in one Arrow stage, then the shared
    pointer-jump kernel (functions/components.py) on the contracted
    perimeter graph only — replayed exactly by the oracle's recursive
    closure.

    Determinism: g = max(2, ⌊√(n/4)⌋) derives from the exact count
    through one IEEE sqrt (identical on both engines); cell indices
    x·g // 10000 and the density gate are exact integers; cluster ids
    are component MINIMA (order-free); the kernel converges fully so
    labels equal the transitive closure."""
    c = table(spark, sf_dir, "customer")
    n_t = c.agg(F.count(F.lit(1)).alias("n"))
    g_t = n_t.select(
        "n",
        F.greatest(
            F.lit(2).cast("bigint"),
            F.floor(F.sqrt(F.col("n") / 4.0)).cast("bigint"),
        ).alias("g"),
    )
    pts = c.crossJoin(F.broadcast(g_t)).select(
        ((F.expr(_CX.format(k="c_custkey"))) * F.col("g") / 10000)
        .cast("bigint")
        .alias("cx"),
        ((F.expr(_CY.format(k="c_custkey"))) * F.col("g") / 10000)
        .cast("bigint")
        .alias("cy"),
        "n",
        "g",
    )
    cells = pts.groupBy("cx", "cy").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.max("n").alias("n"),
        F.max("g").alias("g"),
    )
    dense = cells.filter(
        (4 * F.col("g") * F.col("g") * F.col("cnt") > 5 * F.col("n"))
        & (F.col("cnt") >= 2)
    ).select(
        (F.col("cx") * 100000 + F.col("cy")).alias("cell"),
        "cx",
        "cy",
        "cnt",
    ).persist()
    # persist (r14): dense feeds both sides of the neighbor equi-join,
    # the component solve and the final rollup join — without a
    # barrier the customer scan + grid groupBy re-evaluates ~4x
    fwd = _hotspot_fwd_edges(dense)
    comp = dense.join(_hotspot_components(dense, fwd), "cell").select(
        "cell", "cnt", "cluster"
    )
    return comp.groupBy(F.col("cluster").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("cnt").cast("long").alias("n_points"),
        F.max("cnt").cast("long").alias("peak_cell_count"),
    )
