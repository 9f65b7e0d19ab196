"""Shared connected-components kernel (VERDICT r4 items 4+7).

One routine, two call sites: ``graph_connected_components`` (document
candidate-pair graph) and ``dedup_cluster_keeper`` (near-dup pair
closure). Both need the same thing — for every node of an undirected
edge list, the MINIMUM node id reachable from it — and both previously
carried their own loop (graph.py: pointer-jumped hash-min with an
upfront round bound; dedup.py: plain hash-min with a per-round
``changed`` count action, 20-round cap). This module unifies them and
removes every per-round driver action.

Pointer-jumped hash-min, per round: one edges⋈labels neighbor-min
aggregate, then one labels⋈labels shortcut join (labels chase 2^k hops
after k rounds). The edge set is static (checkpointed once); per-round
shuffle is |edges| + 2|nodes|. The large-star/small-star contraction
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC
2014) has the same O(log n) round bound but measured slower at sf0.1
(BENCH_NOTES.md round-5 section): its shrinking edge set does not pay
for the extra contraction join and the per-round edge checkpoint at
near-dup-graph shapes (shallow components, edge list ≪ corpus).

Termination: the convergence poll is the TERMINATOR,
not an optimization. The ⌈log₂ n_bound⌉ + 1 budget the kernel
originally stopped at is only the FRIENDLY-layout round count — the
shortcut doubles the min-id chase distance per round only when each
label points at a node whose own label is further along the chain,
which holds when ids decrease monotonically toward the component min
(near-dup stars, id-ordered chains) but NOT in general: the sf0.1
spatial hotspot grid (1381 dense cells, snake-shaped components with
scrambled cell ids) needs 2.5× that budget, and stopping at the budget
mislabeled 1003 of 1381 nodes. The sound worst-case bound is plain
hash-min's: diameter + 1 ≤ n_bound rounds (the jump step is monotone —
lab' = min(prop, prop∘prop) ≤ prop — so it never slows convergence).
The loop therefore polls label stability at every checkpoint boundary
and exits on the first stable window (a stable window of a monotone
update IS the fixpoint, and the fixpoint of symmetric neighbor-min is
the component minimum), with n_bound + 1 rounds as the never-reached
safety cap. At 100 TB rounds shuffle the PAIR list only — documents
never move.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: rounds between eager label checkpoints (and convergence polls).
#: Measured ~25% off wall time vs every round (r4); LONGER lineages
#: measured slower, not faster (round 5) — the re-planned multi-round
#: lineage grows superlinearly.
_CHECKPOINT_EVERY = 2


def pointer_jump_components(edges: DataFrame, n_bound: int) -> DataFrame:
    """Min-label propagation with pointer jumping over an undirected
    edge list. ``edges`` must have columns (src, dst) — one direction
    is enough, symmetrization happens here. Returns (node, lab) where
    lab is the component's minimum node id, for every node that
    appears in the edge list.

    ``n_bound``: any upper bound on the largest component's node count
    (callers pass a block-size max or a distinct-node count — one
    scalar action total). The loop runs until the label frame is
    STABLE across a checkpoint window (one tiny count action per
    ``_CHECKPOINT_EVERY`` rounds, NOT per round) — a stable window of
    this monotone min-update is the fixpoint, and the fixpoint equals
    the per-component minimum. ``n_bound + 1`` rounds is the safety
    cap (plain hash-min converges in diameter+1 ≤ n_bound rounds and
    the shortcut never slows it); the ⌈log₂ n_bound⌉+1 figure is only
    the friendly-id-layout round count, NOT a guarantee — see the
    module docstring for the grid-graph counterexample.

    Round-loop shuffle partitions are sized from the (already
    checkpointed, so cheap-to-count) edge list rather than the session
    default: CC rounds shuffle the PAIR list, typically orders of
    magnitude smaller than the corpus, and 32-partition task overhead
    on a few thousand pairs measured 2× the whole kernel's runtime
    (BENCH_NOTES.md round 5). The session conf is restored after the
    loop; every frame the loop hands back is materialized, so no lazy
    consumer sees the temporary setting."""
    spark = edges.sparkSession
    edges = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lab", F.col("node"))
        .localCheckpoint(eager=True)
    )
    n_edges = edges.count()
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    # ~1M pair rows per task, floor 4 so skew has room, capped at the
    # session setting (a 100 TB pair list keeps the full width)
    loop_parts = max(4, min(int(old_parts), n_edges // 1_000_000 + 4))
    # run to the convergence poll's fixpoint, capped by the sound
    # hash-min bound (diameter+1 ≤ n_bound)
    rounds = int(n_bound) + 1
    spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
    try:
        labels = _pointer_jump_rounds(edges, labels, rounds)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    return labels


def _pointer_jump_rounds(edges: DataFrame, labels: DataFrame, rounds: int) -> DataFrame:
    prev_ckpt = labels
    for i in range(rounds):
        neighbor_min = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node2"))
            .agg(F.min("lab").alias("nlab"))
        )
        propagated = labels.join(
            neighbor_min, labels.node == F.col("node2"), "left"
        ).select(
            "node",
            F.least(F.col("lab"), F.coalesce(F.col("nlab"), F.col("lab"))).alias(
                "lab"
            ),
        )
        # pointer jumping: follow each node's label to ITS label and
        # take the min — labels chase 2^k hops after k rounds, so a
        # diameter-D chain converges in O(log D) rounds, not D (the
        # shortcutting step of the classic PRAM/Pregel CC algorithms).
        x, y = propagated.alias("x"), propagated.alias("y")
        labels = x.join(y, F.col("x.lab") == F.col("y.node"), "left").select(
            F.col("x.node").alias("node"),
            F.least(
                F.col("x.lab"), F.coalesce(F.col("y.lab"), F.col("x.lab"))
            ).alias("lab"),
        )
        # an eager localCheckpoint is a full job; checkpoint every
        # _CHECKPOINT_EVERY rounds (lineage stays trivially small) and
        # always on the last round so the closing aggregate reads a
        # flat plan
        if i % _CHECKPOINT_EVERY == _CHECKPOINT_EVERY - 1 or i == rounds - 1:
            labels = labels.localCheckpoint(eager=True)
            if i < rounds - 1:
                changed = (
                    labels.alias("n")
                    .join(prev_ckpt.alias("o"), "node")
                    .filter(F.col("n.lab") != F.col("o.lab"))
                    .count()
                )
                if changed == 0:
                    break
                prev_ckpt = labels
    return labels

