"""Mergeable-sketch operators round 4: Apache DataSketches HLL and the
space-saving top-k sketch — the approximate-aggregation tier that keeps
100 TB interactive.

Sketches earn their place through MERGEABILITY: partial sketches built
map-side combine associatively, so network cost is sketch-size, not
data-size — the same property the decimal-sum scheme gives exact
aggregates, extended to distinct-count and heavy-hitter problems where
no exact constant-state aggregate exists.

The mergeable-sketch tier beyond HLL: Count-Min frequency and
K-minimum-values distinct.

Engine parity strategy: both sketches are DETERMINISTIC functions of
the data given their hash functions, and the hash functions (sha256
hex prefixes, the ``features_hashing_trick`` idiom — Spark
``conv(substr(sha2(...),...),16,10)`` ≡ DuckDB
``CAST('0x'||substr(sha256(...),...) AS BIGINT)``) are computable in
BOTH engines — so the oracle recomputes the ESTIMATES themselves and
the driver hash compares them exactly. No probabilistic tolerance
flags needed (contrast sketch_hll_mergeable, whose engine-internal
sketch forces an exact-count + in-tolerance-flag contract).

- ``sketch_bloom_filter``: a 1024-bit Bloom filter over one segment's
  customers (32×32-bit words, 3 audited mix hashes), probed by another
  key set WITH exact verification — claimed vs actual membership and
  the realized false-positive rate.

- ``sketch_theta_intersection``: theta-sketch set intersection
  (DataSketches' KMV-theta family) between event-type audiences, with
  the exact intersection alongside — mergeable set operations beyond
  sketch_kmv_distinct's single-set estimate.

The mergeable quantile sketch:

- ``sketch_kll_quantiles``: a KLL-class mergeable quantile sketch over
  order values, with the random compaction coin replaced by a
  hash-of-key bit so the sketch is a pure function of the SET —
  order-free, exactly mergeable, and replayable by the DuckDB oracle.
  Reports p50/p95/p99 estimates against the exact total-order answers.
- ``sketch_kll_merge``: the mergeability demonstration — per-priority
  sketches built at their own (coarser) levels, merged by recompacting
  the union to the global level, with per-scope estimate vs exact
  medians. Hash-driven compaction makes merge LOSSLESS with respect to
  the direct sketch of the union: recompacting to level L keeps
  exactly the keys with hash ≡ 0 (mod 2^L), the same set direct
  sketching keeps — the property random-coin KLL only has in
  distribution, this sketch has by identity.

KLL framing, stated precisely: a KLL sketch compacted to completion
keeps the items that survived every level-0..L-1 compaction; with the
compaction coin replaced by "keep iff bit k of hash(key) is 0", the
survivor set is {key : hash(key) ≡ 0 mod 2^L} with uniform weight 2^L
— the fully-compacted sketch IS deterministic hash-sampling, which is
what makes it oracle-replayable and exactly mergeable. Error is the
subsample rank error O(1/√(n/2^L)); the level rule n ≤ B·2^L bounds
the kept set near the budget B. The hash is the repo's audited
full-entropy mix ((key % 3221225473) · 2654435761 — overflow-scanned
by tests/test_ansi_edges.py); its low L bits equal the low L bits of
key % 3221225473 times an odd constant, a bijection on Z/2^L, so the
keep predicate is uniform across key residues.

Determinism: levels, keep predicates, ranks, and target ranks are
exact integer arithmetic ((n·qn + 99) div 100 — never float ceil);
estimates and exact answers are cents at selected ranks of the
(cents, key) total order.

The persisted-sketch rollup.

``sketch_kll_partitioned_rollup`` closes the loop the in-memory KLL
pair (``sketch_kll_merge``) opened: it proved the hash-compaction sketch
merges losslessly WITHIN one job; this query proves the same property
ACROSS a storage boundary — the shape a 100 TB pipeline actually uses,
where ingest writes one quantile sketch per table partition and later
readers roll partitions up without rescanning the base data.

Pipeline under test:

1. shard orders by calendar month (a stand-in for a partitioned
   table's partition key), pick each shard's own level
   L_s = min{l : n_s ≤ B·2^l}, and WRITE the shard sketches — kept
   (cents, key) rows plus the (n_s, level) metadata — to parquet,
   ``partitionBy`` the shard key, via the staged-write pattern
   (scratch.py);
2. READ the sketch files back (the base table is not touched again),
   derive the global level from the stored shard metadata alone, and
   MERGE by recompaction: re-filter the stored union with the global
   level's hash predicate;
3. compare against the DIRECT global sketch (base table filtered at
   the global level): p50/p95/p99 estimates side by side plus
   ``set_diff`` — the symmetric difference of the two kept KEY sets,
   which the hash-compaction identity pins at exactly 0 (hash ≡ 0
   mod 2^L_global ⇒ hash ≡ 0 mod 2^L_shard since L_global ≥ L_shard,
   the level rule being monotone in n).

The DuckDB oracle replays every step from the base table — the stored
parquet is a pure function of it, so the oracle needs no access to the
scratch files; the Spark side's round-trip through disk is exactly
what the hash comparison then certifies.

Determinism: levels, keep predicates, ranks, and rank targets are the
in-memory KLL sketch's exact integer arithmetic; the key hash is the audited
full-entropy mix (stays in int64 on the full key domain —
tests/test_ansi_edges.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_etl_sample_spark.functions.determinism import _CENTS
from python_etl_sample_spark.functions.total_order import attach_global_order
from python_etl_sample_spark.registry import query
from python_etl_sample_spark.scratch import stage_once
from python_etl_sample_spark.sources import table


@query(
    "agg_approx_topk",
    oracle="""
    SELECT o_orderpriority AS item, COUNT(*) AS cnt
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the space-saving sketch (``approx_top_k``),
    sized so the sketch is provably EXACT: with maxItemsTracked ≥ the
    domain size (5 priorities ≪ 64 tracked), every counter is an exact
    count and the result equals the groupBy — which is exactly what the
    oracle checks. The top-k request covers the whole domain so no
    tie-at-the-cutoff can make item selection engine-dependent.

    That is the honest contract for sketch top-k at 100 TB: exact while
    the tracked set covers the hot domain, graceful (bounded-error,
    bounded-memory) once it doesn't — versus the exact groupBy whose
    state grows with the key count. The sketch merges associatively
    map-side, so the shuffle carries one ~KB sketch per partition."""
    o = table(spark, sf_dir, "orders")
    sk = o.agg(
        F.expr("approx_top_k(o_orderpriority, 10, 64)").alias("topk")
    )
    item = F.explode("topk").alias("entry")
    return (
        sk.select(item)
        .select(
            F.col("entry.item").alias("item"),
            F.col("entry.count").alias("cnt"),
        )
    )


@query(
    "sketch_hll_mergeable",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_distinct,
           1 AS est_in_5pct,
           'per_flag' AS level
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT 'ALL' AS l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_distinct,
           1 AS est_in_5pct,
           'union' AS level
    FROM lineitem
    """,
)
def sketch_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct part-keys per return flag via DataSketches HLL, plus the
    UNION of the per-flag sketches re-estimated as a global count —
    demonstrating the property that makes sketches the 100 TB distinct
    path: partial sketches merge associatively (hll_union_agg), so
    rollups reuse leaf sketches instead of rescanning data.

    Oracle-checked since round 5 via the agg_approx_distinct pattern:
    the raw estimate is engine-specific (DuckDB's HLL differs), so the
    hashed output carries the EXACT count plus a 1/0 flag asserting the
    sketch estimate landed within 5% of it — the oracle asserts the
    flag is 1, so a sketch-accuracy regression (including in the merged
    union sketch, whose error compounds) becomes a driver hash
    MISMATCH instead of an eyeball check. Default lgK ≈ 1-2% error;
    5% is the alarm threshold."""
    li = table(spark, sf_dir, "lineitem")
    per_flag = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey").alias("sk"),
        F.countDistinct("l_partkey").alias("exact_distinct"),
    )
    in_tol = (
        F.abs(
            F.hll_sketch_estimate(F.col("sk")).cast("double")
            - F.col("exact_distinct")
        )
        / F.col("exact_distinct")
        <= 0.05
    )
    per_flag_est = per_flag.select(
        "l_returnflag",
        "exact_distinct",
        F.when(in_tol, F.lit(1)).otherwise(F.lit(0)).alias("est_in_5pct"),
        F.lit("per_flag").alias("level"),
    )
    global_exact = li.agg(
        F.countDistinct("l_partkey").alias("exact_distinct")
    )
    union_est = per_flag.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    global_row = (
        union_est.crossJoin(F.broadcast(global_exact))
        .select(
            F.lit("ALL").alias("l_returnflag"),
            "exact_distinct",
            F.when(
                F.abs(F.col("est").cast("double") - F.col("exact_distinct"))
                / F.col("exact_distinct")
                <= 0.05,
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("est_in_5pct"),
            F.lit("union").alias("level"),
        )
    )
    return per_flag_est.unionAll(global_row)


#: Count-Min geometry: depth 4 independent hash rows, width 256 —
#: small enough that collisions are OBSERVABLE at sf0.1 (1.5k users
#: over 256 buckets), so the estimate genuinely over-counts somewhere
#: and the parity check exercises the min-over-rows logic.
_CMS_DEPTH = 4
_CMS_WIDTH = 256

#: KMV: k smallest 48-bit hashes; 12 hex sha256 digits < 2^48 parse
#: exactly in both engines' int64.
_KMV_K = 64
_KMV_SPACE = float(1 << 48)


def _spark_hexhash(col, nhex: int, salt=None):
    """First ``nhex`` hex digits of sha256 as a bigint — engine-identical
    with the DuckDB twin in the oracles below."""
    s = col.cast("string") if salt is None else F.concat(col.cast("string"), salt)
    return F.conv(F.substring(F.sha2(s, 256), 1, nhex), 16, 10).cast("bigint")


@query(
    "sketch_cms_frequency",
    oracle=f"""
    WITH ev AS (SELECT user_id FROM events),
    exact AS (
      SELECT user_id, COUNT(*) AS n_exact FROM ev GROUP BY user_id
    ),
    hashed AS (
      SELECT user_id, d.d,
             CAST(('0x' || substr(sha256(CAST(user_id AS VARCHAR)
                                         || ':' || CAST(d.d AS VARCHAR)),
                                  1, 6)) AS BIGINT) % {_CMS_WIDTH} AS bucket
      FROM ev, (SELECT UNNEST(range(0, {_CMS_DEPTH})) AS d) AS d
    ),
    cells AS (
      SELECT d, bucket, COUNT(*) AS cell
      FROM hashed GROUP BY d, bucket
    ),
    probes AS (
      SELECT e.user_id, e.n_exact, d.d,
             CAST(('0x' || substr(sha256(CAST(e.user_id AS VARCHAR)
                                         || ':' || CAST(d.d AS VARCHAR)),
                                  1, 6)) AS BIGINT) % {_CMS_WIDTH} AS bucket
      FROM exact e, (SELECT UNNEST(range(0, {_CMS_DEPTH})) AS d) AS d
    )
    SELECT p.user_id,
           MAX(p.n_exact) AS n_exact,
           CAST(MIN(c.cell) AS BIGINT) AS cms_est,
           CASE WHEN CAST(MIN(c.cell) AS BIGINT) > MAX(p.n_exact)
                THEN 1 ELSE 0 END AS overcounted
    FROM probes p
    JOIN cells c ON c.d = p.d AND c.bucket = p.bucket
    GROUP BY p.user_id
    """,
)
def sketch_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch frequency estimation over event users: depth-4
    width-256 counter array built in ONE distributed pass (a
    (row, bucket) groupBy — each array cell is an ordinary aggregate
    group), probed with min-over-rows. CMS never undercounts
    (est ≥ exact always — tests pin it); the ``overcounted`` flag marks
    users whose estimate collided upward.

    r14 reshape (guide §2.3 "aggregate before you shuffle"): the cell
    hash depends only on (user_id, d), so the per-user exact counts —
    needed anyway for the probe side — are aggregated FIRST and each
    (d, bucket) cell is the SUM of its users' counts, identical to
    counting raw events there. sha256 evaluations drop from
    depth×|events| to depth×|users| and the cells shuffle carries
    per-user partials instead of raw event rows. Mergeability is
    unchanged (cells are still sums — shards union via the same
    groupBy), and at 100 TB the event-sized pass is the one that
    matters. Plan: one event-sized shuffle (the user rollup, shared by
    build and probe sides) + tiny (d, bucket) aggregates; nothing
    holds the 1024-cell array in one place — it IS a DataFrame."""
    ev = table(spark, sf_dir, "events").select("user_id")
    depths = F.explode(F.array(*[F.lit(d) for d in range(_CMS_DEPTH)])).alias("d")
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_exact"))
    hashed = exact.select("user_id", "n_exact", depths).withColumn(
        "bucket",
        _spark_hexhash(
            F.col("user_id"), 6, salt=F.concat(F.lit(":"), F.col("d").cast("string"))
        )
        % _CMS_WIDTH,
    )
    cells = hashed.groupBy("d", "bucket").agg(F.sum("n_exact").alias("cell"))
    probes = exact.select("user_id", "n_exact", depths).withColumn(
        "bucket",
        _spark_hexhash(
            F.col("user_id"), 6, salt=F.concat(F.lit(":"), F.col("d").cast("string"))
        )
        % _CMS_WIDTH,
    )
    return (
        probes.join(cells, ["d", "bucket"])
        .groupBy("user_id")
        .agg(
            F.max("n_exact").alias("n_exact"),
            F.min("cell").cast("bigint").alias("cms_est"),
        )
        .withColumn(
            "overcounted",
            F.when(F.col("cms_est") > F.col("n_exact"), 1).otherwise(0),
        )
    )


@query(
    "sketch_kmv_distinct",
    oracle=f"""
    WITH hv AS (
      SELECT DISTINCT event_type,
             CAST(('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 12))
                  AS BIGINT) AS h
      FROM events
    ),
    ranked AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS r,
             COUNT(*) OVER (PARTITION BY event_type) AS n_hashes
      FROM hv
    ),
    kth AS (
      SELECT event_type, MAX(n_hashes) AS n_hashes,
             MAX(CASE WHEN r = {_KMV_K} THEN h END) AS kth_h
      FROM ranked GROUP BY event_type
    ),
    exact AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS n_exact FROM events
      GROUP BY event_type
    )
    SELECT e.event_type, e.n_exact,
           ROUND(CASE WHEN k.n_hashes < {_KMV_K}
                      THEN CAST(e.n_exact AS DOUBLE)
                      ELSE ({_KMV_K} - 1) * {_KMV_SPACE!r} / k.kth_h
                 END, 6) AS kmv_est
    FROM exact e JOIN kth k ON e.event_type = k.event_type
    """,
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch per event type: hash every
    user to 48 bits, keep the {_KMV_K} smallest distinct hashes, estimate
    distinct = (k−1)·2⁴⁸ / kth-smallest-hash (Bar-Yossef et al.; the
    Theta/KMV family DataSketches ships). Falls back to the exact count
    when fewer than k distinct hashes exist (exercised at sf0.001).

    MERGEABLE by the k-smallest identity: the k smallest of a union is
    the k smallest of the per-shard k-smallest sets — so shards keep 64
    hashes each, the union re-sorts 64·shards values, and no shard ever
    sees another's raw users. The estimate is a pure function of the
    data (no RNG, no engine sketch internals), so the oracle recomputes
    it bit-for-bit: one deterministic double division, rounded.
    Plan: dedup-shuffle on (type, hash), then a per-type window over ≤
    distinct-users rows; at 100 TB the dedup pre-aggregates map-side
    and the window input is already k-truncatable per partition."""
    ev = table(spark, sf_dir, "events")
    # r14 (guide §2.3): dedup the 8-byte (type, user) pairs FIRST, hash
    # after — sha256 runs once per distinct pair, not once per event.
    # The second distinct keeps the original (type, h)-level dedup
    # semantics exactly (it collapses only 48-bit hash collisions, and
    # runs over the already-tiny distinct frame).
    hv = (
        ev.select("event_type", "user_id")
        .distinct()
        .select("event_type", _spark_hexhash(F.col("user_id"), 12).alias("h"))
        .distinct()
    )
    w = Window.partitionBy("event_type").orderBy("h")
    ranked = hv.select(
        "event_type",
        "h",
        F.row_number().over(w).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n_hashes"),
    )
    kth = ranked.groupBy("event_type").agg(
        F.max("n_hashes").alias("n_hashes"),
        F.max(F.when(F.col("r") == _KMV_K, F.col("h"))).alias("kth_h"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return exact.join(kth, "event_type").select(
        "event_type",
        "n_exact",
        F.round(
            F.when(
                F.col("n_hashes") < _KMV_K, F.col("n_exact").cast("double")
            ).otherwise(F.lit((_KMV_K - 1) * _KMV_SPACE) / F.col("kth_h")),
            6,
        ).alias("kmv_est"),
    )


# ---------------------------------------------------------------------------
# sketch_bloom_filter
# ---------------------------------------------------------------------------

_BF_BITS = 1024
_BF_WORDS = 32  # 32-bit payload per BIGINT word: 1 << bit stays positive
_BF_K = 3


def _bf_hash_sql(key: str, t: int) -> str:
    """t-th audited mix hash of ``key`` onto the bit space."""
    return (
        f"((({key} % 3221225473) * 2654435761 + {t} * 2246822519)"
        f" % {_BF_BITS})"
    )


@query(
    "sketch_bloom_filter",
    oracle=f"""
    WITH members AS (
      SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    bits AS (
      SELECT {_bf_hash_sql('key', 0)} AS h FROM members
      UNION ALL SELECT {_bf_hash_sql('key', 1)} FROM members
      UNION ALL SELECT {_bf_hash_sql('key', 2)} FROM members
    ),
    words AS (
      SELECT h // 32 AS w, BIT_OR(1::BIGINT << (h % 32)) AS bm
      FROM bits GROUP BY h // 32
    ),
    probes AS (
      SELECT c_custkey AS key,
             MAX(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END)
               AS is_member
      FROM customer GROUP BY c_custkey
    ),
    probe_bits AS (
      SELECT key, is_member, {_bf_hash_sql('key', 0)} AS h FROM probes
      UNION ALL SELECT key, is_member, {_bf_hash_sql('key', 1)} FROM probes
      UNION ALL SELECT key, is_member, {_bf_hash_sql('key', 2)} FROM probes
    ),
    claimed AS (
      SELECT p.key, p.is_member,
             MIN(CASE WHEN w.bm IS NOT NULL
                       AND (w.bm & (1::BIGINT << (p.h % 32)))
                           = (1::BIGINT << (p.h % 32))
                  THEN 1 ELSE 0 END) AS hit
      FROM probe_bits p LEFT JOIN words w ON w.w = p.h // 32
      GROUP BY p.key, p.is_member
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(hit) AS BIGINT) AS n_claimed,
           CAST(SUM(is_member) AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN hit = 1 AND is_member = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positive,
           round(SUM(CASE WHEN hit = 1 AND is_member = 0 THEN 1 ELSE 0 END)
                 * 1.0
                 / NULLIF(COUNT(*) - SUM(is_member), 0), 6) AS fpr
    FROM claimed
    """,
)
def sketch_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A {_BF_BITS}-bit Bloom filter over the BUILDING segment's
    customer keys (k = {_BF_K} audited mix hashes, {_BF_WORDS} BIGINT
    words carrying 32 bits each so ``1 << bit`` never leaves positive
    int64 in either engine), probed by EVERY customer key and verified
    exactly: claimed membership vs true membership and the realized
    false-positive rate — the honest version of a sketch demo, where
    the error is measured rather than assumed.

    Everything is integer: bit positions from the overflow-swept mix
    family, the filter as BIT_OR-aggregated words, membership as
    mask-AND equality folded with MIN over the k probes. The single
    float is the final FPR division.

    Scale: the filter build is one {_BF_WORDS}-group BIT_OR aggregate
    (map-side combined — each task emits at most {_BF_WORDS} words);
    the probe side joins on word index against the {_BF_WORDS}-row
    broadcast filter — the exact shape of a distributed Bloom-join
    runtime filter (join_bloom_runtime consumes Spark's built-in one;
    this operator shows the mechanism itself, verifiable bit by bit)."""
    c = table(spark, sf_dir, "customer")
    members = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("key")
    )

    def hashes(df: DataFrame, extra: list[str]) -> DataFrame:
        hs = [
            (
                (
                    (F.col("key") % 3221225473) * 2654435761
                    + t * 2246822519
                )
                % _BF_BITS
            ).alias(f"h{t}")
            for t in range(_BF_K)
        ]
        wide = df.select("key", *extra, *hs)
        return wide.select(
            "key",
            *extra,
            F.explode(F.array(*[F.col(f"h{t}") for t in range(_BF_K)])).alias(
                "h"
            ),
        )

    bits = hashes(members, [])
    one_shift = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(h % 32 AS INT))")
    words = bits.groupBy((F.col("h") / 32).cast("long").alias("w")).agg(
        F.bit_or(one_shift).alias("bm")
    )
    probes = c.groupBy(F.col("c_custkey").alias("key")).agg(
        F.max(
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0)
        ).alias("is_member")
    )
    pb = hashes(probes, ["is_member"])
    mask = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(h % 32 AS INT))")
    claimed = (
        pb.join(F.broadcast(words), (F.col("h") / 32).cast("long") == F.col("w"), "left")
        .groupBy("key", "is_member")
        .agg(
            F.min(
                F.when(
                    F.col("bm").isNotNull()
                    & (F.col("bm").bitwiseAND(mask) == mask),
                    1,
                ).otherwise(0)
            ).alias("hit")
        )
    )
    return claimed.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum("hit").cast("long").alias("n_claimed"),
        F.sum("is_member").cast("long").alias("n_members"),
        F.sum(
            F.when((F.col("hit") == 1) & (F.col("is_member") == 0), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("n_false_positive"),
        F.round(
            F.sum(
                F.when(
                    (F.col("hit") == 1) & (F.col("is_member") == 0), 1
                ).otherwise(0)
            )
            * 1.0
            / F.nullif(
                F.count(F.lit(1)) - F.sum("is_member"), F.lit(0)
            ),
            6,
        ).alias("fpr"),
    )


# ---------------------------------------------------------------------------
# sketch_theta_intersection
# ---------------------------------------------------------------------------

_TH_K = 64
_TH_SPACE = float(1 << 48)


@query(
    "sketch_theta_intersection",
    oracle=f"""
    WITH hv AS (
      SELECT DISTINCT event_type,
             user_id,
             CAST(('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 12))
                  AS BIGINT) AS h
      FROM events
    ),
    ranked AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS r
      FROM hv
    ),
    theta AS (
      -- unsaturated sketches (< k hashes) keep theta = full space:
      -- the estimate degrades to the exact sample intersection
      SELECT event_type,
             COALESCE(MAX(CASE WHEN r = {_TH_K} THEN h END),
                      CAST({_TH_SPACE!r} AS BIGINT)) AS th
      FROM ranked GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             LEAST(ta.th, tb.th) AS theta_ab
      FROM (SELECT DISTINCT event_type FROM events) a
      JOIN (SELECT DISTINCT event_type FROM events) b
        ON a.event_type < b.event_type
      JOIN theta ta ON ta.event_type = a.event_type
      JOIN theta tb ON tb.event_type = b.event_type
    ),
    inter_sample AS (
      SELECT p.type_a, p.type_b, p.theta_ab, COUNT(*) AS n_below
      FROM pairs p
      JOIN hv x ON x.event_type = p.type_a AND x.h < p.theta_ab
      JOIN hv y ON y.event_type = p.type_b AND y.h = x.h
      GROUP BY p.type_a, p.type_b, p.theta_ab
    ),
    exact AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(DISTINCT a.user_id) AS n_exact
      FROM (SELECT DISTINCT event_type, user_id FROM events) a
      JOIN (SELECT DISTINCT event_type, user_id FROM events) b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT e.type_a, e.type_b, e.n_exact,
           COALESCE(i.n_below, 0) AS n_sample,
           round(COALESCE(i.n_below, 0) * {_TH_SPACE!r} / i.theta_ab, 6)
             AS theta_est
    FROM exact e
    LEFT JOIN inter_sample i
      ON i.type_a = e.type_a AND i.type_b = e.type_b
    """,
)
def sketch_theta_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch audience intersection (the DataSketches KMV-theta
    family): per event type keep the {_TH_K} smallest 48-bit user
    hashes; for each type pair, θ_AB = min(θ_A, θ_B) and the
    intersection estimate is |{{h < θ_AB in both samples}}| · 2⁴⁸ / θ_AB
    — SET OPERATIONS on mergeable sketches, which the single-set
    sketch_kmv_distinct cannot express. Exact intersection counts ride
    along so the estimator's error is inspectable at fixture scale.

    Determinism: the hash family is the audited sha256-prefix bigint;
    θ and the sample membership are exact integers; the estimate is one
    double division, rounded 6 dp.

    Scale: sketches are (type, 64 hashes) — constant per type; the
    pair expansion is |types|² rows of constants; only the EXACT
    baseline (fixture-scale instrumentation) touches the full
    (type, user) frame, and a production deployment drops it — the
    sketch path never rescans raw events after the one dedup-shuffle."""

    ev = table(spark, sf_dir, "events")
    # r14 (guide §2.3): dedup (type, user) FIRST, hash after — the
    # sha256 family runs once per distinct pair instead of once per
    # event, and the same distinct subtree feeds hv AND the exact
    # baseline's du below (runtime exchange reuse scans events once).
    # Identical rows: h is a pure function of user_id, so distinct
    # before or after hashing is the same set.
    du = ev.select("event_type", "user_id").distinct()
    hv = du.select(
        "event_type", "user_id", _spark_hexhash(F.col("user_id"), 12).alias("h")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    theta = (
        hv.select("event_type", "h", F.row_number().over(w).alias("r"))
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("r") == _TH_K, F.col("h"))),
                F.lit(int(_TH_SPACE)).cast("bigint"),
            ).alias("th")
        )
    )
    types = ev.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .join(
            types.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
        .join(
            F.broadcast(theta.select(F.col("event_type").alias("type_a"),
                                     F.col("th").alias("th_a"))),
            "type_a",
        )
        .join(
            F.broadcast(theta.select(F.col("event_type").alias("type_b"),
                                     F.col("th").alias("th_b"))),
            "type_b",
        )
        .select(
            "type_a", "type_b", F.least("th_a", "th_b").alias("theta_ab")
        )
    )
    xa = hv.select(F.col("event_type").alias("type_a"), "h")
    xb = hv.select(F.col("event_type").alias("type_b"), "h")
    inter_sample = (
        pairs.join(xa, "type_a")
        .filter(F.col("h") < F.col("theta_ab"))
        .join(xb, ["type_b", "h"])
        .groupBy("type_a", "type_b", "theta_ab")
        .agg(F.count(F.lit(1)).alias("n_below"))
    )
    exact = (
        du.select(F.col("event_type").alias("type_a"), "user_id")
        .join(
            du.select(F.col("event_type").alias("type_b"), "user_id"),
            "user_id",
        )
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count_distinct("user_id").alias("n_exact"))
    )
    return (
        exact.join(inter_sample, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            "n_exact",
            F.coalesce("n_below", F.lit(0)).alias("n_sample"),
            F.round(
                F.coalesce("n_below", F.lit(0)) * _TH_SPACE / F.col("theta_ab"),
                6,
            ).alias("theta_est"),
        )
    )


#: sketch budget (kept-item target) for the global sketch
_KLL_B = 2048
#: per-scope budget for the merge demonstration (coarser on purpose —
#: it forces distinct per-group levels and a real recompaction)
_KLL_MB = 512
#: audited full-entropy key mix (see tests/test_ansi_edges.py)
_KLL_HASH = "((o_orderkey % 3221225473) * 2654435761)"
_KLL_QS = (50, 95, 99)


# ---------------------------------------------------------------------------
# sketch_kll_quantiles
# ---------------------------------------------------------------------------

@query(
    "sketch_kll_quantiles",
    oracle=f"""
    WITH n_t AS (SELECT COUNT(*) AS n FROM orders),
    lv AS (
      SELECT MIN(l) AS lev, MAX(n) AS n
      FROM range(0, 41) t(l) CROSS JOIN n_t
      WHERE n <= {_KLL_B} * ((1::BIGINT) << l)
    ),
    smp AS (
      SELECT {_CENTS} AS cents, o_orderkey AS k
      FROM orders CROSS JOIN lv
      WHERE ({_KLL_HASH} % ((1::BIGINT) << lev)) = 0
    ),
    srank AS (
      SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, k) AS rn,
             COUNT(*) OVER () AS kept
      FROM smp
    ),
    frank AS (
      SELECT {_CENTS} AS cents,
             ROW_NUMBER() OVER (ORDER BY {_CENTS}, o_orderkey) AS rn
      FROM orders
    ),
    q AS (SELECT UNNEST([{",".join(str(q) for q in _KLL_QS)}]) AS qn),
    t AS (
      SELECT q.qn, lv.n, lv.lev, s.kept,
             (s.kept * q.qn + 99) // 100 AS st,
             (lv.n * q.qn + 99) // 100 AS ft
      FROM q CROSS JOIN lv CROSS JOIN (SELECT MAX(kept) AS kept
                                       FROM srank) s
    )
    SELECT t.qn / 100.0 AS quantile,
           CAST(t.n AS BIGINT) AS n_rows,
           CAST(t.lev AS BIGINT) AS level,
           CAST(t.kept AS BIGINT) AS kept,
           CAST(sr.cents AS BIGINT) AS est_cents,
           CAST(fr.cents AS BIGINT) AS exact_cents
    FROM t
    JOIN srank sr ON sr.rn = t.st
    JOIN frank fr ON fr.rn = t.ft
    """,
)
def sketch_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (KLL with hash-deterministic
    compaction, fully compacted — see module docstring) over order
    value cents: pick the level L as the smallest integer with
    n ≤ {B}·2^L, keep the rows whose audited key-hash is ≡ 0 mod 2^L
    (each carrying weight 2^L), and estimate p50/p95/p99 as the kept
    values at sample ranks ⌈q·kept⌉ — reported side by side with the
    EXACT total-order answers at ranks ⌈q·n⌉ so the error is visible
    in the output row itself.

    This fills the sketch tier's quantile gap (HLL/KMV/CMS/Bloom/theta
    cover cardinality and membership): unlike percentile_approx, the
    kept set is a pure function of the data — two sketches over
    disjoint shards merge by recompacting the union to the coarser
    level and give the IDENTICAL result direct sketching gives
    (demonstrated by ``sketch_kll_merge``), which is what makes
    pre-aggregated rollups sound at 100 TB.

    Scale: the keep predicate is a map-side filter (pushdown-adjacent:
    scan → filter before any shuffle); the kept frame is ~B rows
    regardless of corpus size, so its ranking is constant work; the
    exact side is one pass of the range-partitioned total-order kernel
    — included here for the comparison, omitted in production use
    where the sketch replaces it. Everything is exact integers.
    """
    o = table(spark, sf_dir, "orders")
    n_t = o.agg(F.count(F.lit(1)).alias("n"))
    lv = (
        spark.range(0, 41)
        .withColumnRenamed("id", "l")
        .crossJoin(F.broadcast(n_t))
        .filter(F.col("n") <= _KLL_B * F.expr("shiftleft(CAST(1 AS BIGINT), CAST(l AS INT))"))
        .agg(F.min("l").alias("lev"), F.max("n").alias("n"))
    )
    modulus = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(lev AS INT))")
    smp = (
        o.select(
            F.expr(_CENTS).alias("cents"), F.col("o_orderkey").alias("k")
        )
        .crossJoin(F.broadcast(lv))
        .filter(
            ((F.col("k") % 3221225473) * 2654435761) % modulus == 0
        )
    )
    srank = attach_global_order(
        smp.select("cents", "k"),
        [F.asc("cents"), F.asc("k")],
        rn="rn",
        total_count="kept",
    )
    frank = attach_global_order(
        o.select(F.expr(_CENTS).alias("cents"), "o_orderkey"),
        [F.asc("cents"), F.asc("o_orderkey")],
        rn="rn",
    )
    kept_t = srank.agg(F.max("kept").alias("kept"))
    targets = (
        spark.createDataFrame([(q,) for q in _KLL_QS], "qn int")
        .crossJoin(F.broadcast(lv))
        .crossJoin(F.broadcast(kept_t))
        .select(
            "qn",
            "n",
            "lev",
            "kept",
            F.expr("(kept * qn + 99) div 100").alias("st"),
            F.expr("(n * qn + 99) div 100").alias("ft"),
        )
    )
    return (
        srank.select(F.col("rn").alias("st"), F.col("cents").alias("est_cents"))
        .join(F.broadcast(targets), "st")
        .join(
            frank.select(
                F.col("rn").alias("ft"), F.col("cents").alias("exact_cents")
            ),
            "ft",
        )
        .select(
            (F.col("qn") / 100.0).alias("quantile"),
            F.col("n").cast("long").alias("n_rows"),
            F.col("lev").cast("long").alias("level"),
            F.col("kept").cast("long").alias("kept"),
            F.col("est_cents").cast("long").alias("est_cents"),
            F.col("exact_cents").cast("long").alias("exact_cents"),
        )
    )


# ---------------------------------------------------------------------------
# sketch_kll_merge
# ---------------------------------------------------------------------------

def _kll_merge_scope_ctes() -> str:
    """Shared CTE body: the scoped frame (each order under its own
    priority AND under 'ALL'), per-scope levels, per-scope sketches
    built group-locally then MERGED into the ALL scope by recompaction
    (union of group sketches re-filtered to the global level)."""
    return f"""
    scoped AS (
      SELECT o_orderpriority AS scope, {_CENTS} AS cents, o_orderkey AS k
      FROM orders
      UNION ALL
      SELECT 'ALL', {_CENTS}, o_orderkey FROM orders
    ),
    ns AS (SELECT scope, COUNT(*) AS n FROM scoped GROUP BY scope),
    lvs AS (
      SELECT ns.scope, ns.n, MIN(t.l) AS lev
      FROM ns CROSS JOIN range(0, 41) t(l)
      WHERE ns.n <= {_KLL_MB} * ((1::BIGINT) << t.l)
      GROUP BY ns.scope, ns.n
    ),
    gsk AS (
      SELECT s.scope, s.cents, s.k
      FROM scoped s JOIN lvs ON lvs.scope = s.scope
      WHERE s.scope <> 'ALL'
        AND ({_KLL_HASH.replace("o_orderkey", "s.k")}
             % ((1::BIGINT) << lvs.lev)) = 0
    ),
    msk AS (
      SELECT 'ALL' AS scope, g.cents, g.k
      FROM gsk g JOIN lvs ON lvs.scope = 'ALL'
      WHERE ({_KLL_HASH.replace("o_orderkey", "g.k")}
             % ((1::BIGINT) << lvs.lev)) = 0
    ),
    sk AS (SELECT * FROM gsk UNION ALL SELECT * FROM msk)
    """


@query(
    "sketch_kll_merge",
    oracle=f"""
    WITH {_kll_merge_scope_ctes()},
    srank AS (
      SELECT scope, cents,
             ROW_NUMBER() OVER (PARTITION BY scope
                                ORDER BY cents, k) AS rn,
             COUNT(*) OVER (PARTITION BY scope) AS kept
      FROM sk
    ),
    frank AS (
      SELECT scope, cents,
             ROW_NUMBER() OVER (PARTITION BY scope
                                ORDER BY cents, k) AS rn
      FROM scoped
    ),
    t AS (
      SELECT l.scope, l.n, l.lev, s.kept,
             (s.kept * 50 + 99) // 100 AS st,
             (l.n * 50 + 99) // 100 AS ft
      FROM lvs l
      JOIN (SELECT scope, MAX(kept) AS kept FROM srank GROUP BY scope) s
        ON s.scope = l.scope
    )
    SELECT t.scope,
           CAST(t.n AS BIGINT) AS n_rows,
           CAST(t.lev AS BIGINT) AS level,
           CAST(t.kept AS BIGINT) AS kept,
           CAST(sr.cents AS BIGINT) AS est_p50_cents,
           CAST(fr.cents AS BIGINT) AS exact_p50_cents
    FROM t
    JOIN srank sr ON sr.scope = t.scope AND sr.rn = t.st
    JOIN frank fr ON fr.scope = t.scope AND fr.rn = t.ft
    """,
)
def sketch_kll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-rollup demonstration for the hash-compaction KLL
    sketch: build one sketch per order priority at that group's own
    level (budget {MB} — deliberately coarse so levels differ), then
    produce the global scope by MERGING the five group sketches —
    recompact their union to the global level by applying the global
    level's hash bits — and report, per scope, the sketch median
    against the exact median. The merge is lossless by identity:
    hash ≡ 0 (mod 2^L_global) implies hash ≡ 0 (mod 2^L_group), so the
    recompacted union is exactly the direct global sketch — the
    pre-aggregation property that lets a 100 TB pipeline keep
    per-partition quantile sketches and roll them up later without a
    second scan.

    Scale: group sketches are map-side filters; the merge touches only
    ~B rows per group; exact medians (for the comparison column) come
    from ONE pass of the range-partitioned total-order kernel over the
    scope-stacked frame (scope leads the sort, per-scope rank = global
    rank − scope offset — the events_rfm_segmentation stacking trick),
    never a per-scope single-task window."""
    o = table(spark, sf_dir, "orders")
    scoped = o.select(
        F.col("o_orderpriority").alias("scope"),
        F.expr(_CENTS).alias("cents"),
        F.col("o_orderkey").alias("k"),
    ).unionAll(
        o.select(
            F.lit("ALL").alias("scope"),
            F.expr(_CENTS).alias("cents"),
            F.col("o_orderkey").alias("k"),
        )
    # persist the scope-stacked union: it feeds the scope counts, the
    # group sketches AND the exact-rank kernel — without a barrier the
    # 2x-orders union re-evaluates once per branch (r14 plan audit:
    # 18 exchanges)
    ).persist()
    ns = scoped.groupBy("scope").agg(F.count(F.lit(1)).alias("n"))
    lvs = (
        ns.crossJoin(F.broadcast(spark.range(0, 41).withColumnRenamed("id", "l")))
        .filter(F.col("n") <= _KLL_MB * F.expr("shiftleft(CAST(1 AS BIGINT), CAST(l AS INT))"))
        .groupBy("scope", "n")
        .agg(F.min("l").alias("lev"))
    )
    hmod = lambda name: F.expr(  # noqa: E731
        f"shiftleft(CAST(1 AS BIGINT), CAST({name} AS INT))"
    )
    hval = (F.col("k") % 3221225473) * 2654435761
    # per-group sketches at their own levels (map-side filter)
    gsk = (
        scoped.filter(F.col("scope") != "ALL")
        .join(F.broadcast(lvs.select("scope", "lev")), "scope")
        .filter(hval % hmod("lev") == 0)
        .select("scope", "cents", "k")
    )
    # merge: union of the five group sketches, recompacted to the
    # global level — NOT a direct sample of the base table; the
    # equality of the two is the property under demonstration
    all_lev = lvs.filter(F.col("scope") == "ALL").select(
        F.col("lev").alias("glev")
    )
    msk = (
        gsk.crossJoin(F.broadcast(all_lev))
        .filter(hval % hmod("glev") == 0)
        .select(F.lit("ALL").alias("scope"), "cents", "k")
    )
    sk = gsk.unionAll(msk)
    # kept frames are budget-bounded (≤ ~2·MB rows per scope by the
    # level rule), so a scope-partitioned window is safe at any corpus
    wsk = Window.partitionBy("scope").orderBy("cents", "k")
    # persist the budget-bounded sketch ranks (≤ ~2·MB rows/scope):
    # referenced by the kept totals and the est-side probe — pinning
    # stops the gsk/msk sketch cascade re-evaluating per reference
    srank = sk.select(
        "scope",
        "cents",
        F.row_number().over(wsk).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("scope")).alias("kept"),
    ).persist()
    # exact per-scope ranks: ONE total-order kernel pass over the
    # scope-stacked frame; per-scope rank = global rank − scope offset
    ranked = attach_global_order(
        scoped,
        [F.asc("scope"), F.asc("cents"), F.asc("k")],
        rn="__grn",
    )
    offs = ns.select(
        F.col("scope").alias("oscope"),
        (
            # bounded-window: the scope-count frame has ≤ 6 rows (five
            # order priorities + 'ALL' — a constant domain), so the
            # unpartitioned prefix-sum window is constant-size
            F.sum("n").over(
                Window.orderBy("scope").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            )
        ).alias("off"),
    ).fillna(0, subset=["off"])
    frank = ranked.join(
        F.broadcast(offs), ranked.scope == F.col("oscope")
    ).select("scope", "cents", (F.col("__grn") - F.col("off")).alias("rn"))
    t = lvs.join(
        srank.groupBy("scope").agg(F.max("kept").alias("kept")), "scope"
    ).select(
        "scope",
        "n",
        "lev",
        "kept",
        F.expr("(kept * 50 + 99) div 100").alias("st"),
        F.expr("(n * 50 + 99) div 100").alias("ft"),
    )
    # the t⋈srank probe result is ≤6 rows — broadcast it into the
    # exact-side join so frank is probed by a BHJ, not sort-merged
    return (
        F.broadcast(
            t.join(
                srank.select(
                    "scope",
                    F.col("rn").alias("st"),
                    F.col("cents").alias("est_p50_cents"),
                ),
                ["scope", "st"],
            )
        )
        .join(
            frank.select(
                "scope",
                F.col("rn").alias("ft"),
                F.col("cents").alias("exact_p50_cents"),
            ),
            ["scope", "ft"],
        )
        .select(
            "scope",
            F.col("n").cast("long").alias("n_rows"),
            F.col("lev").cast("long").alias("level"),
            F.col("kept").cast("long").alias("kept"),
            F.col("est_p50_cents").cast("long").alias("est_p50_cents"),
            F.col("exact_p50_cents").cast("long").alias("exact_p50_cents"),
        )
    )


#: per-shard sketch budget — small enough that monthly shards sit at
#: level 0 while the global rollup needs a real recompaction
_KLL_RB = 512

_YM = "CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)"
_POW2 = "((1::BIGINT) << {})"


def _duck_hash(col: str) -> str:
    return _KLL_HASH.replace("o_orderkey", col)


@query(
    "sketch_kll_partitioned_rollup",
    oracle=f"""
    WITH base AS (
      SELECT {_YM} AS ym, {_CENTS} AS cents, o_orderkey AS k
      FROM orders
    ),
    ns AS (SELECT ym, COUNT(*) AS n_s FROM base GROUP BY ym),
    lvs AS (
      SELECT ns.ym, ns.n_s, MIN(t.l) AS lev
      FROM ns CROSS JOIN range(0, 41) t(l)
      WHERE ns.n_s <= {_KLL_RB} * {_POW2.format("t.l")}
      GROUP BY ns.ym, ns.n_s
    ),
    stored AS (
      SELECT b.ym, l.n_s, l.lev, b.cents, b.k
      FROM base b JOIN lvs l ON l.ym = b.ym
      WHERE ({_duck_hash("b.k")} % {_POW2.format("l.lev")}) = 0
    ),
    tot AS (
      SELECT SUM(n_s) AS n FROM lvs
    ),
    glv AS (
      SELECT MIN(t.l) AS glev, MAX(tot.n) AS n
      FROM range(0, 41) t(l) CROSS JOIN tot
      WHERE tot.n <= {_KLL_RB} * {_POW2.format("t.l")}
    ),
    merged AS (
      SELECT s.cents, s.k FROM stored s CROSS JOIN glv
      WHERE ({_duck_hash("s.k")} % {_POW2.format("glv.glev")}) = 0
    ),
    direct AS (
      SELECT b.cents, b.k FROM base b CROSS JOIN glv
      WHERE ({_duck_hash("b.k")} % {_POW2.format("glv.glev")}) = 0
    ),
    mrank AS (
      SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, k) AS rn
      FROM merged
    ),
    drank AS (
      SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, k) AS rn
      FROM direct
    ),
    sd AS (
      SELECT COUNT(*) AS set_diff
      FROM merged m FULL JOIN direct d ON m.k = d.k
      WHERE m.k IS NULL OR d.k IS NULL
    ),
    q AS (SELECT UNNEST([{",".join(str(q) for q in _KLL_QS)}]) AS qn),
    t AS (
      SELECT q.qn, glv.n, glv.glev, mk.kept, dk.dkept,
             (mk.kept * q.qn + 99) // 100 AS mt,
             (dk.dkept * q.qn + 99) // 100 AS dt
      FROM q CROSS JOIN glv
      CROSS JOIN (SELECT COUNT(*) AS kept FROM merged) mk
      CROSS JOIN (SELECT COUNT(*) AS dkept FROM direct) dk
    )
    SELECT t.qn / 100.0 AS quantile,
           CAST(t.n AS BIGINT) AS n_rows,
           CAST(t.glev AS BIGINT) AS glevel,
           CAST(t.kept AS BIGINT) AS kept,
           CAST(mr.cents AS BIGINT) AS est_cents,
           CAST(dr.cents AS BIGINT) AS direct_est_cents,
           CAST(sd.set_diff AS BIGINT) AS set_diff
    FROM t
    JOIN mrank mr ON mr.rn = t.mt
    JOIN drank dr ON dr.rn = t.dt
    CROSS JOIN sd
    """,
    tags=("staged",),
)
def sketch_kll_partitioned_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Storage-level quantile-sketch rollup (module docstring): write
    per-month KLL shard sketches to partitioned parquet, read ONLY the
    sketch files back, merge by recompacting to the global level, and
    certify merged ≡ direct (estimates side by side, key-set symmetric
    difference pinned at 0 in the output row itself).

    Scale: the shard keep-predicates are map-side filters under one
    shuffle-free write (sketch rows land partition-local); the rollup
    pass touches ~B rows per shard — at 100 TB that is the ONLY data a
    quantile query over any shard subset ever reads. The direct-sketch
    comparison column rescans the base table by construction (it is
    the claim being certified, dropped in production). Kept frames are
    budget-bounded, so their rank windows are constant-size.

    Warm-up tag ``staged``: the per-shard sketch parquet is staged once
    per process, so bench's timed pass measures the rollup read + merge
    — the pass a 100 TB consumer actually runs.
    """
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.expr(_YM).alias("ym"),
        F.expr(_CENTS).alias("cents"),
        F.col("o_orderkey").alias("k"),
    )
    lvl_grid = spark.range(0, 41).withColumnRenamed("id", "l")
    pow2 = lambda c: F.expr(  # noqa: E731
        f"shiftleft(CAST(1 AS BIGINT), CAST({c} AS INT))"
    )
    hval = (F.col("k") % 3221225473) * 2654435761
    ns = base.groupBy("ym").agg(F.count(F.lit(1)).alias("n_s"))
    lvs = (
        ns.crossJoin(F.broadcast(lvl_grid))
        .filter(F.col("n_s") <= _KLL_RB * pow2("l"))
        .groupBy("ym", "n_s")
        .agg(F.min("l").alias("lev"))
    )
    stored_src = (
        base.join(F.broadcast(lvs), "ym")
        .filter(hval % pow2("lev") == 0)
        .select("ym", "n_s", "lev", "cents", "k")
    )
    # the storage boundary under test: one sketch FILE per shard — the
    # repartition colocates each shard's kept rows so partitionBy never
    # fans out into per-task file fragments (measured 1.4 s of the
    # query's sf0.1 cost was open/commit overhead on ~84 dirs × 32
    # task-fragments before this; a 100 TB ingest wants shard-local
    # sketch files regardless)
    def _write_shards(p: str) -> None:
        stored_src.repartition("ym").write.mode("overwrite").partitionBy(
            "ym"
        ).parquet(f"{p}/data")
        # shard metadata persisted UNCONDITIONALLY as its own tiny frame
        # (r9 ADVICE item 1): a shard whose keep-set is empty still
        # contributes its n_s to the global level derivation — deriving
        # n from metadata riding on kept DATA rows silently undercounts
        # whenever a shard keeps 0 rows (can't happen at these budgets,
        # but the invariant was load-bearing and implicit)
        lvs.select("ym", "n_s", "lev").write.mode("overwrite").parquet(
            f"{p}/meta"
        )

    path = stage_once("kll_rollup", sf_dir, _write_shards)
    st = spark.read.parquet(f"{path}/data").select(
        F.col("ym").cast("long").alias("ym"),  # partition col re-infers as int
        "n_s",
        "lev",
        "cents",
        "k",
    )
    # global level from the stored shard METADATA file alone — no base
    # rescan, and no dependency on every shard keeping ≥ 1 data row
    tot = spark.read.parquet(f"{path}/meta").agg(F.sum("n_s").alias("n"))
    glv = (
        lvl_grid.crossJoin(F.broadcast(tot))
        .filter(F.col("n") <= _KLL_RB * pow2("l"))
        .agg(F.min("l").alias("glev"), F.max("n").alias("n"))
    )
    merged = (
        st.crossJoin(F.broadcast(glv))
        .filter(hval % pow2("glev") == 0)
        .select("cents", "k")
    )
    direct = (
        base.crossJoin(F.broadcast(glv))
        .filter(hval % pow2("glev") == 0)
        .select("cents", "k")
    )
    # bounded-window: merged/direct are fully-compacted sketches — the
    # level rule keeps ≤ ~2·B rows regardless of corpus size, so the
    # unpartitioned rank windows below are constant-size
    w = Window.orderBy("cents", "k")
    mrank = merged.select("cents", F.row_number().over(w).alias("rn"))
    # bounded-window: same ≤ ~2·B bound for the direct sketch
    drank = direct.select("cents", F.row_number().over(w).alias("rn"))
    mk = merged.agg(F.count(F.lit(1)).alias("kept"))
    dk = direct.agg(F.count(F.lit(1)).alias("dkept"))
    sd = (
        merged.select(F.col("k").alias("mk"))
        .join(
            direct.select(F.col("k").alias("dk")),
            F.col("mk") == F.col("dk"),
            "full",
        )
        .filter(F.col("mk").isNull() | F.col("dk").isNull())
        .agg(F.count(F.lit(1)).alias("set_diff"))
    )
    targets = (
        spark.createDataFrame([(q,) for q in _KLL_QS], "qn int")
        .crossJoin(F.broadcast(glv))
        .crossJoin(F.broadcast(mk))
        .crossJoin(F.broadcast(dk))
        .select(
            "qn",
            "n",
            "glev",
            "kept",
            "dkept",
            F.expr("(kept * qn + 99) div 100").alias("mt"),
            F.expr("(dkept * qn + 99) div 100").alias("dt"),
        )
    )
    return (
        mrank.select(F.col("rn").alias("mt"), F.col("cents").alias("est_cents"))
        .join(F.broadcast(targets), "mt")
        .join(
            drank.select(
                F.col("rn").alias("dt"),
                F.col("cents").alias("direct_est_cents"),
            ),
            "dt",
        )
        .crossJoin(F.broadcast(sd))
        .select(
            (F.col("qn") / 100.0).alias("quantile"),
            F.col("n").cast("long").alias("n_rows"),
            F.col("glev").cast("long").alias("glevel"),
            F.col("kept").cast("long").alias("kept"),
            F.col("est_cents").cast("long").alias("est_cents"),
            F.col("direct_est_cents").cast("long").alias("direct_est_cents"),
            F.col("set_diff").cast("long").alias("set_diff"),
        )
    )
