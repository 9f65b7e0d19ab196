"""Cross-engine hash families for the approximate-detector tier.

Shared so the DETECTORS (``dedup_near_minhash``, ``dedup_simhash`` in
operators/dedup.py; ``sim_ann_lsh``, ``sim_ann_ivf`` in
operators/similarity.py) and their RECALL queries
(``dedup_minhash_recall``, ``dedup_simhash_recall``, ``sim_ann_recall``)
consume the identical families, frames, and session memos. Every
banding decision these detectors make therefore replays in DuckDB SQL,
so the detectors themselves are hash-checked.

The families (full rationale in operators/dedup.py's module docstring):

- shingle identity: char-polynomial ``(acc·31 + code) mod (2³¹−1)`` —
  both engines fold the identical integer recurrence map-side;
- minhash permutations / simhash bit-hashes: the overflow-audited
  multiplicative family ``(k · A_i) mod P`` with every product inside
  int64 in BOTH engines (audit constants below);
- LSH buckets: ``floor(round(⟨v, g_t⟩, 9) / w)`` over seed-pinned
  float64 projection literals (repr() round-trips exactly; DuckDB
  parses decimal text to the nearest double) — the discontinuity
  consumes an identical 9-dp-rounded double in both engines.

Import direction: this module sits in functions/ and imports only
cache/sources, so every operator module can import it without cycles.
"""

from __future__ import annotations

import os

import numpy as np

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from python_etl_sample_spark.cache import cached_df
from python_etl_sample_spark.functions.determinism import _dot
from python_etl_sample_spark.sources import table

# --------------------------------------------------------------------------
# constants
# --------------------------------------------------------------------------

#: char-polynomial modulus (2³¹−1): keys stay < 2³¹ so every
#: multiplicative-hash product below fits int64 with room to spare.
_XP = 2147483647
#: minhash value space (prime near 2²⁰)
_MH_P = 1048573
#: multiplicative-family bases/steps. Audits (worst case products):
#:   minhash: (2³¹−2) · (2654435761 + 31·30402457) ≈ 7.73e18 < 2⁶³
#:   simhash: (2³¹−2) · (2654435761 + 59·15485863) ≈ 7.66e18 < 2⁶³
_MH_A0, _MH_STEP = 2654435761, 30402457
_SH_A0, _SH_STEP = 2654435761, 15485863

_N_PERM, _BANDS, _ROWS = 32, 4, 8  # minhash: 4 bands × 8 rows
_SH_BITS, _SH_CHUNKS, _CHUNK_BITS = 60, 4, 15  # simhash: 4 chunks × 15 bits


def _mh_mult(i: int) -> int:
    return _MH_A0 + i * _MH_STEP


def _sh_mult(j: int) -> int:
    return _SH_A0 + j * _SH_STEP


def _band_key_sql(prefix: str, b: int) -> str:
    """Fold 8 per-row minima into one band key — the same nested
    ``(acc·1048573 + m) mod (2³¹−1)`` text runs in Spark (F.expr) and
    DuckDB, so the band identity is engine-independent. acc < 2³¹ keeps
    ``acc·1048573`` < 2.3e15: no overflow anywhere on the fold."""
    expr = "CAST(0 AS BIGINT)"
    for r in range(_ROWS):
        expr = f"(({expr}) * 1048573 + {prefix}{b * _ROWS + r}) % 2147483647"
    return expr


# --------------------------------------------------------------------------
# shared DuckDB CTE block
# --------------------------------------------------------------------------

#: oracle CTE block: word-3-gram shingles → polynomial keys → per-doc
#: set sizes and pairwise intersections, over the cross-engine
#: POLYNOMIAL key so the Spark side shares one hashed-key frame across
#: the detector and recall queries; DISTINCT after keying mirrors
#: Spark's set semantics under (deterministic, identical-in-both-
#: engines) polynomial collisions.
_X_CTES = """
    xtoks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents
    ), xsh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
      FROM xtoks, UNNEST(generate_series(1, len(t)-2)) AS u(i)
      WHERE len(t) >= 3
    ), xk AS MATERIALIZED (
      -- MATERIALIZED (r14): xk is scanned by xsizes, sig builders and
      -- BOTH sides of the xinter self-join; inlined, the ~25M-row
      -- char-folding chain re-evaluates per reference at sf1
      SELECT DISTINCT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(generate_series(1, length(sh)),
                                i -> CAST(ascii(sh[i]) AS BIGINT))),
               (acc, c) -> (acc * 31 + c) % 2147483647) AS k
      FROM xsh
    ), xsizes AS (
      SELECT doc_id, COUNT(*) AS n FROM xk GROUP BY doc_id
    ), xinter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM xk a JOIN xk b ON a.k = b.k AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )"""


# --------------------------------------------------------------------------
# memoized Spark frames (one copy per session+sf, shared by detector
# AND recall queries)
# --------------------------------------------------------------------------


def _xengine_shingle_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, k): k = char-polynomial of the word 3-gram,
    computed in the same map task that explodes the shingle (the string
    never reaches a shuffle — same at-scale shape as dedup.py's
    ``_shingle_hashes``, with the polynomial replacing xxhash64 so the
    oracle can replay it). Session-memoized: the two dedup detectors
    and both recall queries consume the identical frame."""

    def build() -> DataFrame:
        d = table(spark, sf_dir, "documents")
        toks = d.select(
            "doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("toks")
        )
        sh = (
            toks.filter(F.size("toks") >= 3)
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(toks)-3),"
                        " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
                    )
                ).alias("sh"),
            )
        )
        key = F.expr(
            "aggregate(transform(sequence(1, length(sh)),"
            " i -> CAST(ascii(substring(sh, i, 1)) AS BIGINT)),"
            " CAST(0 AS BIGINT), (acc, c) -> (acc * 31 + c) % 2147483647)"
        )
        return sh.select("doc_id", key.alias("k")).distinct()

    return cached_df(
        spark, ("xengine_shingle_keys", os.path.abspath(sf_dir)), build
    )


def _xengine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, n_inter): every doc pair sharing ≥ 1 shingle key,
    via the inverted-index equi join (shuffles 8-byte keys, fan-out
    bounded by shingle document frequency — dedup_ngram_jaccard's scale
    posture). Session-memoized: the minhash detector and recall consume
    it as the Jaccard numerator, the simhash recall as the pair
    universe."""

    def build() -> DataFrame:
        keys = _xengine_shingle_keys(spark, sf_dir)
        ta = keys.select(F.col("doc_id").alias("doc_a"), "k")
        tb = keys.select(F.col("doc_id").alias("doc_b"), "k")
        return (
            ta.join(tb, "k")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )

    return cached_df(spark, ("xengine_pairs", os.path.abspath(sf_dir)), build)


def _xengine_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 32-permutation min-signature (doc_id, h0..h31) over the
    cross-engine multiplicative family — ONE combiner-reduced shuffle of
    32 minima per doc. Session-memoized: the ``dedup_near_minhash``
    detector, ``dedup_minhash_recall``'s band frame and
    ``dedup_minhash_param_sweep``'s four banding geometries all fold
    band keys from this same frame, so the signature agg runs once per
    session regardless of how many geometries read it."""

    def build() -> DataFrame:
        keys = _xengine_shingle_keys(spark, sf_dir)
        mins = [
            F.min((F.col("k") * _mh_mult(i)) % _MH_P).alias(f"h{i}")
            for i in range(_N_PERM)
        ]
        return keys.groupBy("doc_id").agg(*mins)

    return cached_df(
        spark, ("xengine_minhash_sig", os.path.abspath(sf_dir)), build
    )


def xengine_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bk0..bk3): the deployed 4-band × 8-row banding keys,
    folded from the memoized signature. Session-memoized — the
    ``dedup_near_minhash`` detector's candidate self-join and
    ``dedup_minhash_recall``'s two truth-join sides all read this one
    persisted 4-key-per-doc frame (the 32-min agg would otherwise run
    once per consumer: no ReuseExchange across differently-aliased
    subtrees)."""

    def build() -> DataFrame:
        sig = _xengine_minhash_sig(spark, sf_dir)
        return sig.select(
            "doc_id",
            *[
                F.expr(_band_key_sql("h", b)).alias(f"bk{b}")
                for b in range(_BANDS)
            ],
        )

    return cached_df(
        spark, ("xengine_minhash_bands", os.path.abspath(sf_dir)), build
    )


def xengine_simhash_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, c0..c3): the 60-bit cross-engine SimHash signature as
    4 disjoint 15-bit chunks. Bit j is the majority vote of
    ``(k · A_j) >> 20 & 1`` over the doc's shingle keys — the textbook
    Charikar construction under the multiplicative family. Session-
    memoized: the ``dedup_simhash`` detector's chunk self-join and
    ``dedup_simhash_recall``'s two pair-join sides share it (the 60-sum
    vote agg costs ~1.3 s per evaluation at sf0.1)."""

    def build() -> DataFrame:
        keys = _xengine_shingle_keys(spark, sf_dir)
        sums = [
            F.sum(
                F.shiftright(F.col("k") * _sh_mult(j), 20).bitwiseAND(F.lit(1))
            ).alias(f"s{j}")
            for j in range(_SH_BITS)
        ]
        votes = keys.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_sh"), *sums
        )

        def chunk_col(c: int):
            expr = None
            for r in range(_CHUNK_BITS):
                term = (
                    F.when(
                        2 * F.col(f"s{c * _CHUNK_BITS + r}") > F.col("n_sh"),
                        F.lit(1 << r).cast("long"),
                    )
                    .otherwise(F.lit(0).cast("long"))
                )
                expr = term if expr is None else expr + term
            return expr

        return votes.select(
            "doc_id", *[chunk_col(c).alias(f"c{c}") for c in range(_SH_CHUNKS)]
        )

    return cached_df(
        spark, ("xengine_simhash_chunks", os.path.abspath(sf_dir)), build
    )


# --------------------------------------------------------------------------
# simhash SQL fragments (shared by detector + recall oracles)
# --------------------------------------------------------------------------

_SH_SUM_COLS_SQL = ",\n             ".join(
    f"SUM(((k * {_sh_mult(j)}) >> 20) & 1) AS s{j}" for j in range(_SH_BITS)
)


def _sh_chunk_sql(c: int) -> str:
    terms = [
        f"(CASE WHEN 2 * s{c * _CHUNK_BITS + r} > n_sh"
        f" THEN CAST({1 << r} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for r in range(_CHUNK_BITS)
    ]
    return " + ".join(terms)


_SH_CHUNK_COLS_SQL = ",\n             ".join(
    f"{_sh_chunk_sql(c)} AS c{c}" for c in range(_SH_CHUNKS)
)

#: chunks CTE (one row per doc, c0..c3) on top of _X_CTES' xk — the
#: oracle twin of ``xengine_simhash_chunks``.
_SH_CHUNKS_CTES = f"""
    votes AS (
      SELECT doc_id, COUNT(*) AS n_sh,
             {_SH_SUM_COLS_SQL}
      FROM xk GROUP BY doc_id
    ),
    chunks AS (
      SELECT doc_id,
             {_SH_CHUNK_COLS_SQL}
      FROM votes
    )"""

# --------------------------------------------------------------------------
# minhash SQL fragments (shared by detector + recall oracles)
# --------------------------------------------------------------------------

_MH_SIG_COLS_SQL = ",\n             ".join(
    f"MIN((k * {_mh_mult(i)}) % {_MH_P}) AS h{i}" for i in range(_N_PERM)
)
_MH_BK_COLS_SQL = ",\n             ".join(
    f"{_band_key_sql('h', b)} AS bk{b}" for b in range(_BANDS)
)

#: sig + bnd CTEs (doc_id, bk0..bk3) on top of _X_CTES' xk — the
#: oracle twin of ``xengine_minhash_bands``.
_MH_BANDS_CTES = f"""
    sig AS (
      SELECT doc_id,
             {_MH_SIG_COLS_SQL}
      FROM xk GROUP BY doc_id
    ),
    bnd AS (
      SELECT doc_id,
             {_MH_BK_COLS_SQL}
      FROM sig
    )"""

# --------------------------------------------------------------------------
# LSH projections (shared by sim_ann_lsh detector + sim_ann_recall)
# --------------------------------------------------------------------------

#: sim_ann_lsh's deployed parameters and its exact projection matrix —
#: frozen as explicit float64 literals (originally drawn once from
#: ``np.random.default_rng(7).standard_normal((2, 64))``; NEP 19 does
#: not guarantee Generator stream stability across numpy feature
#: releases, so regenerating at import would let a numpy upgrade
#: silently shift every recorded sim_ann_lsh / sim_lsh_radius_sweep /
#: sim_ann_recall hash). repr() round-trips float64 exactly, and DuckDB
#: parses decimal text to the nearest double, so BOTH engines read the
#: very same 128 doubles from these literals.
_LSH_TABLES, _LSH_BUCKET_LEN, _LSH_RADIUS = 2, 1.0, 1.2
_LSH_PROJ = np.array([
    [0.0012301533574825742, 0.2987455375084699, -0.2741378553622176, -0.8905918387572742, -0.45467078517172255, -0.9916465549964624, 0.060143602597438485, 1.3402152455545335, -0.49220651855132963, -0.6204748998199404, 0.4898420501851982, 0.35688700816006075, 0.10541424899789856, -0.9304680447082047, -0.02925182246327349, 0.6953031944582878, -1.344214547285082, -0.45761576104021817, -1.901222739800844, -1.289537739784976, -1.8417350377917323, -0.23509113107468127, -1.2674464814437032, 0.2712643588217015, 0.15675108662422516, -0.18693094462995438, -2.516759710820513, -0.5386928958466366, -0.048500945401071985, 0.11330898600330756, -1.5301357655053935, -0.47775327603393064, -0.9785190780566395, -0.8088372394255993, 1.0608986233860787, -0.8075346753318965, -0.0325217049455206, 0.8843898673831739, -0.583600432743302, -0.11170194958415963, 0.11046414324948059, 0.06378177425506196, -1.2250558264176934, 0.0761402303770081, 1.3588234217415376, -1.5471446781284823, 0.8593826880215982, 0.11935402569658124, -0.6414703941072214, 2.000416546342423, 0.7622597120847118, -1.1992889021052233, 0.07451622877146342, 0.5766895836701853, -0.1887821253507493, 0.682910267195206, -0.06651732014941557, 0.6672475608343279, 1.438522591656152, -0.6756622510056528, 0.20313861038960904, -0.46330757653841514, 0.12726841122583082, -1.18719452785014],
    [-0.5793015965026732, -0.1961959728044967, 0.8987638721004078, 1.145222007454132, -1.323527792484255, -0.7946423659870495, 0.6469034225734218, -1.9924197841744944, -0.46316986495236695, -0.09728692567008902, 1.2570149772868198, 0.6894039005707556, -0.32721342022219785, -0.3685758940999591, -0.25019540051792494, 1.5235294004561601, -0.4280249425728672, -0.3036803883647294, 0.35258906728526535, -0.12077044508645512, -0.19728422796572256, -1.1140671431510563, -0.011521468038548173, -0.4435812229744192, 1.1661277761902227, 0.6530885027011638, -0.024143613009932233, 0.6683810232673438, -0.3398695517131494, 1.052126358426947, -0.005399560671626605, 0.5833823541804138, -1.2908932453234871, 0.34668004887842974, -1.6882041173665416, -2.0353289449399323, -0.3044768777114372, -0.8999276075985952, 0.16405279571222256, 2.2447566264860495, -0.8317231814120817, -0.6239435864439059, 0.2054039460646989, 0.49301329141235634, -0.1764060659057582, -0.20593033025321647, 0.7024629551205442, 0.5199076370338984, -1.0336758320736887, -0.07918131861584184, 0.035286848661474135, -1.0544846220491104, 0.25983910067436333, -0.8579564771765439, 0.9720667079170427, 0.1927459126050724, 0.08930648576905029, -0.591028352856274, -0.11860982387769403, -1.9977462929070549, -1.1314074705230586, 0.3628397991887543, -2.1285670418221447, 0.8466085214811634],
])


def _lsh_dot_sql(vec: str, t: int) -> str:
    lits = ", ".join(repr(float(x)) for x in _LSH_PROJ[t])
    return (
        f"(SELECT SUM({vec}[i+1]::DOUBLE * g.v[i+1]) "
        f"FROM (SELECT [{lits}]::DOUBLE[] AS v) g, range(64) t(i))"
    )


def _d2_sql(a: str, b: str) -> str:
    # list form is bit-identical to the older per-element
    # SUM-over-range(64) (same index-ordered double adds; verified
    # exhaustively on the sf1 fixtures) but evaluates per ROW — the
    # LSH candidate frame is ~120M pairs at sf1, where the correlated
    # form is a 7.7B-row aggregate (BENCH_NOTES r14)
    return (
        f"list_sum(list_transform("
        f"list_zip({a}::DOUBLE[], {b}::DOUBLE[]),"
        f" x -> (x[1] - x[2]) * (x[1] - x[2])))"
    )


def lsh_bucket_col(vec: Column, t: int) -> Column:
    """``floor(round(⟨v, g_t⟩, 9) / w)`` — the Spark twin of
    ``_lsh_dot_sql`` bucketing; the floor consumes a 9-dp-rounded
    double so the discontinuity lands identically in both engines."""
    proj = F.array(*[F.lit(float(x)) for x in _LSH_PROJ[t]])
    return F.floor(F.round(_dot(vec, proj), 9) / F.lit(_LSH_BUCKET_LEN))
