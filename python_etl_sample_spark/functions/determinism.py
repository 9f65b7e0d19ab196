"""Determinism helpers: make float aggregates hash-stable across engines.

Floating-point addition is not associative, so a parallel Spark sum and
a serial DuckDB sum of the same doubles can differ in the last bits —
enough to break the driver's order-insensitive value-hash. The fix used
throughout this engine: route sums through fixed-point decimals, which
are exact and order-independent, then cast back to double. The
double→decimal cast itself was verified to round identically in
Spark 4.1.2 and DuckDB 1.0.0.

Each helper has a SQL twin (``*_SQL`` format strings) used in oracle
strings so both engines compute literally the same thing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Scale 6: the fixture money columns are exact 2-decimal values, so every
# product of up to three of them (price * (1-disc) * (1+tax)) is EXACTLY a
# 6-decimal value. At scale 6 the double→decimal cast never sits on a
# half-way point, where Spark (shortest-string HALF_UP via Java BigDecimal)
# and DuckDB (exact-binary nearest) would disagree. Scale 4 is NOT safe:
# 6-decimal-exact values round half-way at 4 dp (observed on sum_charge).
#
# Domain bound: the final decimal→double cast is engine-identical while
# |sum|·10⁶ < 2⁵³ (|sum| ≲ 9e9): below it DuckDB's int128→double is
# exact and its single division is correctly rounded, matching Spark's
# correctly-rounded BigDecimal. Past it DuckDB double-rounds
# (int128→double, then divide) and can differ by 1 ulp — measured in
# tests/test_determinism_edges.py, and observed in the wild on
# agg_groupby's sum_charge at sf1 (Σ ≈ 2.8e10; BENCH_NOTES r14). Every
# sum at the graded scale (sf0.01) is ≤ ~2e9 — inside the guarantee.
#
# PAIRING RULE (the real invariant, r14): what makes a query
# hash-stable at ANY magnitude is that the Spark expression and its
# oracle SQL compute the SAME formula — identical op sequence, so
# identical roundings. dsum/dsum_sql below stay the plain decimal→
# double cast precisely because many queries inline that pattern on
# the Spark side; changing only the helper would silently unpair them.
# Queries that EMIT a raw sum past the 9e9 bound (where the 1 ulp
# can't be absorbed by a final rounded ratio) must switch BOTH sides
# to the _big twins, which route the final cast through
#     CAST(CAST(sum_dec * 10⁶ AS BIGINT) AS DOUBLE) / 10⁶.0
# — sum_dec·10⁶ is integral (exact decimal op in both engines), the
# bigint→double conversion and the single division are each correctly
# rounded IEEE ops, so both engines execute the *same* two roundings:
# bit-identical up to |sum| < 2⁶³/10⁶ ≈ 9.2e12 (then an explicit
# overflow error, never a silent drift), and bit-identical to the
# plain cast below the 9e9 bound (the bigint→double step is exact
# there) — so switching a query to _big never moves a recorded hash.
DEC = "decimal(28,6)"

#: 10⁶ as used by the _big helpers; int literal so Spark plans an
#: exact decimal×integral multiply (DecimalType(38,6) — no scale loss).
_SCALE6 = 1_000_000


# Scale 9: for summing values that were already rounded to 9 dp (the
# repo's discontinuity-guard convention). A 9-dp-rounded double is the
# nearest binary to a 9-decimal grid point and sits within ~2e-16 of
# it — orders of magnitude inside the 5e-10 half-grid — so BOTH
# engines' double→decimal(·,9) casts recover exactly that grid point:
# no re-rounding, no halfway point, regardless of Spark's
# shortest-string-HALF_UP vs DuckDB's exact-binary tie semantics.
# (Casting such values at scale 6 instead RE-rounds at 6 dp and can
# land on a tie when the 9-dp form ends in 5 at the 7th place — the
# latent cross-engine flake this scale exists to close.)
# Domain bound for the final decimal→double cast: |sum|·10⁹ < 2⁵³,
# i.e. |sum| ≲ 9e6 — ample for the ratio-valued (≤ 1) and log-valued
# (≤ ~10) inputs this helper serves.
DEC9 = "decimal(38,9)"


def dsum9_sql(expr: str) -> str:
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(38,9))) AS DOUBLE)"


def dsum(col: Column | str) -> Column:
    """Order-independent, engine-exact sum of a double column
    (|sum| ≲ 9e9 — see the domain-bound note; past it use dsum_big
    for emitted sums, or keep this form when a final rounded ratio
    absorbs the ulp)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def dsum_sql(expr: str) -> str:
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(28,6))) AS DOUBLE)"


def davg(col: Column | str) -> Column:
    """Engine-exact average: exact decimal sum / exact count, one double division."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double") / F.count(F.lit(1))


def davg_sql(expr: str) -> str:
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)"


def _dec_to_double_big(dec_sum: Column) -> Column:
    """Engine-identical decimal(·,6)→double past the 2⁵³ bound (see the
    pairing-rule note): exact ×10⁶ shift, bigint, two shared roundings."""
    return (dec_sum * _SCALE6).cast("long").cast("double") / F.lit(float(_SCALE6))


def _dec_to_double_big_sql(sum_expr: str) -> str:
    return f"CAST(CAST({sum_expr} * {_SCALE6} AS BIGINT) AS DOUBLE) / {_SCALE6}.0"


def dsum_big(col: Column | str) -> Column:
    """dsum for sums EMITTED past the 9e9 plain-cast domain: engine-
    identical up to |sum| < 2⁶³/10⁶ ≈ 9.2e12, explicit overflow past
    that, bit-identical to dsum below 9e9. Pair with dsum_big_sql."""
    c = F.col(col) if isinstance(col, str) else col
    return _dec_to_double_big(F.sum(c.cast(DEC)))


def dsum_big_sql(expr: str) -> str:
    return _dec_to_double_big_sql(f"SUM(CAST(({expr}) AS DECIMAL(28,6)))")


def davg_big(col: Column | str) -> Column:
    """davg for big-domain sums (see dsum_big)."""
    c = F.col(col) if isinstance(col, str) else col
    return _dec_to_double_big(F.sum(c.cast(DEC))) / F.count(F.lit(1))


def davg_big_sql(expr: str) -> str:
    return f"{_dec_to_double_big_sql(f'SUM(CAST(({expr}) AS DECIMAL(28,6)))')} / COUNT(*)"


def r6(col: Column) -> Column:
    """Round to 6 dp — for values whose computation is deterministic but
    whose textual formatting may differ (e.g. products of doubles are
    bit-deterministic; this is only for display-stability of ratios)."""
    return F.round(col, 6)


def _pearson_from_int_sums(m: DataFrame, out: str) -> DataFrame:
    """Pearson r from exact integer moment sums (n, sx, sy, sxy, sxx,
    syy already columns of ``m``): the numerator/denominator products
    are formed on exact int64s, cast to double once, and the ratio is
    NULL (not NaN/error) when either variable is constant."""
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    den = F.sqrt(vx * vy)
    return m.withColumn(out, F.round(F.when(den != 0.0, num / den), 6))


# Exact-integer SQL fragments shared by operator modules: money as
# integer cents (exact in both engines, so moment sums over them are
# exact int64/decimal arithmetic) and the 38-digit decimal those sums
# are carried in.
def cents_sql(col: str) -> str:
    """``col`` (an exact 2-decimal money column) as integer cents."""
    return f"CAST(round({col} * 100) AS BIGINT)"


_CENTS = cents_sql("o_totalprice")
_VCENTS = cents_sql("value")
_LCENTS = cents_sql("l_extendedprice")
_DEC38 = "decimal(38,0)"


# Vector folds over array<double> columns. Both accumulate index 0→n−1
# from 0.0, the order of the oracles' list_dot_product / range-indexed
# SUM twins, so the doubles are bit-identical across engines.
def _fold(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def _dot(a: Column, b: Column) -> Column:
    """Index-ordered fold of the elementwise product (double)."""
    return _fold(F.zip_with(a, b, lambda x, y: x * y))


def _d2(a: Column, b: Column) -> Column:
    """Squared L2 distance: index-ordered fold of (x−y)²."""
    return _fold(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)))
