"""Systematic ANSI-divergence audit (VERDICT r5 item 4).

Spark 4 runs with spark.sql.ansi.enabled=true by default and DuckDB is
ANSI-strict in its own way — but the two engines diverge on a specific,
finite set of edge behaviors. Every oracle pair in this repo relies on
staying inside the AGREEMENT region. This module (a) pins the divergence
matrix itself, so an engine upgrade that flips a behavior fails loudly;
(b) fuzzes the repo's shared deterministic conventions (mix hashes,
decimal sums, truncating casts, round ties) through BOTH engines over
adversarial values far outside fixture ranges; (c) guards the fixture
domain facts those conventions assume.

Divergence matrix (empirically measured, PySpark 4.1 / DuckDB 1.x):

| construct            | Spark (ANSI on)    | DuckDB            |
|----------------------|--------------------|-------------------|
| x / 0, x % 0         | ERROR              | NULL              |
| CAST(2.5 AS INT)     | 2 (truncate)       | 3 (round!)        |
| ln(0), ln(-1)        | NULL               | ERROR             |
| sqrt(-1)             | NaN                | ERROR             |
| int64 overflow       | ERROR              | ERROR             |
| (-7) div 2 / //      | -3 (truncate)      | -3 (truncate)     |
| -7 % 3               | -1 (dividend sign) | -1                |
| round(2.5, 0)        | 3 (half-up)        | 3 (half-up)       |
| NaN = NaN, NaN > x   | TRUE, TRUE         | TRUE, TRUE        |

Consequences enforced here: oracles must never divide by a maybe-zero
value (both sides guard), must never feed ln/sqrt a non-positive value
(both sides guard or exclude), must write CAST(trunc(x) AS BIGINT) to
mirror Spark's truncating cast, and all hash-mix arithmetic must stay
inside int64 on the FULL key domain, not just fixture keys.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

#: keys far beyond any fixture: full int64 domain corners
ADVERSARIAL_KEYS = [
    0,
    1,
    2,
    99_999,
    100_000,
    1_000_002,
    1_000_003,
    2**31 - 1,
    2**31,
    2**32,
    3_221_225_472,
    3_221_225_473,
    2**48,
    2**62,
    2**63 - 1,
]

#: every masked-multiplicative-hash shape used by an oracle pair in this
#: repo (analytics train/val/test split, ab-lift arm, spatial coords,
#: weighted sampling, holdout flag, bootstrap weights) — the SAME SQL
#: text runs on both engines, so parity means "same value, no error"
MIX_FORMULAS = [
    "(k % 100000) * 2654435761 % 100",
    "(k % 100000) * 2654435761 % 1000003",
    "(k % 100000) * 2246822519 % 10000",
    "(k % 1000003) * 31 % 100",
    "((k % 3221225473) * 2654435761 + 0 * 2246822519) % 1000003",
    "((k % 3221225473) * 2654435761 + 31 * 2246822519) % 1000003",
]


def _duck_scalar(sql: str):
    return duckdb.sql("SELECT " + sql).fetchone()


def _spark_scalar(spark, sql: str):
    return tuple(spark.sql("SELECT " + sql).collect()[0])


def test_divergence_matrix_duckdb():
    """Pin DuckDB's side of the matrix (an upgrade flipping any of these
    invalidates oracle-authoring assumptions repo-wide)."""
    assert _duck_scalar("1/0") == (None,)
    assert _duck_scalar("1 % 0") == (None,)
    assert _duck_scalar("CAST(2.5 AS INT)") == (3,), "DuckDB cast rounds"
    assert _duck_scalar("CAST(trunc(2.5) AS INT)") == (2,)
    assert _duck_scalar("(-7) // 2") == (-3,)
    assert _duck_scalar("(-7) % 3") == (-1,)
    assert float(_duck_scalar("round(2.5, 0)")[0]) == 3
    assert float(_duck_scalar("round(0.125, 2)")[0]) == pytest.approx(0.13)
    for bad in ("ln(0)", "ln(-1)", "sqrt(-1)", "9223372036854775807 + 1"):
        with pytest.raises(Exception):
            _duck_scalar(bad)


def test_divergence_matrix_spark(spark):
    """Pin Spark's side (ANSI mode must stay ON — the engine was
    verified under it; silently flipping to non-ANSI would turn the
    overflow/div-zero errors below into silent wraps/NULLs)."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    assert _spark_scalar(spark, "CAST(2.5 AS INT)") == (2,), "Spark cast truncates"
    assert _spark_scalar(spark, "(-7) div 2") == (-3,)
    assert _spark_scalar(spark, "(-7) % 3") == (-1,)
    assert float(_spark_scalar(spark, "round(2.5, 0)")[0]) == 3
    assert float(_spark_scalar(spark, "round(0.125, 2)")[0]) == pytest.approx(0.13)
    assert _spark_scalar(spark, "ln(0)") == (None,)
    assert _spark_scalar(spark, "ln(-1)") == (None,)
    for bad in ("1/0", "1 % 0", "9223372036854775807 + 1"):
        with pytest.raises(Exception):
            _spark_scalar(spark, bad)


@pytest.mark.parametrize("formula", MIX_FORMULAS)
def test_mix_hash_parity_on_full_key_domain(spark, formula):
    """Every hash-mix formula must (a) never overflow int64 — DuckDB and
    ANSI Spark would BOTH error, killing the query the day a key exceeds
    the fixture range — and (b) produce identical values on both
    engines, for keys up to 2^63-1. This is the generalization of the
    round-5 stats_bootstrap fix: prove the whole family safe, not just
    the one site that bit."""
    pdf = pd.DataFrame({"k": ADVERSARIAL_KEYS})
    con = duckdb.connect()
    con.register("t", pdf)
    want = [r[0] for r in con.execute(f"SELECT {formula} FROM t ORDER BY k").fetchall()]
    sdf = spark.createDataFrame(pdf)
    sdf.createOrReplaceTempView("ansi_edge_t")
    got = [
        r[0]
        for r in spark.sql(
            f"SELECT {formula.replace('k %', 'k %')} AS v FROM ansi_edge_t ORDER BY k"
        ).collect()
    ]
    assert got == want, formula


def test_truncating_cast_convention(spark):
    """Oracles that mirror a Spark double→int cast MUST write
    CAST(trunc(x)) — DuckDB's bare CAST rounds. Fuzz the convention on
    positive/negative non-integers and prove the bare form diverges (so
    the trunc() in e.g. embedding_int8_quantize's oracle is
    load-bearing, not decorative)."""
    vals = [2.5, -2.5, 2.4999, -2.4999, 0.5, -0.5, 1e15 + 0.5, 7.999999]
    pdf = pd.DataFrame({"x": vals})
    con = duckdb.connect()
    con.register("t", pdf)
    duck_trunc = [
        r[0]
        for r in con.execute(
            "SELECT CAST(trunc(x) AS BIGINT) FROM t ORDER BY x"
        ).fetchall()
    ]
    duck_bare = [
        r[0]
        for r in con.execute("SELECT CAST(x AS BIGINT) FROM t ORDER BY x").fetchall()
    ]
    sdf = spark.createDataFrame(pdf)
    sdf.createOrReplaceTempView("ansi_edge_cast")
    spark_cast = [
        r[0]
        for r in spark.sql(
            "SELECT CAST(x AS BIGINT) AS v FROM ansi_edge_cast ORDER BY x"
        ).collect()
    ]
    assert spark_cast == duck_trunc
    assert spark_cast != duck_bare, "bare DuckDB cast stopped rounding?"


def test_round_tie_parity(spark):
    """Binary-representable decimal ties at the scales the repo rounds
    to (0, 2, 3, 6 dp) must round identically — both engines are
    half-away-from-zero on doubles."""
    cases = [
        ("round(0.125, 2)", 0.13),
        ("round(-0.125, 2)", -0.13),
        ("round(0.375, 2)", 0.38),
        ("round(2.5, 0)", 3.0),
        ("round(-2.5, 0)", -3.0),
        ("round(0.0078125, 6)", 0.007813),  # 2^-7, exact tie at 6 dp
        ("round(0.015625, 3)", 0.016),  # 2^-6, exact tie at 3 dp
    ]
    for sql, want in cases:
        d = float(_duck_scalar(sql)[0])
        s = float(_spark_scalar(spark, sql)[0])
        assert d == s == pytest.approx(want), sql


def test_decimal_sum_parity_at_domain_extremes(spark):
    """functions/determinism.py routes float sums through
    decimal(28,6); its documented domain bound is what keeps the final
    decimal→double cast engine-identical. Fuzz money-like values at the
    extreme of that domain (±10^9 dollars, far above any fixture) plus
    adversarial 2-dp values through dsum vs DuckDB's mirrored cast-sum
    and require exact agreement."""
    from pyspark.sql import functions as F

    from python_etl_sample_spark.functions.determinism import dsum, dsum_sql

    vals = [
        999_999_999.99,
        -999_999_999.99,
        0.01,
        -0.01,
        123_456_789.01,
        0.07,
        1e-2 * 3,  # 0.030000000000000002 — not 2-dp exact on purpose
        2.675,  # classic float-rounding trap value
    ] * 7
    pdf = pd.DataFrame({"x": vals})
    con = duckdb.connect()
    con.register("t", pdf)
    want = con.execute(f"SELECT {dsum_sql('x')} AS s FROM t").fetchone()[0]
    got = spark.createDataFrame(pdf).agg(dsum("x").alias("s")).collect()[0]["s"]
    assert float(got) == float(want)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_fixture_domain_guards(sf):
    """The facts the oracle conventions assume, checked against the
    actual fixtures: (a) every key column driven through a mix hash is
    non-negative (negative keys would flip % sign on both engines in
    the same way, but the docstrings' uniformity claims assume the
    non-negative branch); (b) money magnitudes sit far inside the
    decimal(28,6) sum domain; (c) documents.text is pure ASCII with no
    empties — the multimodal oracles index text by CHARACTER and equate
    char codes with payload bytes, which is only byte-faithful in
    ASCII."""
    con = duckdb.connect()
    base = f"/root/testdata/{sf}"
    keys = {
        "orders": ["o_orderkey", "o_custkey"],
        "customer": ["c_custkey"],
        "events": ["event_id", "user_id"],
        "documents": ["doc_id"],
    }
    for t, cols in keys.items():
        for c in cols:
            lo = con.execute(
                f"SELECT min({c}) FROM read_parquet('{base}/{t}.parquet')"
            ).fetchone()[0]
            assert lo is not None and lo >= 0, f"{sf}/{t}.{c} has negative keys"
    mx = con.execute(
        f"SELECT max(abs(o_totalprice)) FROM read_parquet('{base}/orders.parquet')"
    ).fetchone()[0]
    assert mx < 1e9, "money domain exceeds the decimal-sum audit bound"
    bad = con.execute(
        f"""SELECT count(*) FROM read_parquet('{base}/documents.parquet')
            WHERE octet_length(encode(text)) <> length(text)
               OR length(text) = 0"""
    ).fetchone()[0]
    assert bad == 0, "documents.text non-ASCII or empty — multimodal oracles break"


# ---------------------------------------------------------------------------
# Repo-wide hash-mix overflow sweep (VERDICT r6 item 6)
# ---------------------------------------------------------------------------

import re as _re

#: ``(key % MOD) * MULT`` in its three source spellings: numeric mod
#: (SQL strings and Column exprs), named-constant mod (Column exprs),
#: and f-string-brace mod (oracle SQL built from a named constant).
_MIX_NUMERIC_RE = _re.compile(r"%\s*(\d{2,})\s*\)\s*\*\s*(\d{4,})")
_MIX_NAMED_RE = _re.compile(r"%\s*(_?[A-Za-z][\w]*)\s*\)\s*\*\s*(\d{4,})")
_MIX_BRACE_RE = _re.compile(r"%\s*\{(_?[A-Za-z][\w]*)\}\s*\)\s*\*\s*(\d{4,})")

#: additive second-hash terms ``+ <var> * CONST`` (e.g. the bootstrap's
#: ``b * 2246822519`` with b < _BOOT_B=32). 2^40 ≈ 1.1e12 upper-bounds
#: every such term by >15× (32 · 2246822519 ≈ 7.2e10) — a site whose
#: product leaves less than 2^40 of int64 headroom fails the sweep.
_ADD_HEADROOM = 2**40


def _scan_mix_sites():
    """Every (file, line, mod, mult) hash-mix site in the package —
    the enumeration the sweep asserts over, so a NEW site with an
    overflow-capable (mod, mult) pair fails CI the day it lands."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "python_etl_sample_spark"
    sites = []
    for p in sorted(pkg.rglob("*.py")):
        text = p.read_text()
        consts = {
            m.group(1): int(m.group(2))
            for m in re.finditer(r"^(_?[A-Z][A-Z_0-9]*)\s*=\s*(\d+)\s*$", text, re.M)
        }
        for lineno, line in enumerate(text.splitlines(), 1):
            for m in _MIX_NUMERIC_RE.finditer(line):
                sites.append((p.name, lineno, int(m.group(1)), int(m.group(2))))
            for m in _MIX_NAMED_RE.finditer(line):
                if m.group(1) in consts:
                    sites.append((p.name, lineno, consts[m.group(1)], int(m.group(2))))
            for m in _MIX_BRACE_RE.finditer(line):
                if m.group(1) in consts:
                    sites.append((p.name, lineno, consts[m.group(1)], int(m.group(2))))
    return sites


def test_mix_site_sweep_enumerates_known_sites():
    """The scanner must see at least the sites known today (bootstrap,
    split/arm hashes, spatial coords, weighted sampling, k-means seed);
    a refactor that hides sites from the scan weakens the sweep and
    fails here."""
    sites = _scan_mix_sites()
    files = {s[0] for s in sites}
    assert len(sites) >= 10, sites
    for expected in (
        "inference.py",
        "statistics.py",
        "composites.py",
        "spatial.py",
        "kmeans.py",
        "sketches.py",
        "privacy.py",
        "event_sequences.py",
    ):
        assert expected in files, f"mix sites in {expected} vanished from the scan"


def test_mix_sites_cannot_overflow_int64_at_any_scale():
    """(mod−1)·mult + 2^40 additive headroom must stay inside int64 for
    EVERY scanned site: the key reduction (% mod) bounds the product
    independently of corpus scale, so this single inequality proves the
    site safe at 100× fixtures, 100 TB, or any other key volume."""
    sites = _scan_mix_sites()
    assert sites
    for fname, lineno, mod, mult in sites:
        worst = (mod - 1) * mult + _ADD_HEADROOM
        assert worst < 2**63, (
            f"{fname}:{lineno} mix (% {mod}) * {mult} can overflow int64: "
            f"worst product {worst} ≥ 2^63"
        )


@pytest.mark.parametrize(
    "mod,mult", sorted({(s[2], s[3]) for s in _scan_mix_sites()})
)
def test_scanned_mix_shapes_parity_on_full_key_domain(spark, mod, mult):
    """Cross-engine parity for every DISTINCT scanned (mod, mult) pair,
    composed with the largest additive second-hash term in use, over the
    full-int64 adversarial keys — the scanned generalization of the
    hand-listed MIX_FORMULAS cases."""
    formula = f"((k % {mod}) * {mult} + 32 * 2246822519) % 1000003"
    pdf = pd.DataFrame({"k": ADVERSARIAL_KEYS})
    con = duckdb.connect()
    con.register("t", pdf)
    want = [r[0] for r in con.execute(f"SELECT {formula} FROM t ORDER BY k").fetchall()]
    sdf = spark.createDataFrame(pdf)
    sdf.createOrReplaceTempView("ansi_edge_sweep_t")
    got = [
        r[0]
        for r in spark.sql(
            f"SELECT {formula} AS v FROM ansi_edge_sweep_t ORDER BY k"
        ).collect()
    ]
    assert got == want, (mod, mult)
