"""The parity checker: the one place that normalizes, hashes and compares
a Spark result with its DuckDB oracle. tools/drive_contract.py,
perfbench/harness.py and the tier-1 oracle test (tests/test_parity.py)
all grade through it.

Both sides of every parity check (the Spark query and its DuckDB
oracle) are authored in this repo, so a systematic normalization bug
could make a WRONG pair hash-match twice.  Keeping the exact
normalize/hash/compare code here lets the mutation test
(tests/test_harness_sensitivity.py) feed deliberately-wrong results
through the SAME code path every grader runs and assert each
perturbation is flagged in the right dimension — proving the checker
can fail, not just that it passed.
"""
from __future__ import annotations

import hashlib
from itertools import zip_longest

import duckdb
import pandas as pd

from python_etl_sample_spark.sources.tables import TABLE_NAMES

#: the four verdicts ``run_parity`` requires; the driver's own check,
#: and so drive_contract and perfbench, grade by ``hash_match`` alone
CHECKS = ("rows_match", "schema_match", "dtype_match", "hash_match")


def duck_connection(sf_dir: str):
    """A DuckDB connection with the ten fixture views registered, as the
    driver registers them (FIXTURES.md 'Oracle registration')."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def norm(pdf: pd.DataFrame) -> pd.DataFrame:
    """Engine-neutral canonical form: column-name order, unified dtypes
    (us-timestamps, float64, int64, str), total row order."""
    pdf = pdf[sorted(pdf.columns)]
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c].dtype):
            pdf[c] = pdf[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(pdf[c].dtype):
            pdf[c] = pdf[c].astype("float64")
        elif pd.api.types.is_integer_dtype(pdf[c].dtype):
            pdf[c] = pdf[c].astype("int64")
        elif pdf[c].dtype == object:
            pdf[c] = pdf[c].map(str)
    pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(
        drop=True
    )
    return pdf


def vhash(pdf: pd.DataFrame) -> str:
    return hashlib.md5(pdf.to_csv(index=False).encode()).hexdigest()


def compare(spdf: pd.DataFrame, dpdf: pd.DataFrame) -> dict:
    """One CORRECTNESS_r{N}.json row: rows/schema/dtype/value-hash match.

    ``dtype_match`` catches what the CSV hash cannot: an integer column
    served as text writes the same CSV, so it hash-matches."""
    s, d = norm(spdf), norm(dpdf)
    return {
        "rows_match": len(spdf) == len(dpdf),
        "schema_match": sorted(spdf.columns) == sorted(dpdf.columns),
        "dtype_match": s.dtypes.to_dict() == d.dtypes.to_dict(),
        "hash_match": vhash(s) == vhash(d),
        "spark_rows": len(spdf),
        "oracle_rows": len(dpdf),
        "err": None,
    }


def _first_difference(spdf: pd.DataFrame, dpdf: pd.DataFrame) -> str:
    """The first CSV line (line 0 is the header) where the ``norm()``
    forms of the two frames differ, and their dtypes if those differ."""
    s, d = norm(spdf), norm(dpdf)
    out = []
    lines = zip_longest(
        s.to_csv(index=False).splitlines(), d.to_csv(index=False).splitlines()
    )
    for i, (a, b) in enumerate(lines):
        if a != b:
            out.append(f"first differing line {i}:\n  spark:  {a}\n  oracle: {b}")
            break
    if s.dtypes.to_dict() != d.dtypes.to_dict():
        out.append(
            f"dtypes: spark={s.dtypes.astype(str).to_dict()} "
            f"oracle={d.dtypes.astype(str).to_dict()}"
        )
    return "\n".join(out)


def run_parity(spark, sf_dir: str, spec) -> int:
    """Run one registered query on Spark and its oracle on DuckDB and
    raise ``AssertionError`` unless all of ``CHECKS`` hold. A query
    without an oracle is only run. Returns the Spark row count."""
    spdf = spec.fn(spark, sf_dir).toPandas()
    if spec.oracle is None:
        return len(spdf)
    con = duck_connection(sf_dir)
    try:
        dpdf = con.execute(spec.oracle).df()
    finally:
        con.close()
    row = compare(spdf, dpdf)
    if not all(row[c] for c in CHECKS):
        raise AssertionError(
            f"[{spec.name}] {row}\n{_first_difference(spdf, dpdf)}"
        )
    return len(spdf)
