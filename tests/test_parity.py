"""Shift-left driver-parity test: every registered query vs its DuckDB
oracle at a small scale factor (SURVEY.md §5.4 — same check the driver
runs at sf0.01, runnable here at any sf via PARITY_SF_DIR), graded by
tools/parity_core.run_parity: rows, schema, dtypes and value hash."""

from __future__ import annotations

import os

import pytest
from parity_core import run_parity

from python_etl_sample_spark.registry import REGISTRY, load_all_operators

load_all_operators()

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_parity(spark, name):
    rows = run_parity(spark, SF_DIR, REGISTRY[name])
    assert rows > 0, f"{name} returned no rows"
