"""Mistyped ``SPARK_GRAFT_*`` overrides fail fast, naming the variable.

The two join-posture variables are read when ``session`` is imported,
so each is checked on a fresh interpreter; ``SPARK_GRAFT_CPUS`` is read
by ``get_spark``, which must refuse it before touching the builder.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

from python_etl_sample_spark.session import env_setting, get_spark

REPO = Path(__file__).resolve().parents[1]


def _import_session(name: str, value: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-c", "import python_etl_sample_spark.session"],
        cwd=REPO,
        env={**os.environ, name: value},
        capture_output=True,
        text=True,
    )


@pytest.mark.parametrize("good", ["true", "FALSE"])
def test_prefer_sort_merge_join_must_be_boolean(good, monkeypatch):
    name = "SPARK_GRAFT_PREFER_SORT_MERGE_JOIN"
    monkeypatch.setenv(name, good)
    assert env_setting(name) == good
    out = _import_session(name, "yes")
    assert out.returncode != 0
    assert f"ValueError: {name}='yes'" in out.stderr


@pytest.mark.parametrize("good", ["0", "67108864"])
def test_shj_local_map_threshold_must_be_non_negative_int(good, monkeypatch):
    name = "SPARK_GRAFT_SHJ_LOCAL_MAP_THRESHOLD"
    monkeypatch.setenv(name, good)
    assert env_setting(name) == good
    out = _import_session(name, "64m")
    assert out.returncode != 0
    assert f"ValueError: {name}='64m'" in out.stderr


@pytest.mark.parametrize("bad", ["0", "-2", "four", "4 "])
def test_cpus_must_be_star_or_positive_int(bad, monkeypatch):
    for good in ("*", "4"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", good)
        assert env_setting("SPARK_GRAFT_CPUS") == good
    monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        get_spark()
