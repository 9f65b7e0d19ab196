"""Mistyped ``SPARK_GRAFT_*`` overrides fail fast, naming the variable.

The two join-posture variables are read when ``session`` is imported,
so each is checked on a fresh interpreter; ``SPARK_GRAFT_CPUS`` and
``SPARK_GRAFT_DRIVER_MEM`` are read by ``get_spark``, which must refuse
them before touching the builder; ``SPARK_GRAFT_SF_DIR`` is read by
``bench.py``, which must refuse it before starting Spark. A plain
session, as the driver builds it, reads every conf of
``session._SESSION_CONFS`` as ``get_spark``'s session does once
``ensure_session_configs`` has run.
"""

from __future__ import annotations

import json
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


@pytest.mark.parametrize("bad", ["8", "8 g", "8gb", "eight", "0g"])
def test_driver_mem_must_be_a_jvm_size(bad, monkeypatch):
    for good in ("8g", "2048m", "512M"):
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", good)
        assert env_setting("SPARK_GRAFT_DRIVER_MEM") == good
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", bad)
    with pytest.raises(ValueError, match="SPARK_GRAFT_DRIVER_MEM"):
        get_spark()


def test_bench_refuses_an_sf_dir_without_the_fixture_tables(tmp_path, monkeypatch):
    from python_etl_sample_spark.api import SMOKE_SF_DIR as good
    from python_etl_sample_spark.sources import TABLE_NAMES

    name = "SPARK_GRAFT_SF_DIR"
    monkeypatch.setenv(name, good)
    assert env_setting(name) == good
    for table in TABLE_NAMES[:-1]:
        (tmp_path / f"{table}.parquet").touch()
    monkeypatch.setenv(name, str(tmp_path))
    with pytest.raises(ValueError, match=name):
        env_setting(name)
    out = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=REPO,
        env={**os.environ, name: good + "-typo"},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode != 0
    assert f"ValueError: {name}='{good}-typo'" in out.stderr
    assert out.stdout == ""


#: Child process: a plain session, as the driver builds it, configured
#: only by ``ensure_session_configs``; prints every mapped conf.
_PLAIN_SESSION = """
import json
from pyspark.sql import SparkSession
from python_etl_sample_spark.session import _SESSION_CONFS, ensure_session_configs

spark = SparkSession.builder.master("local[1]").getOrCreate()
ensure_session_configs(spark)
print(json.dumps({k: spark.conf.get(k) for k in _SESSION_CONFS}))
spark.stop()
"""


def test_plain_session_reads_the_get_spark_confs(spark):
    from python_etl_sample_spark.session import _SESSION_CONFS

    out = subprocess.run(
        [sys.executable, "-c", _PLAIN_SESSION],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    plain = json.loads(out.stdout.splitlines()[-1])
    assert plain == {k: spark.conf.get(k) for k in _SESSION_CONFS}
