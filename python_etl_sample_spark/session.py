"""SparkSession construction with the configs this engine requires.

Required configs (FIXTURES.md "Load configs"):
- ``spark.sql.legacy.parquet.nanosAsLong=true`` — events.parquet stores
  ``ts`` as timestamp[ns]; Spark 4.x refuses it by default
  (PARQUET_TYPE_ILLEGAL). The conf is runtime-settable, so the loader
  also sets it on sessions we did not build (the driver builds its own).
- UTC session timezone — keeps TimestampType ↔ timestamp_ntz ↔ DuckDB
  naive TIMESTAMP value-aligned.

Python workers: ``get_spark`` sessions start them from
``worker_daemon`` (the stock daemon, minus the per-task re-read of
every zip archive the worker imported from), with the checkout on
their ``PYTHONPATH`` so they import the package from any working
directory. A session built elsewhere keeps the stock daemon.

Scale posture: AQE on (skew-join split, partition coalescing),
shuffle.partitions sized for local runs but overridable; on a real
cluster this would be set ≈ 2-3× total cores or left to AQE.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

from python_etl_sample_spark.api import SMOKE_SF_DIR


def _holds_fixture_tables(path: str) -> bool:
    # sources.tables imports this module, so its names are read lazily
    from python_etl_sample_spark.sources.tables import TABLE_NAMES

    return all(os.path.exists(f"{path}/{name}.parquet") for name in TABLE_NAMES)


#: Validated environment overrides: name -> (default, check, expected).
#: A mistyped value fails fast instead of reaching Spark (or the
#: ``local[...]`` master string) as an opaque error or a silent default.
_ENV = {
    "SPARK_GRAFT_CPUS": (
        "*",
        lambda v: v == "*" or (v.isascii() and v.isdigit() and int(v) > 0),
        "'*' or a positive integer",
    ),
    "SPARK_GRAFT_PREFER_SORT_MERGE_JOIN": (
        "false",
        lambda v: v.lower() in ("true", "false"),
        "true or false",
    ),
    "SPARK_GRAFT_SHJ_LOCAL_MAP_THRESHOLD": (
        str(64 * 1024 * 1024),
        lambda v: v.isascii() and v.isdigit(),
        "a non-negative integer (bytes)",
    ),
    "SPARK_GRAFT_DRIVER_MEM": (
        "8g",
        lambda v: re.fullmatch(r"[1-9][0-9]*[kKmMgGtT]", v) is not None,
        "a JVM memory size such as 8g or 2048m",
    ),
    "SPARK_GRAFT_SF_DIR": (
        # the sf0.1 fixtures beside the smoke fixtures
        os.path.join(os.path.dirname(SMOKE_SF_DIR), "sf0.1"),
        _holds_fixture_tables,
        "a directory holding the ten fixture tables as <table>.parquet",
    ),
}


def env_setting(name: str) -> str:
    """``name`` from the environment, or its default; a malformed value
    raises ``ValueError`` naming the variable."""
    default, ok, expected = _ENV[name]
    value = os.environ.get(name, default)
    if not ok(value):
        raise ValueError(f"{name}={value!r}: expected {expected}")
    return value


#: r14 join posture (guide §3.1 / §9): allow the planner to pick a
#: shuffled hash join when its size conditions hold instead of always
#: preferring sort-merge, and let AQE rewrite a sort-merge to a
#: shuffled-hash at runtime when every post-shuffle partition's build
#: side is under the threshold (default 0 = off upstream; 64 MiB =
#: one AQE advisory partition). Physical-only — join results are
#: strategy-invariant — and measured on the SMJ-bearing tier
#: (interleaved A/B, OPTIMIZATION_r14.md batch 9): 0.86–0.97x on the
#: heavy graph/sim/dedup queries, no confirmed regression. The
#: threshold is the memory-safety knob at scale (a build side above it
#: keeps sort-merge's graceful spill); override via env for clusters
#: with tighter executor memory.
_SHJ_LOCAL_MAP_THRESHOLD = env_setting("SPARK_GRAFT_SHJ_LOCAL_MAP_THRESHOLD")

#: The static-planner half of the same posture, env-overridable for the
#: same reason (ADVICE r14): shuffled-hash builds lack sort-merge's
#: graceful spill when static size estimates are badly wrong, so a
#: memory-tight cluster can restore sort-merge without editing source
#: (SPARK_GRAFT_PREFER_SORT_MERGE_JOIN=true).
_PREFER_SORT_MERGE_JOIN = env_setting("SPARK_GRAFT_PREFER_SORT_MERGE_JOIN")


#: Runtime-settable confs every session needs: ``get_spark`` builds with
#: them and ``ensure_session_configs`` sets them on a session someone
#: else built. Shuffle partitions are right-sized for local-mode fixture
#: scale (the 200 default wastes task-launch overhead at sf≤0.1; AQE
#: coalescing makes the number forgiving either way).
_SESSION_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.join.preferSortMergeJoin": _PREFER_SORT_MERGE_JOIN,
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": _SHJ_LOCAL_MAP_THRESHOLD,
}


#: The directory holding the package: the Python workers, started by the
#: JVM outside this interpreter, need it on their path to import the
#: package (its worker daemon and any UDF defined in it).
_CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "python-etl-sample-spark") -> SparkSession:
    """Build (or get) a SparkSession configured for this engine."""
    cpus = env_setting("SPARK_GRAFT_CPUS")
    driver_mem = env_setting("SPARK_GRAFT_DRIVER_MEM")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config(map=_SESSION_CONFS)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "python_etl_sample_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _CHECKOUT)
    )
    return builder.getOrCreate()


def ensure_session_configs(spark: SparkSession) -> None:
    """Apply runtime-settable configs to an externally-built session.

    The driver's harness constructs its own SparkSession; all of
    ``_SESSION_CONFS`` are dynamic (verified empirically), so the loader
    calls this before every read.
    """
    # Memoized by probing a marker conf ON THE SESSION itself — never by
    # id(spark): CPython reuses ids after GC, so a session created after
    # an old one is collected could silently skip config application.
    try:
        if spark.conf.get(_MARKER_CONF, None) == "true":
            return
    except Exception:
        pass
    for key, value in _SESSION_CONFS.items():
        spark.conf.set(key, value)
    spark.conf.set(_MARKER_CONF, "true")


_MARKER_CONF = "spark.python_etl_sample_spark.sessionConfigured"


@contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on ``spark`` for the ``with`` block; on exit, also
    by exception, restore each key's prior value, or unset a key that
    was unset before."""
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
