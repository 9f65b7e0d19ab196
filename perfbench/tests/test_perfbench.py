"""Self-tests of the benchmark: workload membership, a smoke run of every
workload at sf0.001, and fault isolation.

    python3 -m pytest perfbench/tests -q

The smoke runs start one Spark process each, so the file takes minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT, os.path.join(ROOT, "tools")]

from workloads import WORKLOADS  # noqa: E402

from python_etl_sample_spark.api import SMOKE_SF_DIR as SMOKE_SF  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_members_are_registered_and_disjoint():
    from python_etl_sample_spark.api import queries

    registered = queries()
    owner: dict[str, str] = {}
    for w in WORKLOADS.values():
        assert w.timed, w.name
        assert set(w.timed) <= set(w.members)
        for name in w.members:
            assert name in registered, f"{w.name}: {name} is not registered"
            assert name not in owner, f"{name} is in {owner.get(name)} and {w.name}"
            owner[name] = w.name


def test_benchmark_json_names_known_workloads():
    spec = _spec()
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    names = [m["name"] for kind in ("end_to_end", "per_layer") for m in spec[kind]]
    assert len(names) == len(set(names))


def test_final_plan_drops_aqe_initial_plan():
    from tracing import final_plan, plan_node_names

    text = """OverwriteByExpression NoopWrite
+- AdaptiveSparkPlan isFinalPlan=true
   +- == Final Plan ==
      *(2) HashAggregate(keys=[k#2L])
      +- ShuffleQueryStage 0
         +- Exchange hashpartitioning(k#2L, 200)
            +- ArrowEvalPython [plus1(id#0L)#1L]
               +- *(1) Range (0, 100, step=1, splits=2)
   +- == Initial Plan ==
      HashAggregate(keys=[k#2L])
      +- Exchange hashpartitioning(k#2L, 200)
         +- ArrowEvalPython [plus1(id#0L)#1L]
            +- Range (0, 100, step=1, splits=2)
"""
    names = plan_node_names(final_plan(text))
    assert names == [
        "OverwriteByExpression", "AdaptiveSparkPlan", "HashAggregate",
        "ShuffleQueryStage", "Exchange", "ArrowEvalPython", "Range",
    ]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_run_emits_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--sf-dir", SMOKE_SF],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    detail, result = (json.loads(line) for line in proc.stdout.strip().splitlines()[-2:])
    kind = "per_layer" if trace else "end_to_end"
    expected = {m["name"]: m["unit"] for m in _spec()[kind]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert detail["error_rate"] == {"value": 0.0, "unit": "fraction"}
    assert detail["peak_rss_mib"]["unit"] == "MiB" and detail["peak_rss_mib"]["value"] > 0


def test_run_without_program_exits_nonzero(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "reuse", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from python_etl_sample_spark.session import get_spark

    s = get_spark("perfbench-selftest")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_injected_faults_count_without_aborting(spark):
    from harness import MIN_PASSES, Run
    from tracing import Tracer

    from python_etl_sample_spark.api import oracle_sql, queries

    qs, oracles = queries(), oracle_sql()

    def raises(spark, sf_dir):
        raise RuntimeError("injected failure")

    def wrong(spark, sf_dir):  # runs fine, but returns one row too few
        return qs["scan_projected"](spark, sf_dir).limit(1)

    injected = {"scan_projected": qs["scan_projected"], "raises": raises, "wrong": wrong}
    oracle = {
        "scan_projected": oracles["scan_projected"],
        "raises": oracles["scan_projected"],
        "wrong": oracles["scan_projected"],
    }
    run = Run(spark, injected, oracle, tuple(injected), SMOKE_SF, 5, Tracer(), 3)
    res = run.go(0.0, time.perf_counter(), True, ["self"])

    failed = {(f["query"], f["stage"]) for f in res["failures"]}
    assert ("wrong", "verify") in failed
    assert {s for q, s in failed if q == "raises"} >= {"setup", "pass0", "verify"}
    assert not any(q == "scan_projected" for q, _ in failed)
    assert res["passes"] >= MIN_PASSES and res["samples"] >= 2 * MIN_PASSES
    assert res["error_rate"] == res["failed"] / res["attempted"] > 0
