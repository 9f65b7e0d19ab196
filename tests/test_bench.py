"""bench.py survives a failing query: the failure is recorded under
"failed", every other query is still timed, all three JSON lines are
printed and the exit status is 1."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
SF_DIR = "/root/testdata/sf0.001"

#: Child process: registers one raising query (tagged ``memo`` so it
#: also fails in a warm-up phase), narrows the registry to it plus a few
#: real queries — the two bench runs by name among them — and runs
#: bench.py as a script.
_CHILD = """
import runpy
import python_etl_sample_spark.api as api
from python_etl_sample_spark.registry import REGISTRY, load_all_operators, query

load_all_operators()
keep = ("agg_groupby", "scan_projected", "filter_pred", "sink_parquet")
for name in [n for n in REGISTRY if n not in keep]:
    del REGISTRY[name]


@query("zz_injected_failure", tags=("memo",))
def zz_injected_failure(spark, sf_dir):
    raise RuntimeError("injected failure\\nsecond line")


api.queries = lambda: {n: s.fn for n, s in REGISTRY.items()}
runpy.run_path("bench.py", run_name="__main__")
"""


def test_bench_records_a_failing_query_and_still_prints_every_line():
    out = subprocess.run(
        [sys.executable, "-c", _CHILD],
        cwd=REPO,
        env={
            **os.environ,
            "SPARK_GRAFT_SF_DIR": SF_DIR,
            "SPARK_GRAFT_CPUS": "2",
            "SPARK_GRAFT_DRIVER_MEM": "1g",
        },
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 1, out.stderr[-3000:]
    lines = [json.loads(l) for l in out.stdout.splitlines() if l.startswith("{")]
    assert len(lines) == 3, out.stdout
    full, _, last = lines
    assert full["failed"] == {"zz_injected_failure": "RuntimeError: injected failure"}
    assert set(full["queries"]) == {
        "agg_groupby", "scan_projected", "filter_pred", "sink_parquet"
    }
    assert last["n_failed"] == 1
    assert last["n_queries"] == 4
    assert last["value"] == round(sum(full["queries"].values()), 4)
