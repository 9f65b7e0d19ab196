"""Session-memo lifecycle (cache.py): repeated query invocation must
not accumulate persisted intermediates (round-2 ADVICE — per-call
persists leaked until GC), and release must empty the memo. The
loader's parquet-schema memo (sources/tables.py) is keyed per session
the same way."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from python_etl_sample_spark.cache import cache_keys, release_all
from python_etl_sample_spark.registry import REGISTRY, load_all_operators

load_all_operators()

SF_DIR = "/root/testdata/sf0.001"
REPO = Path(__file__).resolve().parents[1]

#: Child process: loads two tables, restarts the session, loads one
#: again under a job group and reports the application ids, the jobs of
#: that load and the schema memo's keys afterwards.
_RESTART_CHILD = """
import json, sys
from python_etl_sample_spark.session import get_spark
from python_etl_sample_spark.sources import tables

sf_dir = sys.argv[1]
spark = get_spark("schema-memo-restart")
tables.table(spark, sf_dir, "region")
tables.table(spark, sf_dir, "nation")
old = spark.sparkContext.applicationId
keys_before = sorted(tables._RAW_SCHEMAS)
spark.stop()
spark = get_spark("schema-memo-restart")
sc = spark.sparkContext
sc.setJobGroup("reload", "first load in the new session")
tables.table(spark, sf_dir, "region")
print(json.dumps({
    "old": old,
    "new": sc.applicationId,
    "keys_before": keys_before,
    "reload_jobs": list(sc.statusTracker().getJobIdsForGroup("reload")),
    "keys_after": sorted(tables._RAW_SCHEMAS),
}))
spark.stop()
"""


def test_repeated_calls_do_not_grow_cache(spark):
    for _ in range(2):
        REGISTRY["dedup_near_minhash"].fn(spark, SF_DIR).count()
        REGISTRY["sim_cosine_topk"].fn(spark, SF_DIR).count()
        REGISTRY["sim_ann_ivf"].fn(spark, SF_DIR).count()
    n_after_warm = len(cache_keys())
    for _ in range(3):
        REGISTRY["dedup_near_minhash"].fn(spark, SF_DIR).count()
        REGISTRY["sim_cosine_topk"].fn(spark, SF_DIR).count()
        REGISTRY["sim_ann_ivf"].fn(spark, SF_DIR).count()
    assert len(cache_keys()) == n_after_warm, "cache grew across repeated calls"


def test_gemm_queries_share_one_packed_corpus(spark):
    release_all()
    REGISTRY["sim_cosine_topk"].fn(spark, SF_DIR).count()
    keys_after_first = cache_keys()
    REGISTRY["dedup_embedding_cosine"].fn(spark, SF_DIR).count()
    REGISTRY["sim_knn_per_query"].fn(spark, SF_DIR).count()
    # the two later GEMM consumers reuse the packed corpus the first
    # call built — no new packed_embeddings entries
    packed = [k for k in cache_keys() if "packed_embeddings" in k]
    assert len(packed) == 1
    assert keys_after_first == [k for k in cache_keys() if k in keys_after_first]


def test_release_all_empties_the_memo(spark):
    REGISTRY["dedup_near_minhash"].fn(spark, SF_DIR).count()
    assert cache_keys()
    release_all()
    assert cache_keys() == []
    # and the memo rebuilds cleanly afterwards
    assert REGISTRY["dedup_near_minhash"].fn(spark, SF_DIR).count() >= 0


def test_schema_memo_is_per_session():
    """A restarted session re-infers each fixture schema, and the dead
    session's entries are pruned. Runs in a child process, because it
    stops its session."""
    out = subprocess.run(
        [sys.executable, "-c", _RESTART_CHILD, SF_DIR],
        cwd=REPO,
        env={**os.environ, "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "1g"},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    old, new = got["old"], got["new"]
    assert old != new
    assert got["keys_before"] == [
        [old, f"{SF_DIR}/nation.parquet"],
        [old, f"{SF_DIR}/region.parquet"],
    ]
    assert got["reload_jobs"], "the new session reused the dead session's schema"
    assert got["keys_after"] == [[new, f"{SF_DIR}/region.parquet"]]
