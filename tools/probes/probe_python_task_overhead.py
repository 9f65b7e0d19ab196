"""Per-task cost of the Python worker around a pandas UDF's body.

Runs a trivial pandas UDF over 10 rows in one partition, ``runs`` times
in a ``get_spark`` session (after one discarded warm-up run that starts
the worker daemon), and prints one JSON line: the median, min and max
over the runs of

- ``launch_to_udf_ms``: the task's launch time (Spark's REST
  ``taskList``) to the UDF's first line (a ``time.time()`` the UDF
  returns), i.e. worker hand-off plus per-task set-up;
- ``task_ms``: the task's duration from the same REST record.

Usage: python tools/probes/probe_python_task_overhead.py [runs]
(default 20; ``SPARK_GRAFT_CPUS`` sets the local cores as for any
``get_spark`` session).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import urllib.request
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from python_etl_sample_spark.session import get_spark  # noqa: E402


def _entry_time(v: pd.Series) -> pd.Series:
    return pd.Series([time.time()] * len(v))


def _rest(sc, path: str):
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _launch_s(stamp: str) -> float:
    # REST times read like 2026-01-02T03:04:05.678GMT
    t = datetime.strptime(stamp.removesuffix("GMT"), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=timezone.utc).timestamp()


def _one_task(spark, group: str) -> tuple[float, float]:
    """(launch → UDF entry, task duration), in ms, of one UDF run."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    udf = F.pandas_udf(_entry_time, "double")
    df = spark.range(10, numPartitions=1).select(udf("id").alias("t"))
    entry = df.toPandas()["t"].min()
    (job,) = sc.statusTracker().getJobIdsForGroup(group)
    stages = sc.statusTracker().getJobInfo(job).stageIds
    for _ in range(50):  # the REST store is filled asynchronously
        tasks = [
            t
            for sid in stages
            for t in _rest(sc, f"stages/{sid}/0/taskList")
            if t.get("status") == "SUCCESS" and "duration" in t
        ]
        if tasks:
            break
        time.sleep(0.1)
    (task,) = tasks
    return (entry - _launch_s(task["launchTime"])) * 1000, float(task["duration"])


def _summary(values: list[float]) -> dict:
    return {
        "median": round(statistics.median(values), 1),
        "min": round(min(values), 1),
        "max": round(max(values), 1),
    }


def main(runs: int) -> None:
    spark = get_spark("probe-python-task-overhead")
    spark.sparkContext.setLogLevel("ERROR")
    warm = _one_task(spark, "probe-warmup")
    samples = [_one_task(spark, f"probe-{i}") for i in range(runs)]
    print(
        json.dumps(
            {
                "runs": runs,
                "master": spark.sparkContext.master,
                "daemon_module": spark.conf.get("spark.python.daemon.module", "pyspark.daemon"),
                "warmup_launch_to_udf_ms": round(warm[0], 1),
                "launch_to_udf_ms": _summary([s[0] for s in samples]),
                "task_ms": _summary([s[1] for s in samples]),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 20)
