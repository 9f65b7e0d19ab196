"""The bench warm-up tags (``registry.WARM_TAGS``) match what the code does.

A child process wraps ``cache.cached_df``/``cached_value`` and
``scratch.stage_once`` before any operator module imports them, starts
a ``StreamingQueryListener``, then builds every registered query at
sf0.001 and reports which query touched which memo key, stage key and
stream. Warm-up membership itself stays frozen (BENCH_NOTES.md, "Warm-up
tags and their known drift"); these checks only pin that no shared
intermediate goes unwarmed and that no tag is stale.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from python_etl_sample_spark.api import SMOKE_SF_DIR
from python_etl_sample_spark.registry import REGISTRY, load_all_operators

load_all_operators()

REPO = Path(__file__).resolve().parents[1]

_PROBE = r"""
import json, sys
from collections import defaultdict

from python_etl_sample_spark import cache, scratch

current = [None]
memo_users, stage_users, streamers = defaultdict(set), defaultdict(set), set()


def memo(orig):
    def wrapped(spark, key, builder):
        memo_users[repr(key)].add(current[0])
        return orig(spark, key, builder)

    return wrapped


cache.cached_df = memo(cache.cached_df)
cache.cached_value = memo(cache.cached_value)
orig_stage = scratch.stage_once


def stage_once(name, sf_dir, write_fn):
    stage_users[name].add(current[0])
    return orig_stage(name, sf_dir, write_fn)


scratch.stage_once = stage_once

from pyspark.sql.streaming import StreamingQueryListener

from python_etl_sample_spark.api import queries
from python_etl_sample_spark.session import get_spark


class Streams(StreamingQueryListener):
    # QueryStartedEvent reaches session listeners synchronously, on the
    # thread that starts the stream, so ``current`` names its query
    def onQueryStarted(self, event):
        streamers.add(current[0])

    def onQueryProgress(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


qs = queries()  # imports the operators, now bound to the wrappers
spark = get_spark("warm-tag-probe")
spark.sparkContext.setLogLevel("ERROR")
spark.streams.addListener(Streams())
for name, fn in qs.items():
    current[0] = name
    fn(spark, sys.argv[1])
print(json.dumps({
    "memo": {k: sorted(v) for k, v in memo_users.items()},
    "stage": {k: sorted(v) for k, v in stage_users.items()},
    "stream": sorted(streamers),
}))
spark.stop()
"""


@pytest.fixture(scope="module")
def probe():
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g")
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, SMOKE_SF_DIR],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=1800,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _tagged(tag: str) -> set[str]:
    return {n for n, s in REGISTRY.items() if tag in s.tags}


def test_every_shared_key_has_a_warmed_user(probe):
    warmed = _tagged("memo") | _tagged("staged") | _tagged("stream")
    cold = {
        f"{kind} {key}": users
        for kind in ("memo", "stage")
        for key, users in probe[kind].items()
        if len(users) >= 2 and not warmed & set(users)
    }
    assert not cold, f"shared keys no warm-up builds: {cold}"


def test_every_memo_tag_touches_a_memo(probe):
    touched = {u for users in probe["memo"].values() for u in users}
    stale = sorted(_tagged("memo") - touched)
    assert not stale, f"tagged memo but touch no cache.py memo: {stale}"


def test_every_stream_tag_starts_a_stream(probe):
    stale = sorted(_tagged("stream") - set(probe["stream"]))
    assert not stale, f"tagged stream but start no stream: {stale}"
