"""Outside-in layer tracing for the traced benchmark run.

Every hook wraps a public function of the program from the benchmark's
own files; no file of the program changes. The operator modules bind
``table``, ``cached_df``, ``cached_value`` and ``stage_once`` by name when
they are imported, so ``Tracer.install`` must run before ``queries()``
imports them.

Spans are kept in memory and written as JSON when the run ends. Each
span sets its own Spark job group, so jobs launched inside it are
attributed to it; job and stage metrics come from Spark's status REST
API after each traced pass, outside the timed region. Catalyst phase
times and the executed plan of each timed noop write come from a
QueryExecutionListener: the write carries its span id as a write option.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from collections import Counter
from contextlib import contextmanager

#: Physical operators that run Python code (the Arrow/Python boundary).
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")
_EXCHANGE_NODE = re.compile(r"^(?:Exchange|BroadcastExchange|ShuffleExchange)$")
_NODE_NAME = re.compile(r"^[\s+\-:*!|]*(?:\(\d+\)\s*)?([A-Za-z]\w*)", re.M)

_MIB = 1024 * 1024
#: Write option that tags a traced noop write with its ``spark.exec`` span id.
PLAN_TAG = "perfbench_span"


def plan_node_names(plan_text: str) -> list[str]:
    """Operator names, one per line of a physical plan's tree string."""
    return _NODE_NAME.findall(plan_text)


def final_plan(plan_text: str) -> str:
    """A physical plan's tree string without the ``== Initial Plan ==``
    sections adaptive execution keeps beside its final plan."""
    out, skip_below = [], None
    for line in plan_text.splitlines():
        col = len(line) - len(line.lstrip(" :|"))
        if skip_below is not None and col > skip_below:
            continue
        skip_below = None
        if "== Initial Plan ==" in line:
            skip_below = col
            continue
        out.append(line)
    return "\n".join(out)


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of it its children cover."""
    covered = 0.0
    end_so_far = span["start"]
    for c in sorted(children, key=lambda c: c["start"]):
        lo, hi = max(c["start"], end_so_far), min(c["end"], span["end"])
        if hi > lo:
            covered += hi - lo
            end_so_far = hi
    return span["end"] - span["start"] - covered


class Tracer:
    """Records spans and layer counters while ``enabled`` is true.

    A tracer that was never installed, or is disabled, passes every call
    straight through, so a traced run can interleave untraced passes.
    """

    def __init__(self) -> None:
        self.enabled = False
        self.phase = "setup"  # or "timed"
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self.seconds: Counter = Counter()
        self.passes: list[dict] = []
        self._stack: list[int] = []
        self._context: tuple = ()
        self._sc = None
        self._ui = None
        self._plans: dict[int, dict] = {}  # spark.exec span id -> write's plan
        self.plan_errors: list[str] = []
        self._epoch = time.time() - time.perf_counter()

    # -- hooks ---------------------------------------------------------
    def install(self) -> None:
        """Wrap the layer entry points. Call before ``queries()``."""
        from python_etl_sample_spark import cache, scratch, sources
        from python_etl_sample_spark.sources import tables

        orig_table = tables.table

        def table(spark, sf_dir, name):
            if not self.enabled:
                return orig_table(spark, sf_dir, name)
            self._count("sources.calls")
            with self.span("sources.table", table=name):
                return orig_table(spark, sf_dir, name)

        tables.table = table
        sources.table = table

        def memo(orig, store):
            def wrapped(spark, key, builder):
                if not self.enabled:
                    return orig(spark, key, builder)
                hit = (spark.sparkContext.applicationId, *key) in store
                self._count("cache.hits" if hit else "cache.misses")

                def timed_builder():
                    with self.span("cache.build", key=repr(key)[:120]):
                        return builder()

                return orig(spark, key, builder if hit else timed_builder)

            return wrapped

        cache.cached_df = memo(cache.cached_df, cache._DF_CACHE)
        cache.cached_value = memo(cache.cached_value, cache._VAL_CACHE)

        orig_stage = scratch.stage_once

        def stage_once(name, sf_dir, write_fn):
            if not self.enabled or scratch.scratch_path(name, sf_dir) in scratch._staged:
                return orig_stage(name, sf_dir, write_fn)
            self._count("scratch.stages")

            def timed_write(path):
                with self.span("scratch.stage", stage=name):
                    write_fn(path)

            return orig_stage(name, sf_dir, timed_write)

        scratch.stage_once = stage_once

    def attach(self, spark) -> None:
        """Bind the session: job groups, the REST API and the listener."""
        from pyspark.sql.streaming import StreamingQueryListener

        self._sc = spark.sparkContext
        port = self._sc.uiWebUrl.rsplit(":", 1)[1]
        self._ui = f"http://127.0.0.1:{port}/api/v1/applications/{self._sc.applicationId}"
        tracer = self

        class _Streams(StreamingQueryListener):
            def onQueryStarted(self, event):
                tracer._count("streaming.queries")

            def onQueryProgress(self, event):
                tracer._count("streaming.batches")
                ms = event.progress.durationMs.get("triggerExecution", 0)
                tracer._add("streaming.batch_s", ms / 1000)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Streams())  # also starts the callback server

        class _Writes:
            def onSuccess(self, funcName, qe, durationNs):
                tracer._on_write(funcName, qe)

            def onFailure(self, funcName, qe, exception):
                tracer._on_write(funcName, qe)

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        self._writes = _Writes()
        spark._jsparkSession.listenerManager().register(self._writes)

    def _count(self, name: str, n: int = 1) -> None:
        if self.enabled:
            self.counts[(self.phase, name)] += n

    def _add(self, name: str, seconds: float) -> None:
        if self.enabled:
            self.seconds[(self.phase, name)] += seconds

    # -- spans ---------------------------------------------------------
    def set_context(self, *context) -> None:
        """The (pass, query) the next spans belong to."""
        self._context = context

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "trace": list(self._context),
            "phase": self.phase,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, span_id) -> None:
        if self._sc is None:
            return
        if span_id is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"perfbench-{span_id}", f"perfbench span {span_id}")

    def final_analysis_s(self, df, since_ms: float) -> float | None:
        """Catalyst analysis of the built DataFrame itself, which Spark
        runs eagerly when the DataFrame is created; read before the write,
        because the write command merges its own analysis into the same
        tracker. Only a phase that started at or after ``since_ms`` (epoch
        ms, the query's start) counts: a DataFrame an operator hands back
        from a memo keeps the tracker of its set-up."""
        if not self.enabled:
            return None
        summary = df._jdf.queryExecution().tracker().phases().get("analysis")
        if summary.isDefined() and summary.get().startTimeMs() >= since_ms:
            return summary.get().durationMs() / 1000
        return 0.0

    def _on_write(self, func_name: str, qe) -> None:
        """Record the Catalyst phases and the executed plan of a noop write
        tagged with a span id. Spark calls this on its listener bus after
        the write's SQL execution ends, with the write command's own
        QueryExecution: the one that was optimized, planned and run."""
        if func_name != "overwrite":  # the noop sink's save mode
            return
        try:
            tag = qe.logical().writeOptions().get(PLAN_TAG)
            if not tag.isDefined():
                return
            phases = qe.tracker().phases()
            times = {}
            for phase in ("analysis", "optimization", "planning"):
                summary = phases.get(phase)
                if summary.isDefined():
                    times[phase] = (
                        summary.get().startTimeMs() / 1000,
                        summary.get().endTimeMs() / 1000,
                    )
            names = plan_node_names(final_plan(qe.executedPlan().toString()))
            self._plans[int(tag.get())] = {
                "phases": times,
                "exchanges": sum(bool(_EXCHANGE_NODE.match(n)) for n in names),
                "python_nodes": sum(bool(_PYTHON_NODE.search(n)) for n in names),
            }
        except Exception as e:  # noqa: BLE001 - never raise into the listener bus
            self.plan_errors.append(f"{type(e).__name__}: {e}"[:300])

    # -- Spark status --------------------------------------------------
    def rest(self, path: str):
        with urllib.request.urlopen(self._ui + path, timeout=30) as resp:
            return json.load(resp)

    def last_job_id(self) -> int:
        jobs = self.rest("/jobs")
        return max((j["jobId"] for j in jobs), default=-1)

    def _add_plan_spans(self, spans_from: int) -> None:
        """Give each noop write of a traced pass a ``spark.plan`` child
        span, from the Catalyst phases of the write's own execution."""
        execs = [s for s in self.spans[spans_from:] if s["name"] == "spark.exec"]
        for _ in range(100):  # listener events arrive asynchronously
            if all(s["id"] in self._plans for s in execs):
                break
            time.sleep(0.1)
        for ex in execs:
            got = self._plans.pop(ex["id"], None)
            if not got or not got["phases"]:
                continue  # the write failed before its execution started
            ph = got["phases"]
            took = {phase: end - start for phase, (start, end) in ph.items()}
            start = max(min(a for a, _ in ph.values()) - self._epoch, ex["start"])
            end = min(max(b for _, b in ph.values()) - self._epoch, ex["end"])
            self.spans.append(
                {
                    "id": len(self.spans),
                    "name": "spark.plan",
                    "parent": ex["id"],
                    "trace": ex["trace"],
                    "phase": ex["phase"],
                    "start": start,
                    "end": max(end, start),
                    "analysis": (ex["analysis_s"] or 0.0) + took.get("analysis", 0.0),
                    "optimization": took.get("optimization", 0.0),
                    "planning": took.get("planning", 0.0),
                    "exchanges": got["exchanges"],
                    "python_nodes": got["python_nodes"],
                }
            )

    def collect_pass(self, first_job: int, spans_from: int, wall_s: float) -> None:
        """Attribute the jobs and writes a traced pass launched to its spans."""
        self._add_plan_spans(spans_from)
        jobs = []
        for _ in range(50):  # the status store is filled asynchronously
            jobs = [j for j in self.rest("/jobs") if j["jobId"] > first_job]
            if all(j["status"] != "RUNNING" for j in jobs):
                break
            time.sleep(0.1)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s
            for s in self.rest("/stages")
            if s["stageId"] in stage_ids and s["status"] != "SKIPPED"
        ]
        groups = Counter(j.get("jobGroup") for j in jobs)
        self.passes.append(
            {
                "wall_s": wall_s,
                "spans": (spans_from, len(self.spans)),
                "jobs": len(jobs),
                "jobs_by_group": {g: n for g, n in groups.items() if g},
                "stages": len(stages),
                "tasks": sum(s["numCompleteTasks"] for s in stages),
                "failed_tasks": sum(s["numFailedTasks"] for s in stages),
                "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
                "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
                "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
                "shuffle_read_mib": sum(s["shuffleReadBytes"] for s in stages) / _MIB,
                "shuffle_write_mib": sum(s["shuffleWriteBytes"] for s in stages) / _MIB,
                "spill_mib": sum(
                    s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages
                )
                / _MIB,
            }
        )

    def drain(self) -> None:
        """Wait until streaming listener events stop arriving; they are
        delivered asynchronously after each query ends."""
        keys = ("streaming.queries", "streaming.batches")
        last = None
        for _ in range(20):
            now = tuple(self.counts[(self.phase, k)] for k in keys)
            if now == last:
                return
            last = now
            time.sleep(0.25)

    def udf_profiled_s(self, spark) -> float:
        """Total time the UDF perf profiler recorded in Python workers."""
        stats = spark._profiler_collector._perf_profile_results
        return sum(s.total_tt for s in stats.values())

    def stored_mib(self) -> float:
        rdds = self.rest("/storage/rdd")
        return sum(r["memoryUsed"] + r["diskUsed"] for r in rdds) / _MIB

    # -- results -------------------------------------------------------
    def layer_metrics(self) -> dict[str, float]:
        """Per-layer metrics, per traced timed pass unless named as set-up."""
        n = max(len(self.passes), 1)
        timed = [
            s
            for a, b in (p["spans"] for p in self.passes)
            for s in self.spans[a:b]
        ]
        by_parent: dict[int, list[dict]] = {}
        for s in self.spans:
            by_parent.setdefault(s["parent"], []).append(s)

        def total(name, spans=timed):
            return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

        def jobs_in(name):
            ids = {f"perfbench-{s['id']}" for s in timed if s["name"] == name}
            return sum(
                n_jobs
                for p in self.passes
                for g, n_jobs in p["jobs_by_group"].items()
                if g in ids
            )

        def per_pass(key):
            return sum(p[key] for p in self.passes) / n

        plans = [s for s in timed if s["name"] == "spark.plan"]
        builds = [s for s in timed if s["name"] == "operators.build"]
        hits = self.counts[("timed", "cache.hits")]
        misses = self.counts[("timed", "cache.misses")]
        calls = self.counts[("timed", "sources.calls")]
        src_jobs = jobs_in("sources.table")
        m = {
            "sources.calls": calls / n,
            "sources.s": total("sources.table") / n,
            "sources.jobs": src_jobs / n,
            "sources.jobs_per_call": src_jobs / calls if calls else 0.0,
            "operators.build_s": sum(
                self_time(s, by_parent.get(s["id"], [])) for s in builds
            )
            / n,
            "operators.build_jobs": jobs_in("operators.build") / n,
            "cache.hits": hits / n,
            "cache.misses": misses / n,
            "cache.hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
            "cache.build_s": total("cache.build", self.spans),
            "scratch.stages": float(
                sum(v for (_, k), v in self.counts.items() if k == "scratch.stages")
            ),
            "scratch.stage_s": total("scratch.stage", self.spans),
            "streaming.queries": self.counts[("timed", "streaming.queries")] / n,
            "streaming.batches": self.counts[("timed", "streaming.batches")] / n,
            "streaming.batch_s": self.seconds[("timed", "streaming.batch_s")] / n,
            "udfs.plan_nodes": sum(s["python_nodes"] for s in plans) / n,
            "spark.analysis_s": sum(s["analysis"] for s in plans) / n,
            "spark.optimization_s": sum(s["optimization"] for s in plans) / n,
            "spark.planning_s": sum(s["planning"] for s in plans) / n,
            "spark.exec_s": total("spark.exec") / n,
            "spark.exchanges": sum(s["exchanges"] for s in plans) / n,
        }
        for key in (
            "jobs",
            "stages",
            "tasks",
            "failed_tasks",
            "executor_run_s",
            "executor_cpu_s",
            "gc_s",
            "shuffle_read_mib",
            "shuffle_write_mib",
            "spill_mib",
        ):
            m[f"spark.{key}"] = per_pass(key)
        return m

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    **extra,
                    "plan_errors": self.plan_errors,
                    "passes": self.passes,
                    "spans": self.spans,
                },
                f,
            )
