"""One workload run inside an existing Spark session.

A run is a closed loop with one client: the driver thread builds and
runs one query at a time. It makes one untimed pass (the last step of
set-up), then timed passes until ``seconds`` have elapsed, each pass in
its own seed-derived order. Each query is timed from build until a
``noop`` write of every column completes. Outputs are then checked
against the DuckDB oracle, outside the timed region. A query that
raises or mismatches counts as failed; it never aborts the run.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import sys
import time
import traceback
from collections.abc import Callable

from tracing import PLAN_TAG

#: Each run makes at least this many timed passes, whatever ``seconds``.
MIN_PASSES = 4
#: Queries an untraced run checks against the oracle; a traced run checks all.
VERIFY_SAMPLE = 2
#: The sentinel query timed before and after the passes (ambient load).
SENTINEL = "scan_projected"

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def noop_write(df, span_id: int | None = None) -> None:
    """Run ``df`` to completion: the noop sink computes every column,
    which ``count()`` would let Catalyst prune, and collects no rows.
    ``span_id`` tags the write for the tracer's plan listener."""
    writer = df.write.format("noop").mode("overwrite")
    if span_id is not None:
        writer = writer.option(PLAN_TAG, str(span_id))
    writer.save()


def tail(samples: list[float], min_samples: int) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it, never below the median, in a run of
    ``min_samples``, the fewest a run takes; then that percentile of
    ``samples`` by nearest rank. Fixing it at the fewest keeps a faster
    program, which fits more passes into a run, on the same percentile."""
    k = max(min_samples - 11, min_samples // 2)
    q = (k + 1) / min_samples
    xs = sorted(samples)
    return q, xs[max(math.ceil(q * len(xs)) - 1, 0)]


def vm_hwm_mib(pid: int | str) -> float:
    """Peak resident memory of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def vm_rss_mib(pid: int | str) -> float:
    """Current resident memory of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmRSS for pid {pid}")


def rss_after_gc_mib(spark, pids) -> float:
    """Resident memory of ``pids`` once a full GC has returned the JVM's
    free heap: what the run holds (memos, cached blocks, broadcasts),
    without the garbage G1 happened to keep."""
    spark.sparkContext._jvm.System.gc()
    before = None
    for _ in range(25):  # G1 uncommits freed regions in the background
        time.sleep(0.2)
        now = sum(vm_rss_mib(p) for p in pids)
        if before is not None and abs(now - before) < 1.0:
            break
        before = now
    return now


def cpu_ticks() -> tuple[int, int, int]:
    """(steal, busy, total) CPU ticks since boot. Steal is time the
    hypervisor ran other guests; busy is user, nice, system, irq and
    softirq time of every process on the machine."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    steal = ticks[7] if len(ticks) > 7 else 0
    return steal, sum(ticks[:3]) + sum(ticks[5:7]), sum(ticks)


def steal_share(before: tuple[int, int, int], after: tuple[int, int, int]) -> float:
    """Share of the CPU ticks between two readings that went to steal."""
    return (after[0] - before[0]) / max(after[2] - before[2], 1)


def busy_cpus(before: tuple[int, int, int], after: tuple[int, int, int]) -> float:
    """CPUs the machine kept busy, on average, between two readings."""
    return (after[1] - before[1]) / max(after[2] - before[2], 1) * (os.cpu_count() or 1)


def cpu_s(pid: int | str) -> float:
    """User plus system CPU seconds a process has used so far."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def cpu_stall_us() -> int | None:
    """Microseconds some task waited for a CPU since boot (PSI)."""
    try:
        with open("/proc/pressure/cpu") as f:
            return int(f.readline().rsplit("total=", 1)[1])
    except (OSError, IndexError, ValueError):
        return None


class Run:
    def __init__(
        self,
        spark,
        queries: dict[str, Callable],
        oracles: dict[str, str],
        members: tuple[str, ...],
        sf_dir: str,
        seed: int,
        tracer,
        warm_passes: int,
    ) -> None:
        self.spark = spark
        self.queries = queries
        self.oracles = oracles
        self.members = members
        self.sf_dir = sf_dir
        self.rng = random.Random(seed)
        # drawn apart from the pass orders, whose number depends on time
        self.verify_sample = random.Random(f"verify:{seed}").sample(
            members, min(VERIFY_SAMPLE, len(members))
        )
        self.tracer = tracer
        self.warm_passes = warm_passes
        self.attempted = 0
        self.failures: list[dict] = []

    def _fail(self, name: str, stage: str, why: str) -> None:
        self.failures.append({"query": name, "stage": stage, "error": why})
        print(f"perfbench: {name} failed in {stage}: {why}", file=sys.stderr)

    def execute(self, name: str, stage: str) -> float | None:
        """Build and run one query to completion; its latency, or None."""
        tr = self.tracer
        tr.set_context(stage, name)
        self.attempted += 1
        since_ms = int(time.time() * 1000)
        t0 = time.perf_counter()
        try:
            with tr.span("query", query=name):
                with tr.span("operators.build"):
                    df = self.queries[name](self.spark, self.sf_dir)
                analysis_s = tr.final_analysis_s(df, since_ms)
                with tr.span("spark.exec", analysis_s=analysis_s) as rec:
                    noop_write(df, None if rec is None else rec["id"])
        except Exception as e:  # noqa: BLE001 - a failed query is a data point
            traceback.print_exc(file=sys.stderr)
            self._fail(name, stage, f"{type(e).__name__}: {e}".splitlines()[0][:300])
            return None
        return time.perf_counter() - t0

    def run_pass(self, stage: str) -> tuple[float, dict[str, float]]:
        order = self.rng.sample(self.members, len(self.members))
        lat: dict[str, float] = {}
        t0 = time.perf_counter()
        for name in order:
            s = self.execute(name, stage)
            if s is not None:
                lat[name] = s
        return time.perf_counter() - t0, lat

    def sentinel(self) -> float:
        t0 = time.perf_counter()
        noop_write(self.queries[SENTINEL](self.spark, self.sf_dir))
        return time.perf_counter() - t0

    def verify(self, names: list[str]) -> None:
        """Check ``names`` against the DuckDB oracle."""
        import duckdb
        from parity_core import compare

        con = duckdb.connect()
        try:
            con.execute("SET threads=2")
            for t in FIXTURE_TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for name in names:
                self.tracer.set_context("verify", name)
                self.attempted += 1
                try:
                    spdf = self.queries[name](self.spark, self.sf_dir).toPandas()
                    row = compare(spdf, con.execute(self.oracles[name]).df())
                except Exception as e:  # noqa: BLE001
                    self._fail(name, "verify", f"{type(e).__name__}: {e}".splitlines()[0][:300])
                    continue
                if not row["hash_match"]:
                    self._fail(
                        name,
                        "verify",
                        f"oracle mismatch: rows {row['spark_rows']} vs {row['oracle_rows']},"
                        f" schema_match={row['schema_match']}",
                    )
        finally:
            con.close()

    def go(self, seconds: float, t_start: float, verify_all: bool, rss_pids) -> dict:
        """Set-up pass, timed passes, verification; the run's figures."""
        tr = self.tracer
        traced = tr.enabled
        steal0 = cpu_ticks()
        setup_runs = [self.run_pass("setup") for _ in range(self.warm_passes)]
        setup_pass_s = [w for w, _ in setup_runs]
        setup_s = time.perf_counter() - t_start
        setup_cpu_s = sum(cpu_s(p) for p in rss_pids)
        setup_steal = steal_share(steal0, cpu_ticks())
        tr.enabled = False
        tr.phase = "timed"
        sentinel_before = self.sentinel()

        passes: list[float] = []
        traced_passes: list[float] = []
        samples: list[float] = []
        per_query: dict[str, list[float]] = {}
        ticks0, stall0, t_timed = cpu_ticks(), cpu_stall_us(), time.perf_counter()
        i = 0
        # a traced run interleaves untraced and traced passes in the order
        # U T T U, so the tracing overhead is measured on the same process
        # and load, and a steady drift (warm-up) cancels out
        while i < MIN_PASSES or time.perf_counter() - t_timed < seconds:
            trace_this = traced and i % 4 in (1, 2)
            if trace_this:
                first_job, first_span = tr.last_job_id(), len(tr.spans)
                self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
                tr.enabled = True
            wall, lat = self.run_pass(f"pass{i}")
            if trace_this:
                tr.drain()
                tr.enabled = False
                self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
                tr.collect_pass(first_job, first_span, wall)
                traced_passes.append(wall)
            else:
                passes.append(wall)
                samples.extend(lat.values())
                for name, s in lat.items():
                    per_query.setdefault(name, []).append(s)
            i += 1
        timed_s = time.perf_counter() - t_timed
        stall1, ticks1 = cpu_stall_us(), cpu_ticks()
        sentinel_after = self.sentinel()
        peak_rss = sum(vm_hwm_mib(p) for p in rss_pids)
        rss_gc = rss_after_gc_mib(self.spark, rss_pids)
        stored = tr.stored_mib() if traced else None

        names = list(self.members) if verify_all else self.verify_sample
        self.verify(names)

        min_samples = MIN_PASSES * len(self.members) // (2 if traced else 1)
        q, tail_s = tail(samples, min_samples) if samples else (1.0, 0.0)
        out = {
            "setup_s": setup_s,
            "warm_pass_s": statistics.median(passes) if passes else 0.0,
            "query_p50_s": statistics.median(samples) if samples else 0.0,
            "query_tail_s": tail_s,
            "rss_after_gc_mib": rss_gc,
            "peak_rss_mib": peak_rss,
            "error_rate": len(self.failures) / self.attempted,
            "tail_percentile": round(100 * q, 1),
            "samples": len(samples),
            "passes": len(passes),
            "timed_s": timed_s,
            "sentinel_before_s": sentinel_before,
            "sentinel_after_s": sentinel_after,
            "cpu_pressure": (stall1 - stall0) / 1e6 / timed_s
            if stall0 is not None and stall1 is not None
            else None,
            "cpu_steal": steal_share(ticks0, ticks1),
            "busy_cpus": busy_cpus(ticks0, ticks1),
            "setup_pass_s": setup_pass_s,
            "cold_query_s": setup_runs[0][1],
            "setup_cpu_s": setup_cpu_s,
            "setup_cpu_steal": setup_steal,
            "pass_s": passes,
            "verified": len(names),
            "attempted": self.attempted,
            "failed": len(self.failures),
            "failures": self.failures,
            "query_s": dict(sorted(per_query.items())),
        }
        if traced:
            out["traced_pass_s"] = statistics.median(traced_passes)
            out["cache_stored_mib"] = stored
        return out
