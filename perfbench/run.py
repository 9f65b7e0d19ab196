"""Run one benchmark workload in a fresh process and print its metrics.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the program. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``. The line before
it carries the run's details (error rate, tail percentile and sample
count, pinned CPUs, ambient load). With ``--trace 1`` the spans are also
written to ``.bench_build/perfbench/traces/``.

Everything the run writes stays under ``.bench_build/perfbench/`` in the
checkout; its private Spark and scratch directories are removed at the
end. Without the program beside it, it exits 2 and prints no result.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "python_etl_sample_spark"
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
#: local[N]: fixed so every run of every workload has the same parallelism.
#: Two task threads leave the other cores of a 4-core machine to the JIT,
#: GC and Python workers, so the run does not contend with itself; at
#: sf0.1 a pass takes about as long on two task threads as on four.
CPUS = min(2, os.cpu_count() or 1)
DRIVER_MEM = "2g"


def parse_args(argv=None) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--sf-dir",
        help="fixture directory (read-only parquet tables); default: the sf0.1"
        " fixtures beside the program's smoke fixtures",
    )
    return p.parse_args(argv)


def private_environment(run_dir: str) -> None:
    """Point every directory Spark, the JVM and Python write to into
    ``run_dir``, and pin the parallelism, before the JVM starts."""
    for sub in ("local", "tmp", "scratch", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers unpickle the program's functions by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    confs = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job and stage of its passes back
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    # every JVM, the launcher's too: temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {k}={v}" for k, v in confs.items()] + ["pyspark-shell"]
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - make sure it is gone
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    # a terminated run still stops its JVM and removes its directories
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "api.py")):
        print(f"perfbench: no {PACKAGE} package at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.sf_dir is None:
        from python_etl_sample_spark.api import SMOKE_SF_DIR

        args.sf_dir = os.path.join(os.path.dirname(SMOKE_SF_DIR), "sf0.1")
    missing = [
        t
        for t in ("lineitem", "events", "documents", "embeddings")
        if not os.path.exists(os.path.join(args.sf_dir, f"{t}.parquet"))
    ]
    if missing:
        print(f"perfbench: fixtures {missing} missing in {args.sf_dir}", file=sys.stderr)
        return 2

    from workloads import WORKLOADS

    workload = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    private_environment(run_dir)
    sys.path.insert(0, os.path.join(ROOT, "tools"))  # parity_core, the oracle checker
    spark = None
    try:
        from harness import Run
        from tracing import Tracer

        from python_etl_sample_spark import scratch

        scratch._ROOT = os.path.join(run_dir, "scratch")
        tracer = Tracer()
        if args.trace:
            tracer.install()

        from python_etl_sample_spark.api import oracle_sql, queries
        from python_etl_sample_spark.session import get_spark

        t0 = time.perf_counter()
        qs, oracles = queries(), oracle_sql()
        registry_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        if args.trace:
            tracer.attach(spark)
            tracer.enabled = True
        rss_pids = ["self", spark.sparkContext._gateway.proc.pid]

        run = Run(
            spark,
            qs,
            oracles,
            workload.timed,
            args.sf_dir,
            args.seed,
            tracer,
            workload.warm_passes,
        )
        res = run.go(args.seconds, T_START, bool(args.trace), rss_pids)
        layers = None
        if args.trace:
            layers = tracer.layer_metrics()
            layers["registry.load_s"] = registry_s
            layers["session.start_s"] = session_s
            layers["cache.stored_mib"] = res["cache_stored_mib"]
            layers["udfs.profiled_s"] = tracer.udf_profiled_s(spark) / max(
                len(tracer.passes), 1
            )
            layers["ambient.sentinel_s"] = (
                res["sentinel_before_s"] + res["sentinel_after_s"]
            ) / 2
            layers["ambient.cpu_pressure"] = res["cpu_pressure"] or 0.0
            layers["ambient.cpu_steal"] = res["cpu_steal"]
            layers["trace.overhead_s"] = res["traced_pass_s"] - res["warm_pass_s"]
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.dump(
                os.path.join(WORK, "traces", f"{workload.name}-seed{args.seed}.json"),
                {"workload": workload.name, "seed": args.seed, "layers": layers},
            )
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    print(
        json.dumps(
            {
                "workload": workload.name,
                "seed": args.seed,
                "trace": args.trace,
                "queries": list(workload.timed),
                "cpus": CPUS,
                "sf_dir": args.sf_dir,
                "error_rate": {"value": res["error_rate"], "unit": "fraction"},
                "peak_rss_mib": {"value": res["peak_rss_mib"], "unit": "MiB"},
                "registry_load_s": registry_s,
                "session_start_s": session_s,
                **{
                    k: res[k]
                    for k in (
                        "tail_percentile",
                        "samples",
                        "passes",
                        "timed_s",
                        "sentinel_before_s",
                        "sentinel_after_s",
                        "cpu_pressure",
                        "cpu_steal",
                        "busy_cpus",
                        "setup_pass_s",
                        "cold_query_s",
                        "setup_cpu_s",
                        "setup_cpu_steal",
                        "pass_s",
                        "verified",
                        "failures",
                        "query_s",
                    )
                },
            }
        )
    )
    units = load_units()
    if args.trace:
        metrics = {k: {"value": layers[k], "unit": u} for k, u in units["per_layer"].items()}
    else:
        metrics = {k: {"value": res[k], "unit": u} for k, u in units["end_to_end"].items()}
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


def load_units() -> dict[str, dict[str, str]]:
    """Metric names and units, in BENCHMARK.json order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        kind: {m["name"]: m["unit"] for m in spec[kind]}
        for kind in ("end_to_end", "per_layer")
    }


if __name__ == "__main__":
    sys.exit(main())
