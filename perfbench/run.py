"""Benchmark of the paper's trace pipeline: one command, one workload.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout of the repository.  ``--trace 0``
prints the end-to-end metrics; ``--trace 1`` runs the workload with
spans around each layer and prints the per-layer metrics.  The last
stdout line is the result JSON; the line before it records the run's
configuration.  Scratch space is ``.perfbench_work/`` in the checkout.
See ``perfbench/README.md`` for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("backfill", "head")
DRIVER_MEM = "1g"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _reap(scratch: str) -> None:
    """Remove run dirs of benchmark processes that have exited."""
    for name in os.listdir(scratch):
        pid = name.rsplit("-", 1)[-1]
        if name.startswith("run-") and pid.isdigit() and len(pid) < 10:
            try:
                os.kill(int(pid), 0)
            except ProcessLookupError:
                shutil.rmtree(os.path.join(scratch, name), ignore_errors=True)
            except PermissionError:
                pass


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``; size the driver heap for this host."""
    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        # the Arrow UDF workers import the package from any cwd
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        SPARK_SUBMIT_OPTS=" ".join(
            p
            for p in (
                os.environ.get("SPARK_SUBMIT_OPTS"),
                "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={tmp}",
            )
            if p
        ),
    )


def _spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "tmp"),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://"
                + os.path.join(work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def _stop(spark) -> None:
    """Stop the session, then the JVM it started, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "evmtrace_etl_spark", "__init__.py")):
        print(
            "perfbench: run from a checkout of the repository "
            "(evmtrace_etl_spark/ not found)",
            file=sys.stderr,
        )
        return 2
    cpus = len(os.sched_getaffinity(0))
    scratch = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(scratch, exist_ok=True)
    _reap(scratch)
    work = os.path.join(scratch, f"run-{os.getpid()}")
    _environment(work)
    sys.path[:0] = [ROOT, HERE]

    t_setup = time.perf_counter()
    import pyspark

    from evmtrace_etl_spark.session import get_spark

    import report
    from tracing import Tracer, job_metrics
    from workloads import Bench, data_files

    spark = get_spark(
        app_name="perfbench",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf=_spark_conf(work, bool(args.trace)),
    )
    try:
        jvm_pid = spark.sparkContext._gateway.proc.pid
        phases = {"session_s": time.perf_counter() - t_setup}
        bench = Bench(spark, work, args.seed)
        bench.write_seed()
        backfill = args.workload == "backfill"
        if backfill:
            bench.write_backfill()
        phases["inputs_s"] = time.perf_counter() - t_setup
        # the expectation's one-off batch plans run beside the warm-up
        with ThreadPoolExecutor(1) as pool:
            expectation = pool.submit(bench.fixture_expectation)
            bench.seed_sink(blocks=backfill)
            phases["warmup_s"] = time.perf_counter() - t_setup
            expectation.result()
        setup_s = time.perf_counter() - t_setup

        def run(tracer=None):
            if backfill:
                return bench.run_backfill(tracer)
            return bench.run_head(args.seconds, tracer)

        if args.trace:
            tracer = Tracer(spark.sparkContext)
            with report.traced_runner(tracer):
                res = run(tracer)
        else:
            res = run()
        phases["run_s"] = time.perf_counter() - t_setup
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cpus": cpus,
            "rows": res["rows"],
            "trace_batches": res["trace_batches"],
            "rows_per_batch": res["rows"] / max(res["trace_batches"], 1),
            "sink": "LakeUpsertSink",
            "pyspark": pyspark.__version__,
            "driver_memory": DRIVER_MEM,
            "phases_s": phases,
            "batch_s": [p["triggerExecution"] / 1e3 for p in res["progress"]],
            "check": res["check"],
            "errors": res["errors"],
        }
        if not args.trace:
            metrics = report.end_to_end(res, setup_s, _vm_hwm_mb(jvm_pid))
        else:
            n_files = data_files(bench.base)
            probes = bench.probes(bench.write_probe_batch())
            phases["probes_s"] = time.perf_counter() - t_setup
            _stop(spark)
            spark = None
            costs = job_metrics(report.event_log_lines(os.path.join(work, "events")))
            metrics, record["traced_batches"] = report.per_layer(
                tracer, costs, res, probes, n_files
            )
            tracer.dump(os.path.join(scratch, f"spans-{args.workload}.json"))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    correct = res["check"].get("ok") and not res["errors"]
    attempted = res["attempted"]
    print(json.dumps({"run": record}, default=str))
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": attempted,
                "failed": 0 if correct else attempted,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
