"""Benchmark harness: runs every registry query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line, also written whole to $SPARK_GRAFT_BENCH_OUT (default
bench_out.json next to this file):

    {"metric": "headline_queries_total", "value": total_sec, "unit": "sec",
     "queries": {name: sec}, "counts": {name: {"jobs": n, "stages": n}},
     "attempted": n, "failed": [name, ...], "sf": ..., "passes": 2}

Each query is forced end-to-end with a noop-format write (full
materialization, no driver collect overhead).  Timings are per-query wall
clock after a shared SparkSession warm-up, min over ``PASSES`` full
passes.  ``counts`` are the Spark jobs (and the stages they list, skipped
ones included) issued while the query ran in the last pass.  A query
that raises in any pass is named in ``failed``, recorded as -1 in
``queries`` and left out of ``value``.

The paper's streaming path (trace stream → zk derivation → upserts) is
measured, output-checked, by ``perfbench/``.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

# Two-pass methodology, per-query MIN over both passes.  Pass 1 absorbs
# one-time per-session costs — Janino compiles of giant inlined-codebook
# expressions (measured 9-29 s per distinct literal set), first-stream
# setup, lazily-built memoized fixtures — which land on whichever query
# runs first and have repeatedly masqueraded as 6-10x plan regressions
# in single-pass benches (llm_ivf_trained_recall 24.4 s vs 3.4 s warm,
# zk_upsert_partition 46.5 s vs 2.8 s warm).  A query whose pass 2
# landed in a hypervisor-steal window (measured: a contiguous
# alphabetical run 2.6 s -> 52 s under sustained steal) reports its
# clean pass-1 time.  Plans are deterministic, so the re-built pass-2
# plan hits the codegen cache and measures the steady state.
PASSES = 2


def _next_job_id(sc) -> int:
    # no public API lists every job across job groups; the scheduler's
    # id counter does
    return sc._jsc.sc().dagScheduler().nextJobId()


def _jobs_since(sc, first: int) -> dict:
    """Jobs issued since job id ``first``, and the stages they list
    (skipped ones included).  Job ids are global and increase, and one
    query runs at a time, so these are that query's jobs — including the
    micro-batch jobs a stream runs under its own job group."""
    # the status store is filled from the listener bus asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ids = range(first, _next_job_id(sc))
    tracker = sc.statusTracker()
    return {
        "jobs": len(ids),
        "stages": sum(len(tracker.getJobInfo(j).stageIds) for j in ids),
    }


def run_queries(spark, qs: dict, sf_dir: str) -> dict[str, list[dict]]:
    """Run every query in ``qs`` (name → ``fn(spark, sf_dir)``) once per
    pass, in name order.  Returns ``{name: [run, ...]}`` with one run per
    pass: ``{"seconds", "jobs", "stages"}``, or ``{"error"}`` if the
    query raised."""
    sc = spark.sparkContext
    runs: dict[str, list[dict]] = {name: [] for name in qs}
    for _ in range(PASSES):
        for name in sorted(qs):
            first = _next_job_id(sc)
            t0 = time.perf_counter()
            try:
                df = qs[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                run = {"seconds": round(time.perf_counter() - t0, 4)}
            except Exception as exc:
                print(f"bench: {name} failed: {exc}", file=sys.stderr)
                run = {"error": str(exc)}
            run.update(_jobs_since(sc, first))
            runs[name].append(run)
            # Intra-plan persists (ZkParts, LSH signatures) are useful
            # within a query but would pile up across the suite — drop
            # them between runs.
            spark.catalog.clearCache()
    return runs


def document(runs: dict[str, list[dict]], sf_dir: str) -> dict:
    """The bench's output document from ``run_queries``' result."""
    failed = sorted(n for n, rs in runs.items() if any("error" in r for r in rs))
    ok = {n: rs for n, rs in runs.items() if n not in failed}
    timings = {n: min(r["seconds"] for r in rs) for n, rs in ok.items()}
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    return {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": {n: timings.get(n, -1.0) for n in sorted(runs)},
        "counts": {
            n: {"jobs": rs[-1]["jobs"], "stages": rs[-1]["stages"]}
            for n, rs in sorted(ok.items())
        },
        "attempted": len(runs),
        "failed": failed,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "passes": PASSES,
    }


def _warm_up(spark, qs: dict, sf_dir: str, cpus: int) -> None:
    """Pay the session's one-time costs before any query is timed."""

    def _python_workers() -> None:
        # daemon workers spawn lazily on the first Python-involving
        # stage (~5-7 s for a full local[32] pool), which would
        # otherwise be billed to whichever Arrow query runs first
        spark.range(cpus * 4).repartition(cpus).mapInPandas(
            lambda it: it, "id long"
        ).count()

    def _replay_fixture() -> None:
        # the upsert-pair queries share this memoized pipeline
        # materialization; without it, whichever of the pair runs first
        # bills ~4 s of shared harness setup to a sink measurement
        from evmtrace_etl_spark.plans.sink_parity import _replay_batches

        _replay_batches(spark)

    steps = {
        "jvm": lambda: qs["inv_props_selector"](spark, sf_dir).count(),
        "python_workers": _python_workers,
        "replay_fixture": _replay_fixture,
    }
    for step, fn in steps.items():
        try:
            fn()
        except Exception as exc:
            print(f"bench: warm-up {step} failed: {exc}", file=sys.stderr)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)

    from evmtrace_etl_spark import registry
    from evmtrace_etl_spark.session import get_spark

    spark = get_spark(app_name="evmtrace_bench", cpus=cpus,
                      shuffle_partitions=cpus)
    qs = registry.queries()
    _warm_up(spark, qs, sf_dir, cpus)
    doc = document(run_queries(spark, qs, sf_dir), sf_dir)
    if doc["failed"]:
        print(
            f"bench: {len(doc['failed'])} of {doc['attempted']} queries "
            f"failed: {', '.join(doc['failed'])}",
            file=sys.stderr,
        )
    # The stdout line is the driver contract; artifacts built from a
    # clipped stdout tail have twice lost the per-query map (BENCH_r13
    # recorded "parsed": null), so ALSO write the full document to a
    # file a reader can load whole.
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT", os.path.join(REPO, "bench_out.json")
    )
    try:
        with open(out_path, "w") as fh:
            json.dump(doc, fh)
    except OSError as exc:  # pragma: no cover - fs failure must not kill bench
        print(f"bench: could not write {out_path}: {exc}", file=sys.stderr)
    print(json.dumps(doc))


if __name__ == "__main__":
    main()
