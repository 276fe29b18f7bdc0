"""Turn a workload's pass results and spans into the printed metrics."""

from __future__ import annotations

import contextlib
import os

from evmtrace_etl_spark.streaming import runner

from measure import median, percentile
from tracing import JobCost, Tracer, children, self_time, sum_jobs

#: the functions ``streaming.runner`` binds at import and calls per
#: micro-batch, with the span name each gets when traced
RUNNER_CALLS = {
    "ZkParts": "pipeline.ZkParts",
    "zk_transactions": "pipeline.zk_transactions",
    "zk_contracts_deduped": "pipeline.zk_contracts_deduped",
    "with_checksummed_addresses": "checksum.with_checksummed_addresses",
    "_touched_chains": "runner.touched_chains",
}
TRACE_BATCH = "runner.process_trace_batch"
SINK_TABLES = ("transactions", "contracts", "blocks")


@contextlib.contextmanager
def traced_runner(tracer: Tracer):
    """Wrap the runner's per-batch calls in spans, on the runner's own
    namespace, for the duration of the block."""
    saved = {name: getattr(runner, name) for name in RUNNER_CALLS}
    try:
        for name, span in RUNNER_CALLS.items():
            setattr(runner, name, tracer.wrap(span, saved[name]))
        yield
    finally:
        for name, fn in saved.items():
            setattr(runner, name, fn)


def event_log_lines(events_dir: str):
    """Lines of the (single, uncompressed) event log in ``events_dir``."""
    for name in sorted(os.listdir(events_dir)):
        if name.startswith("."):
            continue
        with open(os.path.join(events_dir, name)) as fh:
            yield from fh


def _m(value, unit):
    return {"value": float(value), "unit": unit}


def _trigger_s(progress) -> list[float]:
    return [p["triggerExecution"] / 1e3 for p in progress]


def end_to_end(res: dict, setup_s: float, rss_mb: float) -> dict:
    fresh = res["freshness"]
    return {
        "rows_per_s": _m(res["rows_per_s"], "1/s"),
        "batch_s_p50": _m(median(_trigger_s(res["progress"]) or [0.0]), "s"),
        "freshness_s_p50": _m(percentile(fresh, 50), "s"),
        "freshness_s_p90": _m(percentile(fresh, 90), "s"),
        "setup_s": _m(setup_s, "s"),
        "jvm_peak_rss_mb": _m(rss_mb, "MB"),
    }


def _med(values) -> float:
    return median(values) if values else 0.0


def per_layer(
    tracer: Tracer,
    costs: dict[int, JobCost],
    traced: dict,
    probes: dict,
    n_files: int,
) -> tuple[dict, dict]:
    spans = tracer.spans
    addbatch = {p["batchId"]: p["addBatch"] / 1e3 for p in traced["progress"]}
    trace_batches = [i for i, s in enumerate(spans) if s.name == TRACE_BATCH]
    roots = [i for i, s in enumerate(spans) if s.parent is None]

    jobs, stages, tasks, self_s, plan, checksum, coverage, own = (
        [] for _ in range(8)
    )
    for i in trace_batches:
        c = sum_jobs(costs, spans[i].jobs)
        jobs.append(len(spans[i].jobs))
        stages.append(len(c.stages))
        tasks.append(c.tasks)
        self_s.append(self_time(spans, i))
        kids = children(spans, i)
        own.append(spans[i].own + sum(k.own for k in kids))
        plan.append(sum(k.seconds for k in kids if k.name.startswith("pipeline.")))
        checksum.append(
            sum(k.seconds for k in kids if k.name.startswith("checksum."))
        )
        if spans[i].batch in addbatch:
            coverage.append(
                sum(k.seconds for k in kids) / addbatch[spans[i].batch]
            )

    out = {
        "runner.jobs_per_batch": _m(_med(jobs), "count"),
        "runner.stages_per_batch": _m(_med(stages), "count"),
        "runner.tasks_per_batch": _m(_med(tasks), "count"),
        "runner.batch_s": _m(_med(self_s), "s"),
        "stream.overhead_s": _m(
            _med(
                [
                    (p["triggerExecution"] - p["addBatch"]) / 1e3
                    for p in traced["progress"]
                ]
            ),
            "s",
        ),
        "pipeline.plan_s": _m(_med(plan), "s"),
        "checksum.plan_s": _m(_med(checksum), "s"),
    }
    for name, unit in (
        ("sources.decode_rows_per_s", "1/s"),
        ("pipeline.derive_rows_per_s", "1/s"),
        ("checksum.addresses_per_s", "1/s"),
        ("sinks.upsert_rows_per_s", "1/s"),
    ):
        out[name] = _m(probes[name], unit)

    for table in SINK_TABLES:
        ups = [s for s in spans if s.name == f"sinks.upsert.{table}"]
        cs = [sum_jobs(costs, s.jobs) for s in ups]
        out[f"sinks.{table}.s"] = _m(_med([s.seconds for s in ups]), "s")
        out[f"sinks.{table}.jobs"] = _m(_med([len(s.jobs) for s in ups]), "count")
        out[f"sinks.{table}.executor_cpu_s"] = _m(
            _med([c.cpu_s for c in cs]), "s"
        )
        out[f"sinks.{table}.shuffle_write_bytes"] = _m(
            _med([c.shuffle_write_bytes for c in cs]), "B"
        )
    out["sinks.data_files"] = _m(n_files, "count")

    total = sum_jobs(costs, {j for i in roots for j in spans[i].jobs})
    out["spark.executor_cpu_s"] = _m(total.cpu_s, "s")
    out["spark.gc_s"] = _m(total.gc_s, "s")
    out["spark.shuffle_write_bytes"] = _m(total.shuffle_write_bytes, "B")
    out["spark.spill_bytes"] = _m(total.spill_bytes, "B")
    out["spark.tasks"] = _m(total.tasks, "count")

    out["head.generator_late_s_max"] = _m(
        traced.get("generator_late_s_max", 0.0), "s"
    )
    out["head.backlog_files_max"] = _m(
        traced.get("backlog_files_max", 0), "count"
    )
    out["trace.overhead_s"] = _m(_med(own), "s")
    out["trace.batch_s_p50"] = _m(_med(_trigger_s(traced["progress"])), "s")
    out["trace.span_coverage_min"] = _m(min(coverage) if coverage else 0.0, "share")
    per_batch = {"jobs": jobs, "stages": stages, "tasks": tasks}
    return out, per_batch
