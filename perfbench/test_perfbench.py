"""Tests of the benchmark's pure logic, on canned inputs (no Spark).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import measure  # noqa: E402
from tracing import Span, Tracer, job_metrics, self_time, sum_jobs  # noqa: E402


# -- percentiles -------------------------------------------------------------


def test_percentile_interpolates_like_numpy_linear():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert measure.percentile(xs, 0) == 1.0
    assert measure.percentile(xs, 50) == 3.0
    assert measure.percentile(xs, 100) == 5.0
    assert measure.percentile(xs, 90) == pytest.approx(4.6)
    assert measure.median([1.0, 2.0, 3.0, 10.0]) == 2.5


def test_percentile_matches_statistics_median_and_rejects_empty():
    xs = [0.3, 9.1, 2.2, 7.7, 5.0, 1.4]
    assert measure.median(xs) == statistics.median(xs)
    with pytest.raises(ValueError):
        measure.percentile([], 50)


# -- the file source's checkpoint log -----------------------------------------


def _entry(name, batch):
    return json.dumps(
        {"path": f"file:///w/src/{name}", "timestamp": 1, "batchId": batch}
    )


def test_source_log_maps_files_to_batches_including_compact(tmp_path):
    d = tmp_path / "sources" / "0"
    d.mkdir(parents=True)
    (d / "0").write_text("v1\n" + _entry("a.json", 0) + "\n")
    # a compact file repeats earlier entries; the next batch follows it
    (d / "9.compact").write_text(
        "v1\n" + "\n".join([_entry("a.json", 0), _entry("b.json", 9)]) + "\n"
    )
    (d / "10").write_text("v1\n" + _entry("c.json", 10) + "\n")
    (d / ".10.crc").write_text("ignored")
    assert measure.read_source_log(str(d)) == {
        "a.json": 0,
        "b.json": 9,
        "c.json": 10,
    }


def test_freshness_is_due_to_commit_and_refuses_missing_files():
    due = {"a": 1.0, "b": 2.0, "c": 2.5}
    batch_of = {"a": 0, "b": 1, "c": 1}
    ends = {0: 3.0, 1: 6.0}
    assert sorted(measure.freshness(due, batch_of, ends)) == [2.0, 3.5, 4.0]
    with pytest.raises(ValueError):
        measure.freshness({**due, "d": 3.0}, batch_of, ends)


def test_backlog_counts_due_but_uncommitted_files_per_batch():
    due = {"a": 0.0, "b": 1.0, "c": 2.5, "d": 3.5}
    batch_of = {"a": 0, "b": 1, "c": 1, "d": 2}
    ends = {0: 2.0, 1: 4.0, 2: 5.0}
    # at t=2 'b' is due and waits; at t=4 'd' waits; at t=5 nothing
    assert measure.backlog_at_batch_ends(due, batch_of, ends) == [1, 1, 0]


# -- spans --------------------------------------------------------------------


def test_self_time_subtracts_merged_children_clipped_to_parent():
    spans = [
        Span("batch", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 3.0, 5.0, parent=0),  # overlaps a
        Span("c", 9.0, 12.0, parent=0),  # runs past the parent
        Span("a.child", 1.5, 2.0, parent=1),  # grandchild: not subtracted
    ]
    assert self_time(spans, 0) == pytest.approx(10.0 - 4.0 - 1.0)
    assert self_time(spans, 1) == pytest.approx(2.5)
    assert self_time(spans, 4) == pytest.approx(0.5)


# -- event log join -----------------------------------------------------------


def _job_start(job, stages, group="run-1"):
    return json.dumps(
        {
            "Event": "SparkListenerJobStart",
            "Job ID": job,
            "Stage IDs": stages,
            "Properties": {"spark.jobGroup.id": group},
        }
    )


def _task_end(stage, cpu_ns, run_ms=10, gc_ms=1, shuffle=100, spill=0):
    return json.dumps(
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Executor CPU Time": cpu_ns,
                "JVM GC Time": gc_ms,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                "Memory Bytes Spilled": spill,
                "Disk Bytes Spilled": 0,
            },
        }
    )


def test_job_metrics_assigns_shared_stage_to_first_job():
    lines = [
        _job_start(1, [10, 11]),
        _task_end(10, 2_000_000_000),
        _task_end(11, 1_000_000_000, spill=5),
        # job 2 lists stage 11 again (skipped) and runs stage 12;
        # stage 13 is listed but never runs
        _job_start(2, [11, 12, 13]),
        _task_end(12, 500_000_000),
        '{"Event":"SparkListenerStageCompleted"}',
    ]
    costs = job_metrics(lines)
    assert costs[1].tasks == 2 and costs[2].tasks == 1
    assert costs[1].cpu_s == pytest.approx(3.0)
    assert costs[2].cpu_s == pytest.approx(0.5)
    assert costs[1].spill_bytes == 5
    assert costs[1].stages == {10, 11} and costs[2].stages == {12}
    both = sum_jobs(costs, [1, 2, 99])  # 99: not in the log
    assert both.stages == {10, 11, 12}
    assert both.tasks == 3
    assert both.shuffle_write_bytes == 300
    assert both.gc_s == pytest.approx(0.003)


# -- output digest ------------------------------------------------------------


def test_digest_ignores_order_but_not_multiplicity_or_values():
    rows = [(1, "0xab", None), (2, "0xcd", "x")]
    n, h = measure.digest(rows)
    assert n == 2
    assert measure.digest(list(reversed(rows))) == (n, h)
    assert measure.digest(rows + rows[:1])[1] != h
    assert measure.digest([(1, "0xab", None), (2, "0xcd", "y")])[1] != h


# -- generator ----------------------------------------------------------------


def test_generator_keeps_every_tx_tree_in_one_file(tmp_path):
    g = gen.TraceGen(seed=3)
    replicas = gen.shuffled_replicas(3, 0, 10)
    names = gen.write_trace_files(g, str(tmp_path), replicas, per_file=3)
    assert len(names) == 4
    home = {}
    n = 0
    for name in names:
        for line in (tmp_path / name).read_text().splitlines():
            row = json.loads(line)
            key = (row["chain_id"], row["transaction_hash"])
            assert home.setdefault(key, name) == name
            n += 1
    assert n == 10 * gen.ROWS_PER_REPLICA
    # 10 fixture trees per replica (chain 10 shares tx1's hash)
    assert len(home) == 10 * 10
    assert not [f for f in os.listdir(tmp_path) if f.startswith(".")]


def test_generator_is_seeded():
    a, b = gen.TraceGen(1), gen.TraceGen(1)
    assert a.replica_lines(5) == b.replica_lines(5)
    assert a.replica_lines(5) != gen.TraceGen(2).replica_lines(5)
    assert gen.shuffled_replicas(1, 0, 50) == gen.shuffled_replicas(1, 0, 50)
    assert sorted(gen.shuffled_replicas(1, 0, 50)) == list(range(50))


def test_block_redelivery_changes_payload_not_key():
    first, again = gen.block_row(7, 7, 0), gen.block_row(7, 10_007, 1)
    assert (first["chain_id"], first["number"]) == (
        again["chain_id"],
        again["number"],
    )
    assert first["gas_used"] != again["gas_used"]
    assert again["seq"] > first["seq"]


# -- tracer -------------------------------------------------------------------


class _FakeContext:
    """The two SparkContext calls the tracer makes."""

    def __init__(self):
        self.jobs: list[int] = []

    def getLocalProperty(self, key):
        return "run-1"

    def statusTracker(self):
        return self

    def getJobIdsForGroup(self, group):
        return list(self.jobs)


def test_tracer_records_nesting_batch_jobs_and_own_time():
    sc = _FakeContext()
    tracer = Tracer(sc)
    tracer.set_batch(3)

    def inner():
        sc.jobs.append(2)
        return "x"

    def outer():
        sc.jobs.append(1)
        return tracer.span("inner", inner)

    assert tracer.wrap("outer", outer)() == "x"
    outer_s, inner_s = tracer.spans
    assert outer_s.parent is None and inner_s.parent == 0
    assert outer_s.jobs == [1, 2] and inner_s.jobs == [2]
    assert outer_s.batch == inner_s.batch == 3
    assert outer_s.start <= inner_s.start <= inner_s.end <= outer_s.end
    assert outer_s.own >= 0 and inner_s.own >= 0
