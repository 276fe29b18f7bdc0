"""bench.py's per-query record: timings, Spark job/stage counts and
failure accounting, on a small query dict."""

from __future__ import annotations

import bench
from evmtrace_etl_spark import registry
from tests.test_driver_contract import SF_DIR


def _raises(spark, sf_dir):
    raise RuntimeError("boom")


def test_bench_records_counts_and_failures(spark):
    reg = registry.queries()
    names = ["inv_props_selector", "zk_stream_transactions"]
    qs = {n: reg[n] for n in names}
    qs["broken"] = _raises

    sc = spark.sparkContext
    first = bench._next_job_id(sc)
    runs = bench.run_queries(spark, qs, SF_DIR)
    issued = bench._next_job_id(sc) - first
    doc = bench.document(runs, SF_DIR)

    # every job issued is billed to a run, the stream's micro-batch jobs
    # (which run under the query's runId job group) included
    assert sum(r["jobs"] for rs in runs.values() for r in rs) == issued

    for n in names:
        counts = [(r["jobs"], r["stages"]) for r in runs[n]]
        assert len(counts) == bench.PASSES
        # structural: every pass of a deterministic plan issues the
        # same jobs, the stream's micro-batch jobs included
        assert len(set(counts)) == 1, (n, counts)
        assert doc["counts"][n]["jobs"] >= 1
        assert doc["counts"][n]["stages"] >= 1
        assert doc["queries"][n] > 0

    assert doc["attempted"] == 3
    assert doc["failed"] == ["broken"]
    assert doc["queries"]["broken"] == -1.0
    assert "broken" not in doc["counts"]
    assert doc["value"] == round(sum(doc["queries"][n] for n in names), 4)
    assert "streaming" not in doc
