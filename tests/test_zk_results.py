"""Single-pass dual-output zk plan: both builders over one ``ZkParts``
must equal the standalone builders and read the one persisted tree
frame instead of re-scanning."""

from __future__ import annotations

from evmtrace_etl_spark.plans.pipeline import (
    ZkParts,
    zk_contracts_deduped,
    zk_transactions,
)
from evmtrace_etl_spark.sources import fixtures


def _rows(df):
    return sorted(map(repr, df.collect()))


def test_zk_results_matches_standalone(spark):
    traces = fixtures.traces_df(spark)
    parts = ZkParts(traces)
    try:
        assert _rows(zk_transactions(traces, parts)) == _rows(
            zk_transactions(traces)
        )
        assert _rows(zk_contracts_deduped(traces, parts)) == _rows(
            zk_contracts_deduped(traces)
        )
    finally:
        parts.unpersist()


def test_zk_results_reads_one_persisted_tree_frame(spark):
    traces = fixtures.traces_df(spark)
    parts = ZkParts(traces)
    try:
        tx = zk_transactions(traces, parts)
        contracts = zk_contracts_deduped(traces, parts)
        # both outputs must read the persisted per-transaction tree
        # frame, not re-group the raw traces: the physical plans show
        # InMemoryTableScan
        for df in (tx, contracts):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryTableScan" in plan
    finally:
        parts.unpersist()
