"""Single-pass dual-output zk plan: zk_results must equal the standalone
builders and read the one persisted tree frame instead of re-scanning."""

from __future__ import annotations

from evmtrace_etl_spark.plans.pipeline import (
    zk_contracts_deduped,
    zk_results,
    zk_transactions,
)
from evmtrace_etl_spark.sources import fixtures


def _rows(df):
    return sorted(map(repr, df.collect()))


def test_zk_results_matches_standalone(spark):
    traces = fixtures.traces_df(spark)
    tx_combined, c_combined = zk_results(traces)
    assert _rows(tx_combined) == _rows(zk_transactions(traces))
    assert _rows(c_combined) == _rows(zk_contracts_deduped(traces))


def test_zk_results_reads_one_persisted_tree_frame(spark):
    traces = fixtures.traces_df(spark)
    tx, contracts = zk_results(traces)
    # both outputs must read the persisted per-transaction tree frame, not
    # re-group the raw traces: the physical plans show InMemoryTableScan
    assert "InMemoryTableScan" in tx._jdf.queryExecution().executedPlan().toString()
    assert (
        "InMemoryTableScan"
        in contracts._jdf.queryExecution().executedPlan().toString()
    )
