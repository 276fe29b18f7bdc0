"""Differential + targeted tests for the zk-trace domain pipeline.

The differential tests run the real Spark pipeline on the deterministic
fixture and compare against a pure-SQL DuckDB restatement of the same
batch semantics (plans.zk_parity).  The targeted tests pin down the
scenario outcomes FIXTURES.md §A requires, so a same-bug-both-sides
failure in the differential layer would still be caught on the cases the
reference defines.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from evmtrace_etl_spark.plans import zk_parity
from evmtrace_etl_spark.plans.pipeline import (
    ZkParts,
    blocks_passthrough,
    zk_contracts_deduped,
    zk_transactions,
)
from evmtrace_etl_spark.sources import fixtures
from evmtrace_etl_spark.sources.fixtures import (
    C1,
    C2,
    C3,
    C5,
    C6,
    C7,
    C8,
    EOA1,
    EOA2,
    EOA3,
    P_ADD,
    P_MUL,
    P_PAIR,
    P_REC,
    TXH,
)

from .compare import assert_matches_oracle


def test_transactions_match_duckdb_oracle(spark):
    assert_matches_oracle(
        zk_parity.spark_zk_transactions(spark),
        zk_parity.zk_transactions_oracle_sql(),
    )


def test_contracts_match_duckdb_oracle(spark):
    assert_matches_oracle(
        zk_parity.spark_zk_contracts(spark),
        zk_parity.zk_contracts_oracle_sql(),
    )


def test_blocks_match_duckdb_oracle(spark):
    assert_matches_oracle(
        zk_parity.spark_blocks(spark), zk_parity.blocks_oracle_sql()
    )


@pytest.fixture(scope="module")
def tx_rows(spark):
    df = zk_transactions(fixtures.traces_df(spark))
    return {(r["chain_id"], r["transaction_hash"]): r for r in df.collect()}


@pytest.fixture(scope="module")
def contract_rows(spark):
    df = zk_contracts_deduped(fixtures.traces_df(spark))
    return {(r["chain_id"], r["address"]): r for r in df.collect()}


def test_commit_filter_drops_non_zk(tx_rows):
    committed = {k[1] for k in tx_rows if k[0] == 1}
    assert TXH[4] not in committed  # only ecAdd/ecMul (J1)
    assert TXH[5] not in committed  # no precompiles (J1)
    assert TXH[6] not in committed  # root missing to_address (P11)
    assert TXH[10] not in committed  # root missing transaction_index (P11)
    assert committed == {TXH[1], TXH[2], TXH[3], TXH[7], TXH[9]}


def test_tx1_depth_one(tx_rows):
    r = tx_rows[(1, TXH[1])]
    assert r["closest_address"] == [C1]  # EOA excluded from 2nd degree
    assert r["function_signature"] == "0xaabbccdd"
    assert r["ec_pairing_count"] == 2 and r["ec_recover_count"] == 1
    assert r["ec_pairing_input_sizes"] == [192, 384]
    # null-from trace (P10) contributes nothing: only C1's calls count
    assert r["gas_used_first_degree"] == 113 + 127 + 131
    assert r["gas_used_second_degree"] == 0
    assert r["ec_recover_addresses"] == ["0x" + format(0x1111, "040x")]
    assert str(r["value"]) == "1000"


def test_tx2_second_degree(tx_rows, contract_rows):
    r = tx_rows[(1, TXH[2])]
    assert r["closest_address"] == [C2]  # second degree beats first (J4)
    assert r["error"] == "Reverted"
    assert r["ec_add_count"] == 1 and r["ec_mul_count"] == 1
    assert r["gas_used_first_degree"] == 1013  # C3's sent gas
    assert r["gas_used_second_degree"] == 1009 + 1019  # C2's sent gas
    c3 = contract_rows[(1, C3)]
    assert c3["degree"] == 0 and c3["call"] == [P_PAIR]
    assert c3["function_signatures"] == ["0x11223344"]
    c2 = contract_rows[(1, C2)]
    assert c2["degree"] == 1 and c2["call"] == [C3]
    assert c2["ec_pairing_count"] == 0


def test_tx3_fan_in_and_quirks(tx_rows, contract_rows):
    r = tx_rows[(1, TXH[3])]
    assert r["ec_recover_count"] == 3
    # short output -> zero address; two real recoveries
    assert r["ec_recover_addresses"] == [
        "0x" + "0" * 40,
        "0x" + format(0x3333, "040x"),
        "0x" + format(0x4444, "040x"),
    ]
    assert r["function_signature"] == "0x00000000"  # null root input
    assert r["closest_address"] == [C5]
    # C5 is both degree 0 and degree 1 with identical signature set ->
    # keep-first dedup (D2) keeps degree 0
    assert contract_rows[(1, C5)]["degree"] == 0
    assert contract_rows[(1, C6)]["degree"] == 0
    assert contract_rows[(1, C6)]["call"] == [P_REC]


def test_tx7_duplicate_roots_keep_last(tx_rows):
    r = tx_rows[(1, TXH[7])]
    assert r["gas_used_total"] == 70007  # later seq root wins
    assert r["ec_recover_count"] == 1


def test_tx8_chain_isolation(tx_rows):
    r = tx_rows[(10, TXH[1])]
    assert r["ec_pairing_count"] == 1
    assert r["ec_recover_count"] == 0
    assert r["block_number"] == 200


def test_tx9_quirks(tx_rows, contract_rows):
    r = tx_rows[(1, TXH[9])]
    assert r["function_signature"] == "0x00000000"  # exactly-4-byte input
    assert r["ec_pairing_input_sizes"] == [0]  # null pairing calldata
    c8 = contract_rows[(1, C8)]
    assert c8["ec_pairing_count"] == 1
    assert c8["ec_pairing_input_sizes"] == [0]


def test_blocks_keep_last(spark):
    out = blocks_passthrough(fixtures.blocks_df(spark))
    rows = {(r["chain_id"], r["number"]): r for r in out.collect()}
    assert len(rows) == 4
    assert rows[(1, 100)]["gas_used"] == 1_111_111  # seq-4 duplicate wins
    assert rows[(1, 100)]["transaction_count"] == 12
    assert "seq" not in out.columns


def test_large_tree_counts_and_first_degree_gas(spark):
    """One tx whose tree is a root plus 1e5 calls from C1 to ecPairing:
    the whole tree is one grouped row, and its counts and gas totals
    must come out exact."""
    from pyspark.sql import functions as F

    n = 100_000
    root = fixtures.arrow_df(
        spark,
        [fixtures._t(n, TXH[1], EOA1, C1, input="0x", gas_used=999)],
        fixtures.TRACE_SCHEMA,
    )
    calls = spark.range(n).selectExpr(
        "1 AS chain_id",
        "0 AS transaction_index",
        f"'{C1}' AS from_address",
        f"'{P_PAIR}' AS to_address",
        "'0xabcd' AS input",
        "id AS gas_used",
        "0 AS subtraces",
        "array(CAST(id AS int)) AS trace_address",
        f"'{TXH[1]}' AS transaction_hash",
        "100 AS block_number",
        "id AS seq",
    )
    traces = root.unionByName(
        calls.select(
            *[
                (F.col(f.name) if f.name in calls.columns else F.lit(None))
                .cast(f.dataType)
                .alias(f.name)
                for f in fixtures.TRACE_SCHEMA.fields
            ]
        )
    )
    (tx,) = zk_transactions(traces).collect()
    assert tx["ec_pairing_count"] == n
    assert tx["ec_recover_count"] == 0
    assert tx["closest_address"] == [C1]
    assert tx["gas_used_first_degree"] == n * (n - 1) // 2
    assert tx["gas_used_second_degree"] == 0
    assert tx["gas_used_total"] == 999
    assert tx["ec_pairing_input_sizes"] == [2] * n
    (c1,) = zk_contracts_deduped(traces).collect()
    assert c1["address"] == C1 and c1["ec_pairing_count"] == n
    assert c1["call"] == [P_PAIR]


def _schema_types(schema):
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def test_outputs_carry_sink_schema_types(spark):
    """Both outputs' column names and data types equal the sink schemas
    (nullability aside): a sink table typed ``long`` must not receive an
    ``int`` count."""
    from evmtrace_etl_spark.schemas import CONTRACT_SCHEMA, TRANSACTION_SCHEMA

    traces = fixtures.traces_df(spark)
    assert _schema_types(zk_transactions(traces).schema) == _schema_types(
        TRANSACTION_SCHEMA
    )
    assert _schema_types(
        zk_contracts_deduped(traces).schema
    ) == _schema_types(CONTRACT_SCHEMA)


# --- randomized differential: Spark vs the DuckDB oracle on small tree sets

_CALLERS = [None, EOA1, EOA2, C1, C2, C3, C5]  # None: P10-guarded row
# precompiles twice over, so most trees commit
_CALLEES = [C1, C2, C3, C5, P_REC, P_REC, P_ADD, P_MUL, P_PAIR, P_PAIR]
_INPUTS = [None, "0x12345678", "0xaabbccdd" + "ab" * 8, "0x" + "cd" * 192]
_OUTPUTS = [None, "0x" + "aa" * 20, "0x" + format(0x1111, "064x")]
_GAS = st.one_of(st.none(), st.integers(0, 5000))

_TX = st.fixed_dictionaries(
    {
        "chain": st.sampled_from([1, 10]),
        "hash": st.sampled_from([TXH[1], TXH[2], TXH[3]]),
        "eoa": st.sampled_from([EOA1, EOA2]),
        "entry": st.sampled_from([C1, C2, C3]),
        "value": st.sampled_from([None, 0, 5]),
        "root_input": st.sampled_from(_INPUTS),
        "root_gas": _GAS,
        "error": st.sampled_from([None, "Reverted"]),
        # a P11 field the root lacks (None: commit-eligible)
        "missing": st.sampled_from(
            [None, None, "transaction_index", "to_address", "transaction_hash"]
        ),
        "dup_root": st.booleans(),
        "calls": st.lists(
            st.tuples(
                st.sampled_from(_CALLERS),
                st.sampled_from(_CALLEES),
                st.sampled_from(_INPUTS),
                st.sampled_from(_OUTPUTS),
                _GAS,
            ),
            max_size=6,
        ),
    }
)

#: one complete tx in every example: it sets a non-null value in every
#: column the oracle reads, so DuckDB types the VALUES columns as Spark does
_ANCHOR = [
    fixtures._t(0, TXH[9], EOA3, C8, idx=4, value=1, input="0x12345678",
                output="0x", gas_used=1, error="Reverted"),
    fixtures._t(1, TXH[9], C8, P_REC, idx=4, input="0x" + "cd" * 128,
                output="0x" + format(0x2222, "064x"), gas_used=2, path=[0]),
]


def _tree_rows(txs: list[dict]) -> list[dict]:
    rows = list(_ANCHOR)

    def add(**kw):
        rows.append(fixtures._t(len(rows), **kw))

    for t in txs:
        roots = 2 if t["dup_root"] else 1
        for k in range(roots):
            add(
                tx=None if t["missing"] == "transaction_hash" else t["hash"],
                frm=t["eoa"],
                to=None if t["missing"] == "to_address" else t["entry"],
                chain=t["chain"],
                idx=None if t["missing"] == "transaction_index" else 0,
                value=t["value"],
                # a duplicate root differs in input and gas, so keep-last shows
                input=t["root_input"] if k == 0 else "0xfeedf00d" + "ab" * 4,
                gas_used=t["root_gas"] if k == 0 else 40_000,
                error=t["error"],
            )
        for i, (frm, to, inp, out, gas) in enumerate(t["calls"]):
            add(tx=t["hash"], frm=frm, to=to, chain=t["chain"], input=inp,
                output=out, gas_used=gas, path=[i])
    return rows


@given(txs=st.lists(_TX, min_size=1, max_size=4))
@example(  # an EOA calling a first-degree caller, plus a duplicate root
    txs=[
        {
            "chain": 1, "hash": TXH[1], "eoa": EOA1, "entry": C1,
            "value": 5, "root_input": None, "root_gas": 10, "error": None,
            "missing": None, "dup_root": True,
            "calls": [
                (C1, P_PAIR, None, None, 3),
                (EOA1, C1, "0x12345678", None, None),
                (C2, C1, "0xaabbccdd" + "ab" * 8, None, 7),
            ],
        }
    ]
)
@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_trees_match_duckdb_oracle(spark, txs):
    rows = _tree_rows(txs)
    traces = fixtures.arrow_df(spark, rows, fixtures.TRACE_SCHEMA)
    relation = fixtures.traces_values_sql(rows)
    parts = ZkParts(traces)
    try:
        assert_matches_oracle(
            zk_parity.project_tx(zk_transactions(traces, parts)),
            zk_parity.zk_transactions_oracle_sql(relation),
        )
        assert_matches_oracle(
            zk_parity.project_contracts(zk_contracts_deduped(traces, parts)),
            zk_parity.zk_contracts_oracle_sql(relation),
        )
    finally:
        parts.unpersist()
