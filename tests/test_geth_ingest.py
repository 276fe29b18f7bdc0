"""Geth callTracer ingest: flatten structure pinned against an in-test
pre-order reference, and end-to-end into the zk pipeline (EP3 parity)."""

from __future__ import annotations

import json

from evmtrace_etl_spark.operators.geth_ingest import (
    flatten_call_frames,
    flattened_to_traces,
)
from evmtrace_etl_spark.plans.pipeline import (
    zk_contracts_deduped,
    zk_transactions,
)
from evmtrace_etl_spark.sources import geth_fixtures


def _expected_flatten(frame: dict) -> list[tuple[tuple[int, ...], int, str]]:
    """Independent pre-order walk: (path, subtraces, from) per frame."""
    out = []

    def walk(fr, path):
        calls = fr.get("calls") or []
        out.append((tuple(path), len(calls), fr["from"]))
        for i, c in enumerate(calls):
            walk(c, path + [i])

    walk(frame, [])
    return out


def test_flatten_structure(spark):
    flat = flatten_call_frames(geth_fixtures.geth_frames_df(spark))
    got = {
        (r.transaction_hash, tuple(r.trace_address)): (
            r.subtraces,
            r.from_address,
        )
        for r in flat.collect()
    }
    n_expected = 0
    for _, _, _, txh, fj in geth_fixtures.GETH_ROWS:
        for path, n_sub, frm in _expected_flatten(json.loads(fj)):
            n_expected += 1
            assert got[(txh, path)] == (n_sub, frm.lower()), (txh, path)
    assert len(got) == n_expected


def test_flatten_quirks(spark):
    flat = flatten_call_frames(geth_fixtures.geth_frames_df(spark)).collect()
    by_path = {(r.transaction_hash, tuple(r.trace_address)): r for r in flat}
    tx1 = "0x" + "a1" * 32
    root = by_path[(tx1, ())]
    assert root.subtraces == 3 and root.trace_type == "call"
    assert root.call_type == "call"  # lowercased (P2)
    assert root.value == str(0x38D7EA4C68000)
    create = by_path[(tx1, (2,))]
    assert create.to_address is None and create.call_type == "create"
    err = by_path[(tx1, (1, 1))]
    assert err.error == "execution reverted"
    # 1-based transaction_index on this path (ws/mod.rs:86-103 quirk)
    assert root.transaction_index == 1


def test_geth_to_zk_pipeline(spark):
    traces = flattened_to_traces(
        flatten_call_frames(geth_fixtures.geth_frames_df(spark))
    )
    tx, contracts = zk_transactions(traces), zk_contracts_deduped(traces)
    tx_rows = {r.transaction_hash: r for r in tx.collect()}
    # tx1 (ecRecover + ecPairing) and tx3 (ecRecover) commit; tx2 has no
    # precompile call and must be dropped by J1
    assert set(tx_rows) == {"0x" + "a1" * 32, "0x" + "b1" * 32}
    t1 = tx_rows["0x" + "a1" * 32]
    assert t1.ec_recover_count == 1 and t1.ec_pairing_count == 1
    assert t1.ec_pairing_input_sizes == [192]
    assert contracts.count() > 0
