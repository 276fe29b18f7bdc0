"""Deterministic domain fixtures for the zk-trace pipeline.

One source of truth (``TRACE_ROWS`` / ``BLOCK_ROWS``) feeds both sides of
the differential test: the Spark DataFrame (``traces_df``) and the DuckDB
oracle's inline VALUES clause (``traces_values_sql``).  Covers every
scenario FIXTURES.md §A requires:

 1. depth-1 precompile calls (tx1)           5. no precompiles at all (tx5)
 2. depth-2 + EOA exclusion (tx2, tx3)       6. commit-ineligible root (tx6, tx10)
 3. multi-caller fan-in / repeats (tx3, tx7) 7. duplicate tx roots, keep-last (tx7)
 4. only ecAdd/ecMul → J1 drop (tx4)         8. varying pairing input sizes (tx1, tx9)
plus: null from_address rows (P10), exactly-4-byte calldata (P5 quirk),
short ecRecover output (P7 quirk), null calldata/gas, a second chain_id
sharing a transaction_hash, and a duplicate block for D3.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession

from ..schemas import BLOCK_SCHEMA, TRACE_SCHEMA


def _addr(n: int) -> str:
    return "0x" + format(n, "040x")


def _h256(n: int) -> str:
    return "0x" + format(n, "064x")


def _data(selector: str, extra_bytes: int) -> str:
    """Calldata with a given 4-byte selector then ``extra_bytes`` of 0xab."""
    return "0x" + selector + "ab" * extra_bytes


def _blob(nbytes: int) -> str:
    return "0x" + "cd" * nbytes


# precompiles
P_REC = _addr(1)
P_ADD = _addr(6)
P_MUL = _addr(7)
P_PAIR = _addr(8)

EOA1 = _addr(0xE0A1)
EOA2 = _addr(0xE0A2)
EOA3 = _addr(0xE0A3)
C1, C2, C3, C4, C5, C6, C7, C8, C9 = (_addr(0xC0 + i) for i in range(1, 10))

TXH = {i: _h256(0xF0 + i) for i in range(1, 11)}
BH = {n: _h256(0xB000 + n) for n in (100, 101, 102, 103, 200)}

_FIELDS = [f.name for f in TRACE_SCHEMA.fields]


def _t(
    seq: int,
    tx: str | None,
    frm: str | None,
    to: str | None,
    *,
    chain: int = 1,
    idx: int | None = 0,
    value: int | None = None,
    input: str | None = None,
    output: str | None = None,
    gas_used: int | None = None,
    path: list[int] | None = None,
    error: str | None = None,
    block: int = 100,
    ts: int | None = None,
) -> dict:
    path = [] if path is None else path
    return {
        "chain_id": chain,
        "transaction_index": idx,
        "from_address": frm,
        "to_address": to,
        "value": None if value is None else Decimal(value),
        "value_raw": None if value is None else str(value),
        "input": input,
        "output": output,
        "trace_type": "call",
        "call_type": "call",
        "reward_type": None,
        "gas": None if gas_used is None else gas_used + 1000,
        "gas_used": gas_used,
        "subtraces": 0,
        "trace_address": path,
        "error": error,
        "transaction_hash": tx,
        "block_number": block,
        "block_timestamp": 1_700_000_000 + block if ts is None else ts,
        "block_hash": BH.get(block),
        "seq": seq,
    }


TRACE_ROWS: list[dict] = [
    # tx1: depth-1 calls to ecPairing (x2) + ecRecover from C1
    _t(0, TXH[1], EOA1, C1, idx=0, value=1000, input=_data("aabbccdd", 16), gas_used=50000),
    _t(1, TXH[1], C1, P_PAIR, idx=0, input=_blob(192), gas_used=113, path=[0]),
    _t(2, TXH[1], C1, P_PAIR, idx=0, input=_blob(384), gas_used=127, path=[1]),
    _t(3, TXH[1], C1, P_REC, idx=0, input=_blob(128), output=_h256(0x1111), gas_used=131, path=[2]),
    # null from_address → P10 skips it from the tree entirely
    _t(4, TXH[1], None, P_REC, idx=0, input=_blob(128), output=_h256(0x2222), gas_used=997, path=[3]),
    # tx2: depth-2 pairing (C2→C3→0x08), plus ecAdd/ecMul leg, root reverted
    _t(10, TXH[2], EOA1, C2, idx=1, value=5, input=_data("deadbeef", 20), gas_used=90000, error="Reverted"),
    _t(11, TXH[2], C2, C3, idx=1, input=_data("11223344", 4), gas_used=1009, path=[0]),
    _t(12, TXH[2], C3, P_PAIR, idx=1, input=_blob(192), gas_used=1013, path=[0, 0]),
    _t(13, TXH[2], C2, C4, idx=1, input=_data("55667788", 8), gas_used=1019, path=[1]),
    _t(14, TXH[2], C4, P_ADD, idx=1, input=_blob(64), gas_used=1021, path=[1, 0]),
    _t(15, TXH[2], C4, P_MUL, idx=1, input=_blob(96), gas_used=1031, path=[1, 1]),
    # tx3: recover fan-in, short output quirk, null root input, C5 both degrees
    _t(20, TXH[3], EOA2, C5, idx=0, block=101, gas_used=60000),
    _t(21, TXH[3], C5, P_REC, idx=0, block=101, input=_blob(128), output="0x" + "aa" * 20, gas_used=2003, path=[0]),
    _t(22, TXH[3], C5, P_REC, idx=0, block=101, input=_blob(128), output=_h256(0x3333), gas_used=2011, path=[1]),
    _t(23, TXH[3], C5, C6, idx=0, block=101, input=_data("cafebabe", 12), gas_used=2017, path=[2]),
    _t(24, TXH[3], C6, P_REC, idx=0, block=101, input=_blob(128), output=_h256(0x4444), gas_used=2027, path=[2, 0]),
    # tx4: only ecAdd/ecMul → commit filter J1 drops the whole tx
    _t(30, TXH[4], EOA1, C4, idx=1, block=101, input=_data("01020304", 6), gas_used=7001),
    _t(31, TXH[4], C4, P_ADD, idx=1, block=101, input=_blob(64), gas_used=7013, path=[0]),
    _t(32, TXH[4], C4, P_MUL, idx=1, block=101, input=_blob(96), gas_used=7019, path=[1]),
    # tx5: no precompiles at all → dropped
    _t(40, TXH[5], EOA1, C2, idx=2, block=101, input=_data("0a0b0c0d", 5), gas_used=8001),
    _t(41, TXH[5], C2, C3, idx=2, block=101, input=_data("0e0f1011", 3), gas_used=8009, path=[0]),
    # tx6: root missing to_address → P11 commit-ineligible despite zk child
    _t(50, TXH[6], EOA1, None, idx=0, block=102, gas_used=9001),
    _t(51, TXH[6], C7, P_PAIR, idx=0, block=102, input=_blob(192), gas_used=9013, path=[0]),
    # tx7: duplicate roots (keep-last by seq), repeated edge EOA2→C7
    _t(60, TXH[7], EOA2, C7, idx=1, block=102, input=_data("feedf00d", 8), gas_used=70000),
    _t(61, TXH[7], C7, P_REC, idx=1, block=102, input=_blob(128), output=_h256(0x5555), gas_used=3001, path=[0]),
    _t(62, TXH[7], EOA2, C7, idx=1, block=102, input=_data("feedf00d", 8), gas_used=70007),
    # tx8: chain 10 reuses tx1's hash — chain_id must partition everything
    _t(70, TXH[1], EOA3, C1, chain=10, idx=5, block=200, input=_data("a1a2a3a4", 4), gas_used=4001),
    _t(71, TXH[1], C1, P_PAIR, chain=10, idx=5, block=200, input=_blob(192), gas_used=4007, path=[0]),
    # tx9: exactly-4-byte calldata (zero selector quirk), null pairing input,
    # null child gas_used
    _t(80, TXH[9], EOA1, C8, idx=3, block=103, input="0x12345678", gas_used=10007),
    _t(81, TXH[9], C8, P_PAIR, idx=3, block=103, input=None, gas_used=5003, path=[0]),
    _t(82, TXH[9], C8, C9, idx=3, block=103, input="0x87654321", gas_used=None, path=[1]),
    # tx10: root missing transaction_index → P11 drop
    _t(90, TXH[10], EOA2, C5, idx=None, block=103, input=_data("31415926", 2), gas_used=11003),
    _t(91, TXH[10], C5, P_REC, idx=None, block=103, input=_blob(128), output=_h256(0x6666), gas_used=11007, path=[0]),
]


def _b(
    seq: int,
    chain: int,
    number: int,
    *,
    gas_used: int,
    tx_count: int = 10,
) -> dict:
    return {
        "chain_id": chain,
        "number": number,
        "timestamp": 1_700_000_000 + number,
        "hash": BH[number],
        "parent_hash": _h256(0xB000 + number - 1),
        "transaction_count": tx_count,
        "nonce": "0x" + format(number * 7, "016x"),
        "miner": _addr(0x3333 + number),
        "difficulty": 10_000 + number,
        "total_difficulty": float(1e15 + number),
        "size": 30_000 + number,
        "gas_limit": 30_000_000,
        "gas_used": gas_used,
        "base_fee_per_gas": 7 + number,
        "seq": seq,
    }


BLOCK_ROWS: list[dict] = [
    _b(0, 1, 100, gas_used=1_000_000),
    _b(1, 1, 101, gas_used=2_000_000),
    _b(2, 1, 102, gas_used=3_000_000, tx_count=4),
    _b(3, 10, 200, gas_used=4_000_000),
    # duplicate (chain, number) — keep-last wins (D3 / DO UPDATE upsert)
    _b(4, 1, 100, gas_used=1_111_111, tx_count=12),
]


def arrow_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Arrow-backed createDataFrame for inline fixtures.

    A list-of-tuples ``createDataFrame`` is Python-RDD-backed: every
    evaluation pays a Python-worker round-trip per partition (~4-6 s per
    query on local[32]).  Going through pandas with ``dtype=object``
    (preserving None/Decimal/list values) hits the Arrow conversion path,
    so the data lives JVM-side and scans are worker-free.
    """
    import pandas as pd

    fields = [f.name for f in schema.fields]
    if rows and isinstance(rows[0], dict):
        data = {f: pd.Series([r[f] for r in rows], dtype=object) for f in fields}
    else:
        data = {
            f: pd.Series([r[i] for r in rows], dtype=object)
            for i, f in enumerate(fields)
        }
    return spark.createDataFrame(pd.DataFrame(data), schema)


def traces_df(spark: SparkSession) -> DataFrame:
    return arrow_df(spark, TRACE_ROWS, TRACE_SCHEMA)


def blocks_df(spark: SparkSession) -> DataFrame:
    return arrow_df(spark, BLOCK_ROWS, BLOCK_SCHEMA)


# ---------------------------------------------------------------------------
# DuckDB side: the same rows as an inline VALUES relation
# ---------------------------------------------------------------------------

_SQL_TRACE_COLS = [
    "chain_id",
    "transaction_index",
    "from_address",
    "to_address",
    "value",
    "input",
    "output",
    "gas_used",
    "trace_address",
    "error",
    "transaction_hash",
    "block_number",
    "block_timestamp",
    "block_hash",
    "seq",
]


def _sql_lit(v, col: str) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, list):
        if not v:
            return "CAST([] AS INTEGER[])"
        return "[" + ",".join(str(x) for x in v) + "]"
    if isinstance(v, Decimal):
        return str(v)
    return str(v)


def traces_values_sql(rows: list[dict] | None = None) -> str:
    """Trace rows (default: the fixture) as a DuckDB inline relation
    ``(VALUES …) AS traces(col, …)`` — the oracle side of the
    differential test."""
    values = ",\n    ".join(
        "(" + ", ".join(_sql_lit(r[c], c) for c in _SQL_TRACE_COLS) + ")"
        for r in (TRACE_ROWS if rows is None else rows)
    )
    return f"(VALUES\n    {values}\n) AS traces({', '.join(_SQL_TRACE_COLS)})"


_SQL_BLOCK_COLS = [f.name for f in BLOCK_SCHEMA.fields]


def blocks_values_sql() -> str:
    rows = ",\n    ".join(
        "(" + ", ".join(_sql_lit(r[c], c) for c in _SQL_BLOCK_COLS) + ")"
        for r in BLOCK_ROWS
    )
    return f"(VALUES\n    {rows}\n) AS blocks({', '.join(_SQL_BLOCK_COLS)})"
