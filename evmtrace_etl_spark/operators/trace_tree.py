"""Trace-tree operators: the reference's fused per-transaction multi-aggregate
re-expressed as ONE grouped DataFrame pass (SURVEY §2.3-2.4).

The reference builds five HashMaps record-at-a-time per transaction session
(reference src/types/trace_tree.rs:247-303: call_tree, gas_tree,
signature_tree, ec_pairing_input_size_tree, ec_recover_addresses) and then
derives transactions/contracts at commit time (trace_tree.rs:72-245).

Spark-first design — one full-data shuffle, everything else stays in the row:

1. ``tx_trees`` groups the null-guarded traces ONCE on
   ``(chain_id, transaction_hash)``.  Each group collects the tx's call
   structs (from, to, gas, masked selector, pairing size, recovered
   address — the raw material of all five maps) and its keep-last
   commit-eligible root; the commit gate (J1 + P11) then drops every
   tree that would not commit.
2. The first- and second-degree caller sets (J2/J3) are array
   higher-order functions over the tx's own call array: the reference's
   traversal depth is fixed at 2, so the second hop is a lookup in the
   same row, not a join.
3. The column helpers below (counts A7/A8, gas totals A9, pairing sizes
   A4, selector sets A3 and recovered addresses A5 via
   ``distinct_values``) read any slice of a call array, so ``plans/pipeline.py`` projects the transaction row
   and every caller's contract row from the same grouped row.

A tx's collected array is bounded by its trace count — the reference
holds the same tree in memory.  Degree lookups scan the array once per
degree member, which is cheap for the handful of precompile callers a
real transaction has.

``edge_aggregate`` keeps the caller/callee-pair grain (A1/A2 plus the
A3-A5 partials); it is the batch reference the punctuation sessionizer's
edge rows are checked against.

Batch semantics note (SURVEY §2.3): the reference's streaming sessionizer
never commits the final transaction of a stream and treats a duplicate root
as a new session.  Batch groupBy has neither artifact; duplicate
``(chain_id, transaction_hash)`` roots resolve keep-last-by-``seq``,
matching the sink dedup D1's eventual outcome.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.evm import (
    EC_ADD_ADDRESS,
    EC_MUL_ADDRESS,
    EC_PAIRING_ADDRESS,
    EC_RECOVER_ADDRESS,
    FIRST_DEGREE_FILTER_ADDRESSES,
    ec_recover_address,
    pairing_input_size,
    selector_masked,
)
from ..session import per_context

TX_KEY = ["chain_id", "transaction_hash"]

_PRECOMPILE_COUNT_COLS = {
    "ec_recover_count": EC_RECOVER_ADDRESS,
    "ec_add_count": EC_ADD_ADDRESS,
    "ec_mul_count": EC_MUL_ADDRESS,
    "ec_pairing_count": EC_PAIRING_ADDRESS,
}

#: root-trace fields a committed transaction row is built from (A6);
#: ``seq`` first so ``max`` over the struct keeps the latest root
_ROOT_FIELDS = [
    "seq",
    "from_address",
    "to_address",
    "input",
    "transaction_index",
    "block_number",
    "block_timestamp",
    "block_hash",
    "value",
    "gas_used",
    "error",
]


@per_context
def _prepped_columns() -> tuple[Column, list[Column]]:
    """The P10 null guard and the per-row derived columns (P6/P8/P7)."""
    guard = F.col("from_address").isNotNull() & F.col("to_address").isNotNull()
    is_pairing = F.col("to_address") == F.lit(EC_PAIRING_ADDRESS)
    is_recover = F.col("to_address") == F.lit(EC_RECOVER_ADDRESS)
    return guard, [
        selector_masked("input", "to_address").alias("_sel"),
        F.when(is_pairing, pairing_input_size("input")).alias("_pair_size"),
        F.when(is_recover, ec_recover_address("output")).alias("_recovered"),
    ]


def _edge_prepped(traces: DataFrame) -> DataFrame:
    """Null-guarded traces with the per-row derived columns both
    aggregates consume (P10 guard + P6/P8/P7 projections)."""
    guard, derived = _prepped_columns()
    return traces.filter(guard).select("*", *derived)


def edge_aggregate(traces: DataFrame) -> DataFrame:
    """A1+A2 (+A3/A4/A5 partials) — one pass over null-guarded traces
    (P10, reference trace_tree.rs:249) at caller/callee-pair grain.

    Output grain: (chain_id, transaction_hash, from_address, to_address).
    """
    return (
        _edge_prepped(traces)
        .groupBy(*TX_KEY, "from_address", "to_address")
        .agg(
            F.count(F.lit(1)).alias("call_count"),
            F.sum(F.coalesce(F.col("gas_used"), F.lit(0))).alias("gas_sum"),
            F.collect_set("_sel").alias("selectors"),
            F.collect_list("_pair_size").alias("pairing_sizes"),
            F.collect_set("_recovered").alias("recovered"),
        )
    )


def calls_to(*addresses: str) -> Callable[[Column], Column]:
    """Predicate on a call struct: its callee is one of ``addresses``."""
    return lambda c: c["to"].isin(list(addresses))


@per_context
def _tree_columns() -> tuple[list[Column], Column, Column, Column]:
    """``tx_trees``' aggregates, commit gate and degree-set columns."""
    eligible_root = (
        (F.size("trace_address") == 0)
        & F.col("transaction_hash").isNotNull()
        & F.col("transaction_index").isNotNull()
    )  # from/to presence is already the P10 guard
    call = F.struct(
        F.col("from_address").alias("frm"),
        F.col("to_address").alias("to"),
        F.coalesce(F.col("gas_used"), F.lit(0)).alias("gas"),
        F.col("_sel").alias("sel"),
        F.col("_pair_size").alias("psz"),
        F.col("_recovered").alias("rec"),
    )
    aggs = [
        F.max(F.when(eligible_root, F.struct(*_ROOT_FIELDS))).alias("root"),
        F.collect_list(call).alias("calls"),
    ]
    gate = F.col("root").isNotNull() & F.exists(
        "calls", calls_to(*FIRST_DEGREE_FILTER_ADDRESSES)
    )
    first_degree = distinct_values(
        F.col("calls"), calls_to(*FIRST_DEGREE_FILTER_ADDRESSES), "frm"
    )
    second_degree = distinct_values(
        F.col("calls"),
        lambda c: F.array_contains(F.col("first_degree"), c["to"])
        & (c["frm"] != F.col("root.from_address")),
        "frm",
    )
    return aggs, gate, first_degree, second_degree


def tx_trees(traces: DataFrame) -> DataFrame:
    """The committed call trees: one row per transaction that commits.

    Columns: ``chain_id``, ``transaction_hash``, ``root`` (struct of
    ``_ROOT_FIELDS``), ``calls`` (array of ``frm``/``to``/``gas``/``sel``/
    ``psz``/``rec`` structs, one per guarded trace), ``first_degree`` and
    ``second_degree`` (sorted address arrays).

    - Root (A6 + P4 + P11): ``trace_address == []`` with
      transaction_hash/index/from/to all present (reference
      trace_tree.rs:73-89); duplicates resolve keep-last by ``seq``.
    - J1 gate: the tree calls ecRecover or ecPairing (trace_tree.rs:67-70).
    - J2 first degree: callers of ecPairing/ecRecover (trace_tree.rs:93-100).
    - J3 second degree: callers of a first-degree address, the tx's EOA
      (root from_address) excluded (trace_tree.rs:103-112).
    """
    aggs, gate, first_degree, second_degree = _tree_columns()
    return (
        _edge_prepped(traces)
        .groupBy(*TX_KEY)
        .agg(*aggs)
        .filter(gate)
        .withColumn("first_degree", first_degree)
        .withColumn("second_degree", second_degree)
    )


def distinct_values(
    calls: Column, pred: Callable[[Column], Column], field: str
) -> Column:
    """Sorted distinct ``field`` values of the calls matching ``pred``:
    caller sets (``frm``), callee sets (``to``), selector sets (``sel``,
    A3) and recovered addresses (``rec``, A5)."""
    return F.sort_array(
        F.array_distinct(
            F.transform(F.filter(calls, pred), lambda c: c[field])
        )
    )


def precompile_counts(calls: Column) -> list[Column]:
    """A7/A8 — calls into each of the four EC precompiles among ``calls``
    (reference trace_tree.rs:130-153, 206-229), one long column each."""
    return [
        F.size(F.filter(calls, calls_to(addr))).cast("long").alias(name)
        for name, addr in _PRECOMPILE_COUNT_COLS.items()
    ]


def pairing_sizes(calls: Column) -> Column:
    """A4 — input sizes of the calls into ecPairing, sorted for
    deterministic comparison (the reference's order is HashMap iteration
    order — deliberately not emulated; trace_tree.rs:23,274-285)."""
    return F.sort_array(
        F.transform(
            F.filter(calls, calls_to(EC_PAIRING_ADDRESS)), lambda c: c["psz"]
        )
    )


def gas_sent_by(calls: Column, addresses: Column) -> Column:
    """A9 — total gas sent by the given caller set, over all its callees
    (reference trace_tree.rs:165-175)."""
    return F.aggregate(
        F.filter(calls, lambda c: F.array_contains(addresses, c["frm"])),
        F.lit(0).cast("long"),
        lambda acc, c: acc + c["gas"],
    )
