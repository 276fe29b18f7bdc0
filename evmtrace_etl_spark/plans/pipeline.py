"""End-to-end domain plans: traces → transactions / contracts, blocks
passthrough (SURVEY §3 EP1/EP2 restated as pure batch DataFrame functions).

Each builder is ``DataFrame -> DataFrame`` and runs identically under
``spark.read`` and inside ``foreachBatch`` (streaming reuses these plans,
see evmtrace_etl_spark.streaming).

Scale shape: ONE full-data shuffle (``tx_trees``' groupBy on
chain_id/transaction_hash).  The transaction output is a projection of
the grouped rows; the contract output inlines each tree's caller rows
and adds the D2 keep-first window as its only second shuffle.

Plan once: the column expressions are built once per live SparkContext
(``session.per_context``), so a micro-batch's planning is a few
``select``/``agg`` calls instead of thousands of py4j round trips.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.evm import FIRST_DEGREE_FILTER_ADDRESSES, selector
from ..operators.relational import dedup_keep_last
from ..operators.trace_tree import (
    calls_to,
    distinct_values,
    gas_sent_by,
    pairing_sizes,
    precompile_counts,
    tx_trees,
)
from ..session import per_context


class ZkParts:
    """The one shared intermediate of the zk pipeline: the committed
    per-transaction trees (``tx_trees``).

    ``trees`` is persisted so the transaction and contract outputs — two
    actions in any real run, exactly like the reference emitting both
    from one TraceTree commit (src/types/trace_tree.rs:115-245) — scan
    and shuffle the raw traces once instead of twice.

    ``persist=True`` callers own the cache and MUST call ``unpersist()``
    when done (``process_trace_batch`` does).  Single-output standalone
    paths pass ``persist=False`` — one action evaluates one DataFrame,
    so nothing is left cached behind the caller's back.
    """

    def __init__(self, traces: DataFrame, persist: bool = True):
        self.trees = tx_trees(traces)
        self._persisted = persist
        if persist:
            self.trees = self.trees.persist()

    def unpersist(self) -> None:
        if self._persisted:
            self.trees.unpersist()


def _trees(traces: DataFrame, parts: ZkParts | None) -> DataFrame:
    return (parts or ZkParts(traces, persist=False)).trees


@per_context
def _transaction_columns() -> list[F.Column]:
    calls, fd, sd = F.col("calls"), F.col("first_degree"), F.col("second_degree")

    def root(field: str) -> F.Column:
        return F.col("root." + field).alias(field)

    return [
        F.col("chain_id"),
        F.col("transaction_hash"),
        root("from_address"),
        root("to_address"),
        F.when(F.size(sd) > 0, sd).otherwise(fd).alias("closest_address"),
        selector("root.input").alias("function_signature"),  # P5, unmasked
        root("transaction_index"),
        root("block_number"),
        root("block_timestamp"),
        root("block_hash"),
        F.coalesce(F.col("root.value"), F.lit(0).cast("decimal(38,0)")).alias(
            "value"
        ),
        F.coalesce(F.col("root.input"), F.lit("0x")).alias("input"),
        F.coalesce(F.col("root.gas_used"), F.lit(0)).alias("gas_used_total"),
        gas_sent_by(calls, fd).alias("gas_used_first_degree"),
        gas_sent_by(calls, sd).alias("gas_used_second_degree"),
        *precompile_counts(calls),
        pairing_sizes(calls).alias("ec_pairing_input_sizes"),
        distinct_values(calls, lambda c: c["rec"].isNotNull(), "rec").alias(
            "ec_recover_addresses"  # A5; a null ecRecover output adds nothing
        ),
        root("error"),
    ]


def zk_transactions(traces: DataFrame, parts: ZkParts | None = None) -> DataFrame:
    """EP1 transaction output (reference Transaction assembly,
    src/types/trace_tree.rs:177-239), schema per
    ``schemas.TRANSACTION_SCHEMA`` (sink column order,
    etl_result.rs:153-159).

    closest_address (J4): second-degree callers if any survive the EOA
    exclusion, else first-degree callers (trace_tree.rs:182-187).
    """
    return _trees(traces, parts).select(*_transaction_columns())


@per_context
def _contract_columns() -> list[F.Column]:
    calls, fd, sd = F.col("calls"), F.col("first_degree"), F.col("second_degree")

    def caller_row(degree: int, makes_degree):
        def row(address: F.Column) -> F.Column:
            own = F.filter(calls, lambda c: c["frm"] == address)
            return F.struct(
                address.alias("address"),
                distinct_values(  # A3: selectors called ON the address
                    calls, lambda c: c["to"] == address, "sel"
                ).alias("function_signatures"),
                F.lit(degree).alias("degree"),
                *precompile_counts(own),
                pairing_sizes(own).alias("ec_pairing_input_sizes"),
                distinct_values(own, makes_degree, "to").alias("call"),
            )

        return row

    callers = F.concat(
        F.transform(
            fd, caller_row(0, calls_to(*FIRST_DEGREE_FILTER_ADDRESSES))
        ),
        F.transform(
            sd, caller_row(1, lambda c: F.array_contains(fd, c["to"]))
        ),
    )
    return [
        F.col("chain_id"),
        F.inline(callers),
        F.col("root.seq").alias("_root_seq"),  # arrival order; dropped by D2
    ]


def zk_contracts(traces: DataFrame, parts: ZkParts | None = None) -> DataFrame:
    """EP1 contract output (reference Contract assembly J5,
    src/types/trace_tree.rs:115-163), schema per ``schemas.CONTRACT_SCHEMA``.

    Each committed tree's first-degree (degree 0) and second-degree
    (degree 1) callers (U1), enriched from the same tree with the
    selector set called ON the address (A3), its per-precompile call
    counts (A8) and its pairing input sizes (A4).  ``call`` is the set of
    the caller's callees that made it that degree.
    """
    return _trees(traces, parts).select(*_contract_columns())


@per_context
def _arrival_rank() -> F.Column:
    w = Window.partitionBy(
        "chain_id", "address", "function_signatures"
    ).orderBy(F.col("_root_seq").asc(), F.col("degree").asc())
    return F.row_number().over(w)


def zk_contracts_deduped(
    traces: DataFrame, parts: ZkParts | None = None
) -> DataFrame:
    """Contracts after the sink-level keep-first dedup D2 on
    (chain_id, address, function_signatures) — reference
    etl_result.rs:246-248.  'First' = the reference's buffer arrival
    order: commits happen in stream order (root seq) and within one
    commit first-degree rows precede second-degree (trace_tree.rs:115-118)
    — so the order is (root seq, degree), not transaction-hash order.
    """
    return (
        zk_contracts(traces, parts)
        .withColumn("_rn", _arrival_rank())
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_root_seq")
    )


def blocks_passthrough(blocks: DataFrame) -> DataFrame:
    """EP2 — blocks flow through untransformed; the upsert key is
    (chain_id, number) with keep-last semantics (D3, reference
    etl_result.rs:303-307 + ON CONFLICT DO UPDATE at 267-281)."""
    deduped = dedup_keep_last(blocks, ["chain_id", "number"], "seq")
    return deduped.drop("seq")
