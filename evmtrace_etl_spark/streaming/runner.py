"""Streaming execution (T1–T3, S9): micro-batch ``foreachBatch`` reusing
the batch plans unchanged — the Spark restatement of the reference's
sessionize→commit→dump loop (SURVEY §3 EP1 stages 3–6).

- T1 sessionization: micro-batch ``groupBy(chain_id, transaction_hash)``
  replaces the punctuation-based sessionizer — and fixes its
  final-transaction loss (the reference never commits a stream's last
  tx; SURVEY §2.6 says do NOT replicate that).
- T2 flush policy: the trigger (processingTime / availableNow) +
  ``maxOffsetsPerTrigger`` replace the drain-or-100k buffer.
- T3 offsets: checkpointing + the idempotent sink replace manual
  offset−1 commits (effectively exactly-once).
- S9 fan-out: one query feeding multiple sinks inside one foreachBatch
  (the broadcast-channel consumers become concurrent upserts of the
  same cached batch, one per table, each on its own thread).

Cross-micro-batch caveat: a transaction split across two micro-batches
is grouped into a tree per batch; the insert-if-absent sink then keeps the first
batch's version (the reference has the same boundary behavior at its
session-restart, trace/mod.rs:65-77).
"""

from __future__ import annotations

from typing import Protocol

from pyspark.sql import DataFrame

from ..functions.evm import (
    BLOCK_ADDRESS_COLS,
    CONTRACT_ADDRESS_COLS,
    TRANSACTION_ADDRESS_COLS,
    with_checksummed_addresses,
)
from ..plans.pipeline import (
    ZkParts,
    blocks_passthrough,
    zk_contracts_deduped,
    zk_transactions,
)
from ..session import par_legs

TX_KEYS = ["chain_id", "transaction_hash"]
CONTRACT_KEYS = ["chain_id", "address", "function_signatures"]
BLOCK_KEYS = ["chain_id", "number"]


class UpsertSink(Protocol):  # LakeUpsertSink / the DB-API sinks
    """Concurrency contract: ``process_trace_batch`` calls ``upsert``
    for different tables at the same time, from different threads; an
    implementation must allow that.  Calls for one table never
    overlap within a query."""

    def upsert(
        self, df: DataFrame, table: str, keys, mode: str = "ignore"
    ) -> None: ...


# No caller in the package: perfbench's tracer wraps this name on the
# runner's namespace (perfbench/report.py) and must find it defined.
def _touched_chains(batch: DataFrame) -> list[dict] | None:
    """The micro-batch's distinct chain_ids as ``{"chain_id": v}`` rows
    (one driver collect), or None when the batch has no chain_id."""
    if "chain_id" not in batch.columns:
        return None
    return [
        {"chain_id": r[0]}
        for r in batch.select("chain_id").distinct().collect()
    ]


def process_trace_batch(
    batch: DataFrame, sink: UpsertSink, checksum: bool = True
) -> None:
    """One micro-batch: traces → (transactions, contracts) → upsert.

    D1/D2's in-batch dedup is inside the builders; D4/D5 (cross-batch +
    sink dedup) is the sink's insert-if-absent.  ``checksum`` applies the
    reference's sink-time EIP-55 formatting (P9).

    Both outputs read one persisted frame of committed per-transaction
    trees (``ZkParts``).  The two upserts run concurrently: the
    ``contracts`` upsert on a helper thread that keeps the caller's job
    group (a stream's ``runId``), beside the ``transactions`` upsert on
    the calling thread.  Each table commits its own insert-if-absent
    transaction, so a failed batch replays idempotently whichever leg
    committed first.  The trees are released once both legs have
    returned — a stream processes unboundedly many micro-batches, so
    leaked persists would pile up in executor storage memory — and
    then the first leg's failure, if any, re-raises."""
    parts = ZkParts(batch)
    try:
        tx = zk_transactions(batch, parts)
        contracts = zk_contracts_deduped(batch, parts)
        if checksum:
            tx = with_checksummed_addresses(tx, *TRANSACTION_ADDRESS_COLS)
            contracts = with_checksummed_addresses(
                contracts, *CONTRACT_ADDRESS_COLS
            )
        par_legs(
            batch.sparkSession,
            lambda: sink.upsert(tx, "transactions", TX_KEYS, mode="ignore"),
            lambda: sink.upsert(
                contracts, "contracts", CONTRACT_KEYS, mode="ignore"
            ),
        )
    finally:
        parts.unpersist()


def process_block_batch(
    batch: DataFrame, sink: UpsertSink, checksum: bool = True
) -> None:
    """EP2 micro-batch: blocks passthrough → full-row upsert (D3 + DO
    UPDATE, etl_result.rs:267-281)."""
    out = blocks_passthrough(batch)
    if checksum:
        out = with_checksummed_addresses(out, *BLOCK_ADDRESS_COLS)
    sink.upsert(out, "blocks", BLOCK_KEYS, mode="update")


def start_zk_stream(
    traces_stream: DataFrame,
    sink: UpsertSink,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str | None = None,
):
    """Wire the trace stream into the zk pipeline with checkpointing."""

    def _process(batch: DataFrame, _batch_id: int) -> None:
        process_trace_batch(batch, sink)

    writer = (
        traces_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def start_block_stream(
    blocks_stream: DataFrame,
    sink: UpsertSink,
    checkpoint_dir: str,
    available_now: bool = True,
):
    def _process(batch: DataFrame, _batch_id: int) -> None:
        process_block_batch(batch, sink)

    writer = (
        blocks_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
