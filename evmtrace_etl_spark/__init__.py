"""evmtrace_etl_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference EVM-trace ETL pipeline
(scb-10x/evmtrace-etl, studied read-only at /root/reference).

Architecture (Spark-first, NOT a port):

- Every transformation is a pure ``DataFrame -> DataFrame`` function, usable
  identically under ``spark.read`` (batch) and inside ``foreachBatch``
  (streaming).  This mirrors the reference's source-agnostic trace-tree
  (reference src/consumer/kafka/trace/mod.rs:62 vs src/consumer/ws/mod.rs:43)
  but lets Catalyst plan the physical execution.
- The reference's hand-fused per-transaction multi-aggregate
  (src/types/trace_tree.rs:247-303) becomes ONE per-transaction groupBy
  whose rows carry each tree's calls; the derivations are array
  higher-order functions inside that row, so no step re-joins.
- UDFs appear only where built-ins genuinely cannot express the semantics:
  EIP-55 checksumming (Keccak-256), recursive call-frame flattening, and
  optional stateful streaming sessions.

Layout:
  schemas.py    — explicit StructTypes (never infer on a stream)
  functions/    — scalar column functions + the few UDFs (EVM hex ops,
                  Keccak/EIP-55, text/minhash/simhash hashing)
  operators/    — reusable relational operators (trace tree, relational
                  dedup, near-dup dedup, similarity, text analysis,
                  multimodal, geth flatten, block enrichment)
  plans/        — end-to-end query builders (domain pipeline + the
                  oracle-checked operator-inventory and LLM-data queries)
  sources/      — fixtures and the WS/RPC feeder boundary
  sinks.py      — idempotent upsert sinks (parquet MERGE semantics,
                  DBAPI INSERT … ON CONFLICT)
  streaming/    — structured-streaming wiring around the batch core
                  (sources, foreachBatch runner, stateful sessionizer,
                  monitoring + health endpoint)
  registry.py   — the driver-contract query/oracle registry
"""

__version__ = "0.1.0"
