"""Differential parity queries for the zk-trace domain pipeline.

Both sides consume the SAME deterministic fixture
(``sources.fixtures.TRACE_ROWS``): Spark via ``createDataFrame`` + the
real pipeline operators, DuckDB via an inline VALUES relation + a pure-SQL
re-statement of the same batch semantics.  The driver (and our pytest)
compares row counts, schemas and order-insensitive value hashes.

Hash-safety conventions: array columns are emitted sorted and
comma-joined; decimals as strings; all counts cast to BIGINT on the DuckDB
side (DuckDB ``sum(BIGINT) → HUGEINT`` would otherwise diverge from
Spark's LongType).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.evm import (
    EC_ADD_ADDRESS,
    EC_MUL_ADDRESS,
    EC_PAIRING_ADDRESS,
    EC_RECOVER_ADDRESS,
    ZERO_ADDRESS,
)
from ..sources import fixtures
from .pipeline import blocks_passthrough, zk_contracts_deduped, zk_transactions


def _join_str_array(col: str) -> F.Column:
    return F.array_join(F.col(col), ",").alias(col)


def _join_int_array(col: str) -> F.Column:
    return F.array_join(
        F.transform(F.col(col), lambda x: x.cast("string")), ","
    ).alias(col)


def project_tx(out: DataFrame) -> DataFrame:
    """Hash-safe projection of a transactions output table (arrays sorted
    + comma-joined upstream, decimals as strings)."""
    return out.select(
        "chain_id",
        "transaction_hash",
        "from_address",
        "to_address",
        _join_str_array("closest_address"),
        "function_signature",
        "transaction_index",
        "block_number",
        "block_timestamp",
        "block_hash",
        F.col("value").cast("string").alias("value"),
        "input",
        "gas_used_total",
        "gas_used_first_degree",
        "gas_used_second_degree",
        "ec_recover_count",
        "ec_add_count",
        "ec_mul_count",
        "ec_pairing_count",
        _join_int_array("ec_pairing_input_sizes"),
        _join_str_array("ec_recover_addresses"),
        "error",
    )


def spark_zk_transactions(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    """Fixture → zk_transactions, projected hash-safe (sf_dir unused: the
    domain fixture is inline, not part of the generic testdata)."""
    return project_tx(zk_transactions(fixtures.traces_df(spark)))


def spark_zk_contracts(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    return project_contracts(zk_contracts_deduped(fixtures.traces_df(spark)))


def project_contracts(out: DataFrame) -> DataFrame:
    """Hash-safe projection of a contracts output table."""
    return out.select(
        "chain_id",
        "address",
        _join_str_array("function_signatures"),
        "degree",
        "ec_recover_count",
        "ec_add_count",
        "ec_mul_count",
        "ec_pairing_count",
        _join_int_array("ec_pairing_input_sizes"),
        _join_str_array("call"),
    )


def spark_blocks(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    return blocks_passthrough(fixtures.blocks_df(spark))


# ---------------------------------------------------------------------------
# DuckDB oracle SQL — same semantics, pure SQL over the same VALUES rows
# ---------------------------------------------------------------------------

def _common_ctes(traces_sql: str | None) -> str:
    """Shared CTE prefix: guarded traces w/ scalar derivations, the edge
    aggregate, per-tx rollup, eligible roots, first/second degree callers.

    ``traces_sql`` is the trace relation (default: the fixture's VALUES
    relation, ``fixtures.traces_values_sql()``)."""
    traces_sql = traces_sql or fixtures.traces_values_sql()
    return f"""
WITH traces AS (SELECT * FROM {traces_sql}),
guarded AS (
  SELECT *,
    CASE WHEN to_address IN ('{EC_PAIRING_ADDRESS}','{EC_RECOVER_ADDRESS}')
              THEN '0x00000000'
         WHEN input IS NULL THEN '0x00000000'
         WHEN length(input) > 10 THEN substr(input, 1, 10)
         ELSE '0x00000000' END AS sel,
    CASE WHEN to_address = '{EC_PAIRING_ADDRESS}'
         THEN CAST(coalesce((length(input) - 2) / 2, 0) AS INTEGER) END AS pair_size,
    CASE WHEN to_address = '{EC_RECOVER_ADDRESS}' AND output IS NOT NULL THEN
      CASE WHEN (length(output) - 2) / 2 < 32 THEN '{ZERO_ADDRESS}'
           ELSE '0x' || substr(output, 27, 40) END END AS recovered
  FROM traces
  WHERE from_address IS NOT NULL AND to_address IS NOT NULL
),
edges AS (
  SELECT chain_id, transaction_hash, from_address, to_address,
         count(*) AS call_count,
         sum(coalesce(gas_used, 0)) AS gas_sum
  FROM guarded GROUP BY 1, 2, 3, 4
),
rollup AS (
  SELECT chain_id, transaction_hash,
    CAST(coalesce(sum(CASE WHEN to_address = '{EC_RECOVER_ADDRESS}' THEN call_count END), 0) AS BIGINT) AS ec_recover_count,
    CAST(coalesce(sum(CASE WHEN to_address = '{EC_ADD_ADDRESS}' THEN call_count END), 0) AS BIGINT) AS ec_add_count,
    CAST(coalesce(sum(CASE WHEN to_address = '{EC_MUL_ADDRESS}' THEN call_count END), 0) AS BIGINT) AS ec_mul_count,
    CAST(coalesce(sum(CASE WHEN to_address = '{EC_PAIRING_ADDRESS}' THEN call_count END), 0) AS BIGINT) AS ec_pairing_count,
    max(CASE WHEN to_address IN ('{EC_RECOVER_ADDRESS}','{EC_PAIRING_ADDRESS}') THEN 1 ELSE 0 END) AS has_zk
  FROM edges GROUP BY 1, 2
),
roots AS (
  SELECT * FROM traces
  WHERE len(trace_address) = 0 AND transaction_hash IS NOT NULL
    AND transaction_index IS NOT NULL AND from_address IS NOT NULL
    AND to_address IS NOT NULL
  QUALIFY row_number() OVER (
    PARTITION BY chain_id, transaction_hash ORDER BY seq DESC) = 1
),
fd AS (
  SELECT chain_id, transaction_hash, from_address AS address,
         list_sort(list(DISTINCT to_address)) AS call
  FROM edges
  WHERE to_address IN ('{EC_PAIRING_ADDRESS}','{EC_RECOVER_ADDRESS}')
  GROUP BY 1, 2, 3
),
sd AS (
  SELECT e.chain_id, e.transaction_hash, e.from_address AS address,
         list_sort(list(DISTINCT e.to_address)) AS call
  FROM edges e
  JOIN fd ON e.chain_id = fd.chain_id
         AND e.transaction_hash = fd.transaction_hash
         AND e.to_address = fd.address
  JOIN roots r ON e.chain_id = r.chain_id
              AND e.transaction_hash = r.transaction_hash
  WHERE e.from_address <> r.from_address
  GROUP BY 1, 2, 3
)"""


def zk_transactions_oracle_sql(traces_sql: str | None = None) -> str:
    return (
        _common_ctes(traces_sql)
        + f""",
fd_set AS (SELECT chain_id, transaction_hash, list_sort(list(address)) AS fd_addrs
           FROM fd GROUP BY 1, 2),
sd_set AS (SELECT chain_id, transaction_hash, list_sort(list(address)) AS sd_addrs
           FROM sd GROUP BY 1, 2),
gas_sent AS (SELECT chain_id, transaction_hash, from_address, sum(gas_sum) AS g
             FROM edges GROUP BY 1, 2, 3),
fd_gas AS (SELECT f.chain_id, f.transaction_hash, sum(g.g) AS gas
           FROM fd f JOIN gas_sent g
             ON g.chain_id = f.chain_id AND g.transaction_hash = f.transaction_hash
            AND g.from_address = f.address
           GROUP BY 1, 2),
sd_gas AS (SELECT s.chain_id, s.transaction_hash, sum(g.g) AS gas
           FROM sd s JOIN gas_sent g
             ON g.chain_id = s.chain_id AND g.transaction_hash = s.transaction_hash
            AND g.from_address = s.address
           GROUP BY 1, 2),
psz AS (SELECT chain_id, transaction_hash, list_sort(list(pair_size)) AS sizes
        FROM guarded WHERE to_address = '{EC_PAIRING_ADDRESS}' GROUP BY 1, 2),
recov AS (SELECT chain_id, transaction_hash,
                 list_sort(list(DISTINCT recovered)) AS recs
          FROM guarded WHERE recovered IS NOT NULL GROUP BY 1, 2)
SELECT
  CAST(r.chain_id AS BIGINT) AS chain_id,
  r.transaction_hash,
  r.from_address,
  r.to_address,
  coalesce(array_to_string(
    CASE WHEN len(coalesce(ss.sd_addrs, CAST([] AS VARCHAR[]))) > 0
         THEN ss.sd_addrs ELSE coalesce(fs.fd_addrs, CAST([] AS VARCHAR[])) END,
    ','), '') AS closest_address,
  CASE WHEN r.input IS NULL THEN '0x00000000'
       WHEN length(r.input) > 10 THEN substr(r.input, 1, 10)
       ELSE '0x00000000' END AS function_signature,
  CAST(r.transaction_index AS INTEGER) AS transaction_index,
  CAST(r.block_number AS BIGINT) AS block_number,
  CAST(r.block_timestamp AS BIGINT) AS block_timestamp,
  r.block_hash,
  CAST(coalesce(r.value, 0) AS VARCHAR) AS value,
  coalesce(r.input, '0x') AS input,
  CAST(coalesce(r.gas_used, 0) AS BIGINT) AS gas_used_total,
  CAST(coalesce(fg.gas, 0) AS BIGINT) AS gas_used_first_degree,
  CAST(coalesce(sg.gas, 0) AS BIGINT) AS gas_used_second_degree,
  ru.ec_recover_count,
  ru.ec_add_count,
  ru.ec_mul_count,
  ru.ec_pairing_count,
  coalesce(array_to_string(
    list_transform(ps.sizes, x -> CAST(x AS VARCHAR)), ','), '') AS ec_pairing_input_sizes,
  coalesce(array_to_string(rv.recs, ','), '') AS ec_recover_addresses,
  r.error
FROM roots r
JOIN rollup ru ON ru.chain_id = r.chain_id
              AND ru.transaction_hash = r.transaction_hash AND ru.has_zk = 1
LEFT JOIN fd_set fs ON fs.chain_id = r.chain_id AND fs.transaction_hash = r.transaction_hash
LEFT JOIN sd_set ss ON ss.chain_id = r.chain_id AND ss.transaction_hash = r.transaction_hash
LEFT JOIN fd_gas fg ON fg.chain_id = r.chain_id AND fg.transaction_hash = r.transaction_hash
LEFT JOIN sd_gas sg ON sg.chain_id = r.chain_id AND sg.transaction_hash = r.transaction_hash
LEFT JOIN psz ps ON ps.chain_id = r.chain_id AND ps.transaction_hash = r.transaction_hash
LEFT JOIN recov rv ON rv.chain_id = r.chain_id AND rv.transaction_hash = r.transaction_hash
"""
    )


def zk_contracts_oracle_sql(traces_sql: str | None = None) -> str:
    return (
        _common_ctes(traces_sql)
        + f""",
committed AS (
  SELECT r.chain_id, r.transaction_hash, r.seq AS root_seq
  FROM roots r JOIN rollup ru
    ON ru.chain_id = r.chain_id AND ru.transaction_hash = r.transaction_hash
  WHERE ru.has_zk = 1
),
sigs AS (
  SELECT chain_id, transaction_hash, to_address AS address,
         list_sort(list(DISTINCT sel)) AS sigs
  FROM guarded GROUP BY 1, 2, 3
),
pc AS (
  SELECT chain_id, transaction_hash, from_address AS address,
    CAST(coalesce(sum(CASE WHEN to_address = '{EC_RECOVER_ADDRESS}' THEN call_count END), 0) AS BIGINT) AS ec_recover_count,
    CAST(coalesce(sum(CASE WHEN to_address = '{EC_ADD_ADDRESS}' THEN call_count END), 0) AS BIGINT) AS ec_add_count,
    CAST(coalesce(sum(CASE WHEN to_address = '{EC_MUL_ADDRESS}' THEN call_count END), 0) AS BIGINT) AS ec_mul_count,
    CAST(coalesce(sum(CASE WHEN to_address = '{EC_PAIRING_ADDRESS}' THEN call_count END), 0) AS BIGINT) AS ec_pairing_count
  FROM edges
  WHERE to_address IN ('{EC_RECOVER_ADDRESS}','{EC_ADD_ADDRESS}','{EC_MUL_ADDRESS}','{EC_PAIRING_ADDRESS}')
  GROUP BY 1, 2, 3
),
psz AS (
  SELECT chain_id, transaction_hash, from_address AS address,
         list_sort(list(pair_size)) AS sizes
  FROM guarded WHERE to_address = '{EC_PAIRING_ADDRESS}' GROUP BY 1, 2, 3
),
allc AS (
  SELECT chain_id, transaction_hash, address, call, 0 AS degree FROM fd
  UNION ALL
  SELECT chain_id, transaction_hash, address, call, 1 AS degree FROM sd
)
SELECT CAST(chain_id AS BIGINT) AS chain_id, address, function_signatures,
       CAST(degree AS INTEGER) AS degree,
       ec_recover_count, ec_add_count, ec_mul_count, ec_pairing_count,
       ec_pairing_input_sizes, call
FROM (
  SELECT c.chain_id, k.root_seq AS _root_seq, c.address,
         coalesce(array_to_string(s.sigs, ','), '') AS function_signatures,
         c.degree,
         coalesce(p.ec_recover_count, 0) AS ec_recover_count,
         coalesce(p.ec_add_count, 0) AS ec_add_count,
         coalesce(p.ec_mul_count, 0) AS ec_mul_count,
         coalesce(p.ec_pairing_count, 0) AS ec_pairing_count,
         coalesce(array_to_string(
           list_transform(z.sizes, x -> CAST(x AS VARCHAR)), ','), '') AS ec_pairing_input_sizes,
         array_to_string(c.call, ',') AS call
  FROM allc c
  JOIN committed k ON k.chain_id = c.chain_id AND k.transaction_hash = c.transaction_hash
  LEFT JOIN sigs s ON s.chain_id = c.chain_id AND s.transaction_hash = c.transaction_hash AND s.address = c.address
  LEFT JOIN pc p ON p.chain_id = c.chain_id AND p.transaction_hash = c.transaction_hash AND p.address = c.address
  LEFT JOIN psz z ON z.chain_id = c.chain_id AND z.transaction_hash = c.transaction_hash AND z.address = c.address
)
QUALIFY row_number() OVER (
  PARTITION BY chain_id, address, function_signatures
  ORDER BY _root_seq ASC, degree ASC) = 1
"""
    )


_DUCK_TYPES = {
    "LongType()": "BIGINT",
    "IntegerType()": "INTEGER",
    "DoubleType()": "DOUBLE",
    "StringType()": "VARCHAR",
}


def blocks_oracle_sql() -> str:
    casts = ", ".join(
        f"CAST({f.name} AS {_DUCK_TYPES[repr(f.dataType)]}) AS {f.name}"
        for f in fixtures.BLOCK_SCHEMA.fields
        if f.name != "seq"
    )
    return f"""
WITH blocks AS (SELECT * FROM {fixtures.blocks_values_sql()})
SELECT {casts} FROM blocks
QUALIFY row_number() OVER (PARTITION BY chain_id, number ORDER BY seq DESC) = 1
"""


def spark_session_edges(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    """T1 — punctuation-sessionized edge rows (batch one-shot of the
    stateful sessionizer), hash-safe projection."""
    from ..streaming.sessionizer import session_edges, sessionize_traces

    out = session_edges(sessionize_traces(fixtures.traces_df(spark)))
    return out.select(
        "chain_id",
        "transaction_hash",
        "from_address",
        "to_address",
        F.col("call_count").cast("long").alias("call_count"),
        F.col("gas_sum").cast("long").alias("gas_sum"),
        _join_str_array("selectors"),
        F.array_join(
            F.transform(F.col("pairing_sizes"), lambda x: x.cast("string")),
            ",",
        ).alias("pairing_sizes"),
        _join_str_array("recovered"),
    )


def session_edges_oracle_sql() -> str:
    """Punctuation sessions in SQL: session_id = running root count per
    chain (ordered by seq); the max session per chain is open → dropped.
    Valid for fixtures whose chains open with a root (ours do)."""
    return f"""
WITH traces AS (SELECT * FROM {fixtures.traces_values_sql()}),
sess AS (
  SELECT *, sum(CASE WHEN len(trace_address) = 0 THEN 1 ELSE 0 END)
            OVER (PARTITION BY chain_id ORDER BY seq
                  ROWS UNBOUNDED PRECEDING) AS session_id
  FROM traces
),
maxs AS (SELECT chain_id, max(session_id) AS max_sid FROM sess GROUP BY 1),
committed AS (
  SELECT s.* FROM sess s JOIN maxs m ON s.chain_id = m.chain_id
  WHERE s.session_id < m.max_sid
),
tx_of AS (
  SELECT chain_id, session_id, transaction_hash AS sess_tx
  FROM committed WHERE len(trace_address) = 0
),
guarded AS (
  SELECT *,
    CASE WHEN to_address IN ('{EC_PAIRING_ADDRESS}','{EC_RECOVER_ADDRESS}')
              THEN '0x00000000'
         WHEN input IS NULL THEN '0x00000000'
         WHEN length(input) > 10 THEN substr(input, 1, 10)
         ELSE '0x00000000' END AS sel,
    CASE WHEN to_address = '{EC_PAIRING_ADDRESS}'
         THEN CAST(coalesce((length(input) - 2) / 2, 0) AS INTEGER)
         END AS pair_size,
    CASE WHEN to_address = '{EC_RECOVER_ADDRESS}' AND output IS NOT NULL THEN
      CASE WHEN (length(output) - 2) / 2 < 32 THEN '{ZERO_ADDRESS}'
           ELSE '0x' || substr(output, 27, 40) END END AS recovered
  FROM committed
  WHERE from_address IS NOT NULL AND to_address IS NOT NULL
)
SELECT g.chain_id, t.sess_tx AS transaction_hash, g.from_address,
  g.to_address,
  CAST(count(*) AS BIGINT) AS call_count,
  CAST(sum(coalesce(g.gas_used, 0)) AS BIGINT) AS gas_sum,
  array_to_string(list_sort(list(DISTINCT g.sel)), ',') AS selectors,
  coalesce(array_to_string(list_transform(
    list_sort(list(g.pair_size) FILTER (g.pair_size IS NOT NULL)),
    x -> CAST(x AS VARCHAR)), ','), '') AS pairing_sizes,
  coalesce(array_to_string(
    list_sort(list(DISTINCT g.recovered) FILTER (g.recovered IS NOT NULL)),
    ','), '') AS recovered
FROM guarded g
JOIN tx_of t ON t.chain_id = g.chain_id AND t.session_id = g.session_id
GROUP BY g.chain_id, t.sess_tx, g.from_address, g.to_address, g.session_id
"""


def spark_block_enrichment(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    """J6 — deduped heads with nulled transaction_count/size re-enriched
    from the detail lookup must reproduce the deduped blocks (the detail
    side is an RPC re-fetch, unique per (chain, number))."""
    from ..operators.enrichment import enrich_blocks

    blocks = blocks_passthrough(fixtures.blocks_df(spark))
    heads = blocks.withColumn(
        "transaction_count", F.lit(None).cast("int")
    ).withColumn("size", F.lit(None).cast("int"))
    return enrich_blocks(heads, blocks)


def block_enrichment_oracle_sql() -> str:
    # enrichment restores exactly the deduped passthrough
    return blocks_oracle_sql()


#: P9 oracle vectors — (lowercase, EIP-55) pairs.  Expected values were
#: computed OFFLINE by functions.keccak.to_checksum_address (whose
#: Keccak-256 is pinned to FIPS-202/EIP-55 unit vectors in
#: tests/test_functions.py and tests/test_keccak_batch.py) and embedded
#: as literals, so the driver compare exercises the runtime UDF against
#: a fixed VALUES relation, not against itself.  The first four rows are
#: the EIP-55 spec's own mixed-case test vectors.
CHECKSUM_VECTORS = [
    ("0x5aaeb6053f3e94c9b9a09f33669435e7ef1beaed",
     "0x5aAeb6053F3E94C9b9A09f33669435E7Ef1BeAed"),
    ("0xfb6916095ca1df60bb79ce92ce3ea74c37c5d359",
     "0xfB6916095ca1df60bB79Ce92cE3Ea74c37c5d359"),
    ("0xdbf03b407c01e7cd3cbea99509d93f8dddc8c6fb",
     "0xdbF03B407c01E7cD3CBea99509d93f8DDDC8C6FB"),
    ("0xd1220a0cf47c7b9be7a2e6ba89f429762e7b9adb",
     "0xD1220A0cf47c7B9Be7A2E6BA89F429762e7b9aDb"),
    ("0x000000000000000000000000000000000000e0a1",
     "0x000000000000000000000000000000000000E0A1"),
    ("0x000000000000000000000000000000000000e0a2",
     "0x000000000000000000000000000000000000E0a2"),
    ("0x000000000000000000000000000000000000e0a3",
     "0x000000000000000000000000000000000000e0A3"),
    ("0x00000000000000000000000000000000000000c1",
     "0x00000000000000000000000000000000000000C1"),
    ("0x00000000000000000000000000000000000000c2",
     "0x00000000000000000000000000000000000000c2"),
    ("0x00000000000000000000000000000000000000c3",
     "0x00000000000000000000000000000000000000C3"),
    ("0x00000000000000000000000000000000000000c4",
     "0x00000000000000000000000000000000000000C4"),
    ("0x00000000000000000000000000000000000000c5",
     "0x00000000000000000000000000000000000000c5"),
    ("0x00000000000000000000000000000000000000c6",
     "0x00000000000000000000000000000000000000c6"),
    ("0x00000000000000000000000000000000000000c7",
     "0x00000000000000000000000000000000000000C7"),
    ("0x00000000000000000000000000000000000000c8",
     "0x00000000000000000000000000000000000000C8"),
    ("0x00000000000000000000000000000000000000c9",
     "0x00000000000000000000000000000000000000C9"),
    ("0x0000000000000000000000000000000000003397",
     "0x0000000000000000000000000000000000003397"),
    ("0x00000000000000000000000000000000000033fb",
     "0x00000000000000000000000000000000000033FB"),
    ("0x0000000000000000000000000000000000000001",
     "0x0000000000000000000000000000000000000001"),
    ("0x0000000000000000000000000000000000000008",
     "0x0000000000000000000000000000000000000008"),
    ("0xaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",
     "0xaAaAaAaaAaAaAaaAaAAAAAAAAaaaAaAaAaaAaaAa"),
]


def spark_checksummed_addresses(
    spark: SparkSession, sf_dir: str = ""
) -> DataFrame:
    """P9 as a driver row: EIP-55 checksum through BOTH runtime paths —
    the scalar ``to_checksum_udf`` and the array ``checksum_array_udf``
    — via the same ``with_checksummed_addresses`` entrypoint the sink
    runner uses (reference to_checksum at SQL-render time,
    src/types/etl_result.rs:166-172)."""
    from ..functions.evm import with_checksummed_addresses

    from pyspark.sql import types as T

    # Arrow-backed fixture df (fixtures.arrow_df): a plain createDataFrame
    # evaluates via a pickled Python RDD — ~6 s per action for 21 rows.
    df = fixtures.arrow_df(
        spark,
        [(a,) for a, _ in CHECKSUM_VECTORS],
        T.StructType([T.StructField("address", T.StringType())]),
    ).coalesce(1).select(
        "address",
        F.col("address").alias("checksummed"),
        F.array("address", "address").alias("_pair"),
    )
    out = with_checksummed_addresses(df, ["checksummed"], ["_pair"])
    return out.select(
        "address",
        "checksummed",
        F.array_join("_pair", ",").alias("pair_checksummed"),
    )


def checksum_oracle_sql() -> str:
    rows = ",\n".join(
        f"('{a}', '{c}', '{c},{c}')" for a, c in CHECKSUM_VECTORS
    )
    return (
        "SELECT * FROM (VALUES\n"
        f"{rows}\n"
        ") AS t(address, checksummed, pair_checksummed)"
    )


def spark_zk_callgraph_rank(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    """PageRank over the fixture's contract call graph — ranking the
    edge list the reference's J2/J3 operators derive
    (``/root/reference/src/transformer/zk/mod.rs``: caller→callee per
    trace) by link-structure importance, the natural analytics step on
    top of an engine that already materializes those edges.

    Nodes are ``chain_id:address`` (call graphs are per-chain address
    spaces); edges are the DISTINCT symmetrized caller↔callee pairs, so
    the graph is sink-free (the documented no-dangling precondition).
    3 exact BIGINT fixed-point rounds (``operators/graph.py``);
    ``materialize=False`` keeps this tiny fixture query a fully lazy
    plan (views register it without running a job).

    Output: node, rank (BIGINT picorank units)."""
    from ..operators.graph import pagerank_fixed_point

    tr = fixtures.traces_df(spark)
    base = (
        tr.filter(
            F.col("from_address").isNotNull() & F.col("to_address").isNotNull()
        )
        .select(
            F.concat(
                F.col("chain_id").cast("string"), F.lit(":"), F.col("from_address")
            ).alias("u"),
            F.concat(
                F.col("chain_id").cast("string"), F.lit(":"), F.col("to_address")
            ).alias("v"),
        )
        .distinct()
    )
    edges = (
        base.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionByName(base.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .distinct()
    )
    return pagerank_fixed_point(edges, rounds=3, materialize=False)


def zk_callgraph_rank_oracle_sql() -> str:
    from .inventory import _pagerank_iter_sql

    return f"""
WITH traces AS (SELECT * FROM {fixtures.traces_values_sql()}),
base AS (
  SELECT DISTINCT CAST(chain_id AS VARCHAR) || ':' || from_address AS u,
                  CAST(chain_id AS VARCHAR) || ':' || to_address AS v
  FROM traces
  WHERE from_address IS NOT NULL AND to_address IS NOT NULL
),
edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT u AS src, v AS dst FROM base
    UNION ALL
    SELECT v AS src, u AS dst FROM base
  )
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
r0 AS (
  SELECT d.src AS node, d.outdeg, nn.n,
         CAST(1000000000000 AS BIGINT) // nn.n AS rank
  FROM deg d CROSS JOIN nn
),{_pagerank_iter_sql("r0", "r1")},{_pagerank_iter_sql("r1", "r2")},{_pagerank_iter_sql("r2", "r3")}
SELECT node, rank FROM r3
"""


# Driver-contract registration (aggregated by evmtrace_etl_spark.registry).
QUERIES = {
    "zk_transactions": spark_zk_transactions,
    "zk_contracts": spark_zk_contracts,
    "zk_blocks": spark_blocks,
    "zk_block_enrichment": spark_block_enrichment,
    "zk_session_edges": spark_session_edges,
    "zk_checksum_addresses": spark_checksummed_addresses,
    "zk_callgraph_rank": spark_zk_callgraph_rank,
}

ORACLES = {
    "zk_transactions": zk_transactions_oracle_sql(),
    "zk_contracts": zk_contracts_oracle_sql(),
    "zk_blocks": blocks_oracle_sql(),
    "zk_block_enrichment": block_enrichment_oracle_sql(),
    "zk_session_edges": session_edges_oracle_sql(),
    "zk_checksum_addresses": checksum_oracle_sql(),
    "zk_callgraph_rank": zk_callgraph_rank_oracle_sql(),
}
