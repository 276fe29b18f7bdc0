"""EVM scalar column functions (SURVEY §2.2) — pure ``Column -> Column``.

Everything here is built-in pyspark.sql.functions (JVM-side, codegen'd);
the only Python UDF is EIP-55 checksumming, which is sink-only.

All hex values are lowercase ``0x…`` strings (SURVEY §1.2): a 20-byte
address is 42 chars, a 4-byte selector 10 chars, N bytes = 2 + 2N chars.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..session import per_context
from .keccak import to_checksum_address

# EVM elliptic-curve precompile addresses (reference
# src/constants/addresses.rs:3-28).
EC_RECOVER_ADDRESS = "0x" + "0" * 39 + "1"
EC_ADD_ADDRESS = "0x" + "0" * 39 + "6"
EC_MUL_ADDRESS = "0x" + "0" * 39 + "7"
EC_PAIRING_ADDRESS = "0x" + "0" * 39 + "8"

#: callers of these two precompiles are "first degree" (reference
#: src/types/trace_tree.rs:29-30).
FIRST_DEGREE_FILTER_ADDRESSES = [EC_PAIRING_ADDRESS, EC_RECOVER_ADDRESS]

ZERO_SELECTOR = "0x00000000"
ZERO_ADDRESS = "0x" + "0" * 40

_PRECOMPILES = {
    "ec_recover": EC_RECOVER_ADDRESS,
    "ec_add": EC_ADD_ADDRESS,
    "ec_mul": EC_MUL_ADDRESS,
    "ec_pairing": EC_PAIRING_ADDRESS,
}


def hex_byte_length(col: Column | str) -> Column:
    """Byte length of a ``0x…`` hex string column (null in → null out)."""
    c = F.col(col) if isinstance(col, str) else col
    return ((F.length(c) - F.lit(2)) / F.lit(2)).cast("int")


def selector(input_col: Column | str) -> Column:
    """P5 — 4-byte selector: first 4 bytes of calldata if calldata is
    LONGER than 4 bytes, else the zero selector.

    Quirk preserved: exactly-4-byte calldata yields the zero selector
    (reference ``construct_signature``, src/types/trace_tree.rs:44-53 uses
    ``len > 4``, not ``>=``).  Null calldata also yields the zero selector
    (``unwrap_or_default`` at trace_tree.rs:188-193, 250-255).
    """
    c = F.col(input_col) if isinstance(input_col, str) else input_col
    return F.when(F.length(c) > 10, F.substring(c, 1, 10)).otherwise(
        F.lit(ZERO_SELECTOR)
    )


def selector_masked(input_col: Column | str, to_col: Column | str) -> Column:
    """P6 — selector as P5, but forced to zero when the callee is one of the
    first-degree precompiles (reference ``construct_signature_with_to``,
    src/types/trace_tree.rs:55-65): precompile calldata is proof data, not
    an ABI call.
    """
    t = F.col(to_col) if isinstance(to_col, str) else to_col
    return F.when(
        t.isin(FIRST_DEGREE_FILTER_ADDRESSES), F.lit(ZERO_SELECTOR)
    ).otherwise(selector(input_col))


def ec_recover_address(output_col: Column | str) -> Column:
    """P7 — address recovered by the 0x01 precompile from its output.

    Output shorter than 32 bytes → the zero address (invalid recovery);
    otherwise bytes 12..32, i.e. hex chars 27..66 (reference
    src/types/trace_tree.rs:287-301).  Null output → null (the reference
    inserts nothing when output is absent).
    """
    c = F.col(output_col) if isinstance(output_col, str) else output_col
    return F.when(c.isNull(), F.lit(None).cast("string")).when(
        hex_byte_length(c) < 32, F.lit(ZERO_ADDRESS)
    ).otherwise(F.concat(F.lit("0x"), F.substring(c, 27, 40)))


def pairing_input_size(input_col: Column | str) -> Column:
    """P8 — byte size of calldata sent to the 0x08 pairing precompile;
    null calldata counts as 0 (reference src/types/trace_tree.rs:274-285).
    """
    c = F.col(input_col) if isinstance(input_col, str) else input_col
    return F.coalesce(hex_byte_length(c), F.lit(0))


def is_precompile(to_col: Column | str, which: str) -> Column:
    """Predicate: callee is the named precompile (ec_recover/ec_add/
    ec_mul/ec_pairing)."""
    t = F.col(to_col) if isinstance(to_col, str) else to_col
    return t == F.lit(_PRECOMPILES[which])


@pandas_udf(T.StringType())
def to_checksum_udf(addresses: pd.Series) -> pd.Series:
    """P9 — EIP-55 checksum formatting (Keccak-256 based; no Spark builtin).

    Sink-side only: internal columns stay lowercase so joins/groupBys never
    touch a Python UDF (reference checksums only when rendering SQL rows,
    src/types/etl_result.rs:166-172,196-200,221,239-242,293).

    Hashing is batch-vectorized (numpy Keccak-f over the whole Arrow
    batch) — the per-address pure-Python loop lives on only as the
    test oracle.
    """
    from .keccak_batch import checksum_batch

    return checksum_batch(addresses)


@per_context
def checksum_array_udf():
    """EIP-55 over an array<string> column (sorted output preserved).
    Built once per SparkContext, so its function is pickled once, not
    once per micro-batch."""

    @pandas_udf(T.ArrayType(T.StringType()))
    def _udf(arrays: pd.Series) -> pd.Series:
        from .keccak_batch import checksum_batch

        lengths = arrays.map(lambda a: 0 if a is None else len(a))
        flat = pd.Series(
            [a for arr in arrays if arr is not None for a in arr],
            dtype="object",
        )
        summed = checksum_batch(flat).tolist() if len(flat) else []
        out, pos = [], 0
        for arr, n in zip(arrays, lengths):
            if arr is None:
                out.append(None)
            else:
                out.append(summed[pos : pos + n])
                pos += n
        return pd.Series(out, index=arrays.index, dtype="object")

    return _udf


@per_context
def _checksum_columns(cols: tuple, array_cols: tuple) -> dict:
    arr_udf = checksum_array_udf()
    return {
        **{c: to_checksum_udf(F.col(c)) for c in cols},
        **{c: arr_udf(F.col(c)) for c in array_cols},
    }


def with_checksummed_addresses(
    df, cols: list[str] = (), array_cols: list[str] = ()
):
    """Sink serialization step: EIP-55 the given address columns, matching
    the reference's to_checksum at SQL-render time (etl_result.rs:166-172,
    196-200, 221, 239-242, 293).  Internal plans stay lowercase."""
    return df.withColumns(_checksum_columns(tuple(cols), tuple(array_cols)))


#: per-output checksummed columns (reference call sites in etl_result.rs)
TRANSACTION_ADDRESS_COLS = (
    ["from_address", "to_address"],
    ["closest_address", "ec_recover_addresses"],
)
CONTRACT_ADDRESS_COLS = (["address"], ["call"])
BLOCK_ADDRESS_COLS = (["miner"], [])
