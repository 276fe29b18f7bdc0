"""Batch-vectorized Keccak-256 for EIP-55 checksumming.

hashlib's sha3 uses the SHA-3 padding, not Keccak's, so the
Arrow-batch hot path is a numpy-vectorized Keccak-f[1600]: the state
is a ``(25, batch)`` uint64 array and every theta/rho/pi/chi/iota step
is an elementwise numpy op, hashing the whole batch per permutation
call — orders of magnitude over the per-address pure-Python loop.

``functions.keccak`` (scalar, pure Python) stays as the test oracle.

Covers single-block messages (≤ 135 bytes) — an EIP-55 input is always
the 40-char hex body.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .keccak import _RC, _ROT, to_checksum_address

_RC_U64 = [np.uint64(rc) for rc in _RC]
_RATE = 136


def _rotl(v: np.ndarray, r: int) -> np.ndarray:
    if r == 0:
        return v.copy()  # must not alias: chi mutates state rows in place
    return (v << np.uint64(r)) | (v >> np.uint64(64 - r))


def _keccak_f_batch(a: np.ndarray) -> None:
    """In-place Keccak-f[1600] on a (25, batch) uint64 state; flat lane
    index = x + 5*y (same convention as the scalar oracle).  Lane-major
    layout keeps every elementwise op on a contiguous row."""
    for rc in _RC_U64:
        c = [a[x] ^ a[x + 5] ^ a[x + 10] ^ a[x + 15] ^ a[x + 20] for x in range(5)]
        d = [c[(x - 1) % 5] ^ _rotl(c[(x + 1) % 5], 1) for x in range(5)]
        for x in range(5):
            for y in range(5):
                a[x + 5 * y] ^= d[x]
        b = [None] * 25
        for x in range(5):
            for y in range(5):
                b[y + 5 * ((2 * x + 3 * y) % 5)] = _rotl(a[x + 5 * y], _ROT[x][y])
        for y in range(5):
            for x in range(5):
                a[x + 5 * y] = b[x + 5 * y] ^ (
                    (~b[(x + 1) % 5 + 5 * y]) & b[(x + 2) % 5 + 5 * y]
                )
        a[0] ^= rc


def keccak256_batch(data: np.ndarray) -> np.ndarray:
    """Keccak-256 of N equal-length messages: (N, L) uint8 → (N, 32) uint8.
    Single-block only (L ≤ 135)."""
    n, msg_len = data.shape
    if msg_len > _RATE - 1:  # pragma: no cover
        raise ValueError("keccak256_batch handles single-block input only")
    block = np.zeros((n, _RATE), dtype=np.uint8)
    block[:, :msg_len] = data
    block[:, msg_len] ^= 0x01  # Keccak (pre-SHA3) domain padding
    block[:, _RATE - 1] ^= 0x80
    lanes = block.view("<u8")  # (n, 17) little-endian lanes
    state = np.zeros((25, n), dtype=np.uint64)
    state[:17] = lanes.T
    _keccak_f_batch(state)
    return (
        np.ascontiguousarray(state[:4].T).view(np.uint8).reshape(n, 32)
    )


def checksum_batch(addresses: pd.Series) -> pd.Series:
    """EIP-55 checksum of a Series of ``0x…`` addresses, batch-hashed.

    Non-conforming entries (None / wrong length) fall back to the scalar
    oracle path individually.
    """
    vals = addresses.tolist()
    bodies: list[str | None] = []
    idx: list[int] = []
    for i, v in enumerate(vals):
        if isinstance(v, str) and len(v) == 42:
            bodies.append(v.lower()[2:])
            idx.append(i)
    out = [
        to_checksum_address(v)
        if isinstance(v, str) and len(v) != 42
        else v
        for v in vals
    ]
    if not idx:
        return pd.Series(out, index=addresses.index, dtype="object")

    msg = np.frombuffer(
        "".join(bodies).encode("ascii"), dtype=np.uint8
    ).reshape(len(bodies), 40)
    digests = keccak256_batch(msg)

    chars = np.frombuffer(
        "".join(bodies).encode("ascii"), dtype=np.uint8
    ).reshape(len(bodies), 40).copy()
    nibbles = np.empty((len(bodies), 40), dtype=np.uint8)
    nibbles[:, 0::2] = digests[:, :20] >> 4
    nibbles[:, 1::2] = digests[:, :20] & 0xF
    upper = (nibbles >= 8) & (chars >= ord("a"))
    chars[upper] -= 32  # ascii lowercase → uppercase
    for row, i in enumerate(idx):
        out[i] = "0x" + chars[row].tobytes().decode("ascii")
    return pd.Series(out, index=addresses.index, dtype="object")
