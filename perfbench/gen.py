"""Seeded input generator for the trace-pipeline benchmark.

Trace inputs replicate ``sources.fixtures.TRACE_ROWS`` (33 rows, 10 tx
trees) with distinct transaction hashes and write them as flat
``TRACE_SCHEMA`` JSON lines.  A replica is never split across files, so
no ``(chain_id, transaction_hash)`` tree straddles two micro-batches —
the per-tx contiguity a Kafka topic gives the reference.

Block inputs replicate the first ``BLOCK_ROWS`` header over block
numbers; a re-delivered block carries a higher ``seq`` and a changed
``gas_used``, so the DO UPDATE upsert has something to replace.

Everything here is plain Python; no Spark session is needed.
"""

from __future__ import annotations

import json
import os
import random
from decimal import Decimal

from evmtrace_etl_spark.sources.fixtures import BLOCK_ROWS, TRACE_ROWS

#: fixture seqs stay below this, so ``replica * SEQ_STRIDE + seq``
#: orders replicas one after another without collisions
SEQ_STRIDE = 100

ROWS_PER_REPLICA = len(TRACE_ROWS)

#: original tx hash → small tag; chain 10 reuses tx1's hash in the
#: fixture, and the replica hash keeps that sharing
_TX_TAGS = {
    h: i
    for i, h in enumerate(
        dict.fromkeys(r["transaction_hash"] for r in TRACE_ROWS)
    )
}


def _json_value(v):
    return int(v) if isinstance(v, Decimal) else v


def replica_hash(salt: int, replica: int, orig_hash: str) -> str:
    """The 32-byte tx hash replica ``replica`` gives ``orig_hash``."""
    return "0x%016x%048x" % (salt, replica * 16 + _TX_TAGS[orig_hash])


class TraceGen:
    """Replica ``r`` of the trace fixture, seeded by ``salt``.

    Each fixture row is serialized once with placeholders for the tx
    hash and seq; a replica is then string formatting only."""

    def __init__(self, seed: int):
        self.salt = random.Random(seed).getrandbits(64)
        self._templates = []
        for row in TRACE_ROWS:
            d = {k: _json_value(v) for k, v in row.items()}
            d["transaction_hash"] = "\x00H"
            d["seq"] = "\x00S"
            line = json.dumps(d, separators=(",", ":")).replace("%", "%%")
            line = line.replace('"\\u0000H"', '"%(h)s"').replace(
                '"\\u0000S"', "%(s)d"
            )
            self._templates.append(
                (line, row["transaction_hash"], row["seq"])
            )

    def replica_lines(self, replica: int) -> str:
        return "".join(
            tpl % {
                "h": replica_hash(self.salt, replica, h),
                "s": replica * SEQ_STRIDE + seq,
            }
            + "\n"
            for tpl, h, seq in self._templates
        )


def write_atomic(path: str, text: str) -> None:
    """Write ``text`` under a hidden name, then rename into place: the
    file source skips dot-files, so a reader never sees a partial file."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)


def write_trace_files(
    gen: TraceGen,
    out_dir: str,
    replicas: list[int],
    per_file: int,
) -> list[str]:
    """Write ``replicas`` in order, ``per_file`` whole replicas per file.
    Returns the file names written."""
    os.makedirs(out_dir, exist_ok=True)
    names = []
    for i in range(0, len(replicas), per_file):
        name = f"part-{i // per_file:05d}.json"
        write_atomic(
            os.path.join(out_dir, name),
            "".join(gen.replica_lines(r) for r in replicas[i : i + per_file]),
        )
        names.append(name)
    return names


def shuffled_replicas(seed: int, start: int, count: int) -> list[int]:
    """Replica ids ``start .. start+count-1`` in a seeded order, so the
    seed also decides which trees share a file."""
    ids = list(range(start, start + count))
    random.Random(seed * 7919 + start).shuffle(ids)
    return ids


# ---------------------------------------------------------------------------
# blocks
# ---------------------------------------------------------------------------

_BLOCK_TEMPLATE = dict(BLOCK_ROWS[0])


def block_row(number: int, seq: int, delivery: int) -> dict:
    """Header for block ``number`` (chain 1); ``delivery`` > 0 marks a
    re-delivery whose ``gas_used`` differs from the first one."""
    r = dict(_BLOCK_TEMPLATE)
    r.update(
        number=number,
        timestamp=1_700_000_000 + number,
        hash="0x%064x" % (0xB10C << 200 | number),
        parent_hash="0x%064x" % (0xB10C << 200 | max(number - 1, 0)),
        miner="0x%040x" % (0x3333_0000 + number % 97),
        gas_used=1_000_000 + number * 10 + delivery,
        seq=seq,
    )
    return r


def write_block_files(out_dir: str, rows: list[dict], per_file: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for i in range(0, len(rows), per_file):
        write_atomic(
            os.path.join(out_dir, f"blocks-{i // per_file:05d}.json"),
            "".join(
                json.dumps(r, separators=(",", ":")) + "\n"
                for r in rows[i : i + per_file]
            ),
        )
