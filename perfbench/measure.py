"""Pure measurement helpers: percentiles, the file source's checkpoint
log, block freshness and the order-independent output digest.

Nothing here touches Spark, so the tests drive it on canned inputs.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


_LOG_NAME = re.compile(r"^(\d+)(\.compact)?$")


def read_source_log(source_dir: str) -> dict[str, int]:
    """File name → micro-batch id, from a file stream source's metadata
    log (``<checkpoint>/sources/0``).

    Each log file is ``v1`` then one JSON entry per file the batch took;
    every tenth batch is a ``N.compact`` file that repeats all earlier
    entries.  Reading the log costs no Spark job."""
    out: dict[str, int] = {}
    for name in os.listdir(source_dir):
        if not _LOG_NAME.match(name):
            continue
        with open(os.path.join(source_dir, name)) as fh:
            out.update(parse_source_log(fh.read()))
    return out


def parse_source_log(text: str) -> dict[str, int]:
    out = {}
    for line in text.splitlines()[1:]:
        line = line.strip()
        if line:
            entry = json.loads(line)
            out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def freshness(
    due: dict[str, float],
    batch_of: dict[str, int],
    batch_end: dict[int, float],
) -> list[float]:
    """Seconds from each file's due time to the end of the
    ``foreachBatch`` call that committed it.  Raises if a due file was
    never committed: a missing sample would flatter the percentiles."""
    missing = sorted(set(due) - set(batch_of))
    if missing:
        raise ValueError(f"{len(missing)} files never committed: {missing[:3]}")
    return [batch_end[batch_of[f]] - t for f, t in due.items()]


def backlog_at_batch_ends(
    due: dict[str, float],
    batch_of: dict[str, int],
    batch_end: dict[int, float],
) -> list[int]:
    """Files due but not yet committed at the end of each batch, in
    batch order — a series that climbs means the input outruns the
    stream."""
    out = []
    for b in sorted(batch_end):
        t = batch_end[b]
        out.append(
            sum(
                1
                for f, d in due.items()
                if d <= t and batch_end[batch_of[f]] > t
            )
        )
    return out


def digest(rows) -> tuple[int, str]:
    """(row count, order-independent sha256) of an iterable of tuples."""
    lines = sorted(repr(tuple(r)) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()
