"""The lake log's plain-file reads, shared by the writer (``sinks``) and
the stream source (``sources.lake_changes``).

The log lives on the local filesystem and is read with the Python
standard library: no SparkSession, no JVM, so the stream reader's
executors load this module without loading ``sinks``.  Layout (see the
snapshot-commit section of ``sinks``): ``<manifest>/v<N>/_COMMIT`` is a
committed version's JSON marker; ``<manifest>/v<N>/*.parquet`` its
manifest rows.
"""

from __future__ import annotations

import datetime
import json
import os
import re
from urllib.parse import unquote

from pyspark.sql import types as T


def local_path(p: str) -> str:
    """The absolute, normalized posix form of a lake path — the one
    spelling the log's file lists and locks use.  A ``file:`` scheme
    strips; any other ``scheme://`` raises, since the lake tier reads
    and writes the local filesystem only."""
    if p.startswith("file:"):
        p = re.sub(r"^file:/+", "/", p)
    elif "://" in p:
        raise ValueError(
            f"the lake log reads local/file: paths only, got {p!r}"
        )
    return os.path.abspath(p)


def committed_versions(mdir: str) -> list[int]:
    """The versions under ``mdir`` that carry a ``_COMMIT`` marker,
    ascending ([] when the log does not exist)."""
    try:
        names = os.listdir(mdir)
    except FileNotFoundError:
        return []
    return sorted(
        int(n[1:])
        for n in names
        if re.fullmatch(r"v\d+", n)
        and os.path.exists(os.path.join(mdir, n, "_COMMIT"))
    )


def file_size(path: str) -> int:
    """``path``'s size in bytes; 0 once a racing commit swept it."""
    try:
        return os.path.getsize(path)
    except FileNotFoundError:
        return 0


def read_json(path: str) -> dict:
    with open(path, encoding="utf-8") as f:
        return json.load(f)


#: the keys EVERY ``_COMMIT`` marker carries — the log's one record
#: shape (pending entries are ``{file, rm_v}`` dicts).  The rest are
#: stamped only when they apply: partition_by, op, metrics,
#: constraints, col_mapping, cdf, retain, floor, dvs, features,
#: protocol, dvs_delta, changes.
MARKER_KEYS = frozenset(
    {
        "version", "kind", "base_ckpt", "added", "removed", "pending",
        "txns", "ts", "keep", "stats_cols", "schema",
    }
)


def commit_info(mdir: str, version: int) -> dict:
    """The ``_COMMIT`` marker payload of a committed version.  Every
    commit writes the one shape (``MARKER_KEYS``, dict pending
    entries); a marker in any other shape raises, naming the marker,
    instead of being read under a guessed default."""
    where = f"{mdir}/v{version}/_COMMIT"
    m = read_json(where)
    missing = sorted(MARKER_KEYS - m.keys())
    bare = [
        e for e in m.get("pending", [])
        if not (isinstance(e, dict) and {"file", "rm_v"} <= e.keys())
    ]
    if missing or bare:
        raise ValueError(
            f"commit marker {where} is not in the log's record shape "
            f"(missing keys {missing}, pending entries not "
            f"{{file, rm_v}}: {bare[:3]}) "
            "— this build reads only the shape it writes"
        )
    return m


def dir_value(path: str, col: str) -> str | None:
    """The decoded hive directory value of ``col`` in ``path`` — None
    for the default (NULL) partition or a path without that directory."""
    for seg in path.split("/")[:-1]:
        if seg.startswith(col + "="):
            v = unquote(seg[len(col) + 1:])
            return None if v == "__HIVE_DEFAULT_PARTITION__" else v
    return None


def py_cast(v, dt: T.DataType):
    """A directory-encoded partition value (string) as the Python value
    matching the column type ``dt`` — the driver-side twin of the
    ``cast`` the distributed stats builder applies."""
    if v is None:
        return None
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return int(v)
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return float(v)
    if isinstance(dt, T.BooleanType):
        return str(v).lower() == "true"
    if isinstance(dt, T.DateType):
        return datetime.date.fromisoformat(str(v))
    return v  # strings (and anything hive encodes as one)


def cdf_schema(schema: T.StructType) -> T.StructType:
    """The change-feed row shape: the table schema plus
    ``_change_type`` (insert / update_preimage / update_postimage /
    delete) and ``_commit_version`` — Delta's CDF columns."""
    return T.StructType(
        list(schema.fields)
        + [
            T.StructField("_change_type", T.StringType(), True),
            T.StructField("_commit_version", T.LongType(), True),
        ]
    )
