"""The lake log's plain-file reads, shared by the writer (``sinks``) and
the stream source (``sources.lake_changes``).

The log lives on the local filesystem and is read with the Python
standard library and pyarrow: no SparkSession, no JVM, so the stream
reader's executors load this module without loading ``sinks``.  Layout
(see the snapshot-commit section of ``sinks``): the log of the table at
``<path>`` is ``manifest_dir(path)``; ``<log>/v<N>/_COMMIT`` is a
committed version's JSON marker, ``<log>/v<N>/*.parquet`` its manifest
rows.  A snapshot's manifest is one ``pyarrow.Table``
(``read_manifest``), replayed on the driver the way delta-rs and Delta
Kernel replay a Delta log in-process.
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


def manifest_dir(path: str) -> str:
    """The log directory of the lake table at ``path``:
    ``<path>/_stats_manifest``, inside the table (hidden to Spark scans
    by its ``_`` prefix), in ``local_path`` form.  A table is named by
    its path alone — the log has no other location."""
    return local_path(path) + "/_stats_manifest"


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


def manifest_schema(schema: T.StructType, stats_cols) -> "pa.Schema":
    """The manifest-row arrow schema: ``file``, ``n_rows``,
    ``<c>_min``/``<c>_max`` for each stats column typed as the table
    column (``to_arrow_type`` — a ``TimestampType`` column's stats are
    ``timestamp[us, tz=UTC]``), and ``added_version``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    by_name = {f.name: f.dataType for f in schema.fields}
    lost = [c for c in stats_cols if c not in by_name]
    if lost:
        raise ValueError(
            f"stats columns {lost} are not in the table schema"
        )
    fields = [pa.field("file", pa.string()), pa.field("n_rows", pa.int64())]
    for c in stats_cols:
        t = to_arrow_type(by_name[c])
        fields += [pa.field(f"{c}_min", t), pa.field(f"{c}_max", t)]
    fields.append(pa.field("added_version", pa.int64()))
    return pa.schema(fields)


def conform(table: "pa.Table", schema: "pa.Schema") -> "pa.Table":
    """``table`` under ``schema``: columns it carries are cast, columns
    it lacks fill NULL (a delta written before a stats column evolved
    in — NULL stats keep the file a candidate), columns ``schema`` does
    not name are dropped."""
    import pyarrow as pa

    have = set(table.column_names)
    return pa.Table.from_arrays(
        [
            table[f.name].cast(f.type)
            if f.name in have
            else pa.nulls(table.num_rows, f.type)
            for f in schema
        ],
        schema=schema,
    )


def read_manifest(mdir: str, version: int) -> "pa.Table":
    """The manifest SNAPSHOT at ``version``, replayed from the log on
    the driver: the base checkpoint's rows plus the later deltas' rows
    up to ``version``, minus the deltas' removed lists, under the
    marker's manifest schema.  File paths are never reused (uuid part
    names), so the set algebra is order-free.  Raises when the chain is
    no longer retained."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    marker = commit_info(mdir, version)
    base = int(marker["base_ckpt"])  # == version on a checkpoint
    committed = set(committed_versions(mdir))
    chain = range(base, version + 1)
    missing = [v for v in chain if v not in committed]
    if missing:
        raise ValueError(
            f"manifest version {version} at {mdir} is no longer "
            f"reconstructible — its checkpoint chain v{base}..v{version} "
            f"lost {missing} to retention"
        )
    schema = manifest_schema(
        T.StructType.fromJson(marker["schema"]), marker["stats_cols"]
    )
    parts = []
    removed: set[str] = set()
    for v in chain:
        if v > base:
            m = marker if v == version else commit_info(mdir, v)
            removed.update(m["removed"])
        # a pure-removal delta's dir holds no parquet, only markers
        parts += [
            conform(pq.ParquetFile(e.path).read(), schema)
            for e in os.scandir(f"{mdir}/v{v}")
            if e.is_file() and not e.name.startswith(("_", "."))
        ]
    out = pa.concat_tables(parts) if parts else schema.empty_table()
    if removed:
        gone = pc.is_in(out["file"], value_set=pa.array(list(removed)))
        out = out.filter(pc.invert(gone))
    return out
