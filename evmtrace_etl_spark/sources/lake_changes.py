"""Streaming source over a snapshot-logged lake table's commit history
— Delta's "streaming source from a table" re-expressed through the
PySpark Python Data Source API (pyspark.sql.datasource, Spark 4):
offsets are committed MANIFEST VERSIONS, each micro-batch serves the
commits in ``(start, end]``, and Structured Streaming's checkpoint
makes consumption resumable — paired with txn-stamped lake writes
downstream, the whole source→sink pipeline is exactly-once.

Two modes:

- plain rows (default): appended rows per commit — the streaming twin
  of ``sinks.table_changes``'s append-span read; a rewrite commit in
  the span fails the batch (file arithmetic cannot reconstruct it).
- ``change_feed=true``: row-level CDC — rows carry ``_change_type`` /
  ``_commit_version``; rewrite commits are served from their
  change-data files (tables with the cdf flag), appends synthesize
  inserts.

Scale shape: ``partitions()`` is a driver-side marker walk (one JSON
per commit in the span — O(span), never O(table)); each added/change
FILE becomes one input partition, so the read fans out across
executors and a poll touches only the new batches.  The log layout is
the plain-file one ``sinks._commit_manifest`` writes, read here through
``lake_log`` (the standard library) and pyarrow, so executors need no
JVM filesystem and no ``sinks``.

The reference's consumer loop (src/consumer/kafka/trace/mod.rs:24-51)
is the analogous poll-and-feed surface; this source replaces the
broker with the table's own commit log.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from ..lake_log import (
    cdf_schema,
    commit_info,
    committed_versions,
    dir_value,
    file_size,
    local_path,
    manifest_dir,
    py_cast,
)

#: format name under which the source registers
FORMAT_NAME = "lake_changes"


# ---------------------------------------------------------------------------
# Offset coordinates.  One wire shape, {"version": v, "index": i}: commits
# < v fully consumed plus the first i files of commit v (i > 0 only when
# admission control split an over-budget commit).  It is the linear
# position (next_version, files_already_consumed_of_it), so spans compare
# lexicographically.  An offset in any other shape raises, naming it.
# ---------------------------------------------------------------------------


def _norm_pos(off: dict) -> tuple[int, int]:
    if not isinstance(off, dict) or off.keys() != {"version", "index"}:
        raise ValueError(
            f"lake_changes offset {off!r} is not in the source's one "
            'shape {"version": v, "index": i}'
        )
    return (int(off["version"]), int(off["index"]))


def _emit_pos(pos: tuple[int, int]) -> dict:
    return {"version": int(pos[0]), "index": int(pos[1])}


# ---------------------------------------------------------------------------
# The data source
# ---------------------------------------------------------------------------


class LakeChangesPartition(InputPartition):
    """One parquet file of one commit: ``kind`` is ``data`` (an added
    file — synthesize an insert in cdf mode) or ``change`` (a
    change-data sidecar, rows already typed)."""

    def __init__(self, file: str, kind: str, version: int):
        self.file = file
        self.kind = kind
        self.version = version


class LakeChangesStreamReader(DataSourceStreamReader):
    """Offsets = committed manifest versions; batch = the commits in
    ``(start, end]``.  ``partitions`` walks only the span's markers on
    the driver; ``read`` opens one parquet file per partition with
    pyarrow on the executor and aligns it to the declared schema
    (missing columns NULL-fill — add-only evolution — and hive
    partition values parse from the path)."""

    def __init__(self, schema: T.StructType, options: dict):
        self._schema = schema
        self._options = dict(options)
        self._mdir = manifest_dir(self._options["path"])
        self._cdf = (
            str(self._options.get("change_feed", "false")).lower() == "true"
        )
        self._start = int(self._options.get("starting_version", 0))
        self._pcols = self._options.get("partition_cols", "")
        # admission control (Delta's maxFilesPerTrigger /
        # maxBytesPerTrigger): <=0 disables that budget
        self._max_files = int(
            self._options.get("max_files_per_trigger", 1000) or 0
        )
        self._max_bytes = int(
            self._options.get("max_bytes_per_trigger", 0) or 0
        )
        #: the reader's linear position — the end offset it last planned
        #: or served.  None until primed (initialOffset, a checkpoint
        #: recovery, or the first partitions() call after a restart).
        self._pos: tuple[int, int] | None = None

    # -- span enumeration ---------------------------------------------------
    def _commit_files(self, v: int) -> list[tuple[str, str]]:
        """One commit's servable files as ``(path, kind)`` in marker
        order — the SINGLE enumeration both ``latestOffset``'s budget
        walk and ``partitions`` use, so a split offset's file index
        can never disagree between planning and execution."""
        m = commit_info(self._mdir, v)
        changes = m.get("changes")
        if self._cdf and changes is not None:
            return [(f, "change") for f in changes]
        # plain mode: a pure append serves its added files even on
        # a CDF table (whose appends ALWAYS carry change sidecars —
        # raising on `changes` alone would make a CDF table
        # unstreamable in plain mode); only a genuine rewrite or a
        # deletion-vector visibility change is unservable here
        if m.get("removed") or m.get("dvs_delta"):
            if not self._cdf and changes is not None:
                # the table's feed is already on and THIS commit carries
                # change files — only the reader is in plain mode
                raise ValueError(
                    f"commit v{v} rewrote files or changed deletion "
                    "vectors and carries row-level change files — "
                    "restart the stream with change_feed=true to "
                    "consume the rewrite as CDC rows"
                )
            raise ValueError(
                f"commit v{v} rewrote files or changed deletion "
                "vectors — "
                + (
                    "enable the change-data feed "
                    "(append_files(enable_cdf=True)) before rewrites "
                    "to stream across them"
                    if not self._cdf
                    else "the commit carries no change-data files "
                    "(it predates the table's CDF flag)"
                )
            )
        return [(f, "data") for f in m.get("added", [])]

    def _recover_pos(self) -> tuple[int, int] | None:
        """Recover the stream's position from Spark's own offset log
        (the ``checkpoint_location`` option names it — wired by
        ``start_lake_changes_stream``): the highest planned batch's
        offset for this source.  A fresh checkpoint == the initial
        offset.  Without the hint the position is unknowable here and
        the caller falls back to an unbounded first batch."""
        ck = self._options.get("checkpoint_location")
        if not ck:
            return None
        odir = os.path.join(local_path(ck), "offsets")
        if not os.path.isdir(odir):
            return (self._start, 0)  # fresh checkpoint → initialOffset
        batches = sorted(
            (int(n) for n in os.listdir(odir) if n.isdigit()),
            reverse=True,
        )
        if not batches:
            # Spark pre-creates the (empty) offsets dir before the
            # first latestOffset call — no batch was ever planned, so
            # this is still the genuinely-fresh case and the budget
            # must apply from the FIRST trigger
            return (self._start, 0)
        for b in batches:
            off = None
            try:
                with open(os.path.join(odir, str(b))) as f:
                    lines = [ln.strip() for ln in f if ln.strip()]
                # offset-log format: "v1", the batch metadata JSON,
                # then one serialized offset per source
                for ln in lines[2:]:
                    got = json.loads(ln)
                    if isinstance(got, str):
                        got = json.loads(got)
                    if isinstance(got, dict) and "version" in got:
                        off = got
                        break
            except Exception:
                continue
            if off is not None:
                # outside the try: an offset in a dropped shape must
                # raise, not read as a corrupt file
                return _norm_pos(off)
        # batch offset files EXIST but none parsed (corrupt/in-flight
        # file, or a checkpoint_location that isn't this query's real
        # checkpoint): the stream's true position is unknown but
        # almost certainly AHEAD of the initial offset — returning
        # (start, 0) here would emit a latestOffset BEHIND the
        # checkpointed position and re-serve consumed commits as
        # duplicates under new batch ids.  None = the documented
        # regression-safe unbounded-first-batch fallback; (start, 0)
        # is reserved for the fresh no-dir / planned-nothing cases
        # above.
        return None

    # -- offsets ----------------------------------------------------------
    def initialOffset(self) -> dict:
        self._pos = (self._start, 0)
        return _emit_pos(self._pos)

    def latestOffset(self) -> dict:
        committed = committed_versions(self._mdir)
        pos = self._pos
        if pos is None:
            pos = self._recover_pos()
        if pos is None:
            # position unknown (reader attached to an existing
            # checkpoint without the checkpoint_location hint): the
            # only regression-safe end is the head — returning a
            # bounded guess BEHIND the checkpointed offset would plan
            # a backwards batch and re-serve consumed commits.  The
            # first batch is unbounded; every later one is budgeted.
            head = committed[-1] if committed else self._start - 1
            self._pos = (max(head, self._start - 1) + 1, 0)
            return _emit_pos(self._pos)
        cs = set(committed)
        head_pos = (
            (committed[-1] + 1, 0) if committed else (self._start, 0)
        )
        if self._max_files <= 0 and self._max_bytes <= 0:
            end = max(pos, head_pos)
            self._pos = end
            return _emit_pos(end)
        if pos < head_pos and pos[0] not in cs:
            # the resume point itself fell out of retention — return
            # the head so partitions() raises the actionable
            # raise-keep_versions error instead of silently stalling
            self._pos = head_pos
            return _emit_pos(head_pos)
        v, consumed = pos
        nf = nb = 0
        while (v, consumed) < head_pos and v in cs:
            files = self._commit_files(v)
            for i in range(consumed, len(files)):
                size = file_size(files[i][0]) if self._max_bytes > 0 else 0
                over = (
                    self._max_files > 0 and nf + 1 > self._max_files
                ) or (self._max_bytes > 0 and nb + size > self._max_bytes)
                if over and nf > 0:  # always admit at least one file
                    self._pos = (v, i)
                    return _emit_pos(self._pos)
                nf += 1
                nb += size
                consumed = i + 1
            v, consumed = v + 1, 0  # commit fully admitted
            if (self._max_files > 0 and nf >= self._max_files) or (
                self._max_bytes > 0 and nb >= self._max_bytes
            ):
                break
        end = max((v, consumed), pos)
        self._pos = end
        return _emit_pos(end)

    def commit(self, end: dict) -> None:  # log retention is the knob
        p = _norm_pos(end)
        if self._pos is None or p > self._pos:
            self._pos = p

    # -- planning ----------------------------------------------------------
    def partitions(
        self, start: dict, end: dict
    ) -> Sequence[LakeChangesPartition]:
        s, e = _norm_pos(start), _norm_pos(end)
        if self._pos is None or e > self._pos:
            # restart replay: Spark re-plans the logged batch before
            # any latestOffset call — prime the position from it
            self._pos = e
        committed = set(committed_versions(self._mdir))
        parts: list[LakeChangesPartition] = []
        v, skip = s
        while (v, skip) < e:
            if v not in committed:
                raise ValueError(
                    f"commit v{v} is no longer retained at {self._mdir} — "
                    "raise keep_versions on the table's writers to hold "
                    "the stream's replay window"
                )
            files = self._commit_files(v)
            hi = e[1] if v == e[0] else len(files)
            for f, kind in files[skip:hi]:
                parts.append(LakeChangesPartition(f, kind, v))
            v, skip = v + 1, 0
        return parts

    # -- execution ---------------------------------------------------------
    def read(self, partition: LakeChangesPartition) -> Iterator:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self._schema)
        table = pq.read_table(partition.file)
        cols = []
        n = table.num_rows
        have = {f.lower(): i for i, f in enumerate(table.column_names)}
        pcols = {c for c in self._pcols.split(",") if c}
        fields = {f.name: f for f in self._schema.fields}
        for field in target:
            name = field.name
            # column mapping (rename/drop DDL): files store PHYSICAL
            # names; the committed schema's field metadata maps logical
            # -> phys (identity for unmapped tables)
            phys = (fields[name].metadata or {}).get("lake.phys", name)
            if name == "_change_type" and partition.kind == "data":
                cols.append(pa.array(["insert"] * n, type=field.type))
            elif name == "_commit_version" and partition.kind == "data":
                cols.append(
                    pa.array([partition.version] * n, type=field.type)
                )
            elif phys.lower() in have:
                cols.append(
                    table.column(have[phys.lower()]).cast(field.type)
                )
            elif name in pcols:
                # hive dir values are strings; decode per the declared
                # type (bool and date partitions must not reach
                # pa.array as str)
                py = py_cast(
                    dir_value(partition.file, name), fields[name].dataType
                )
                cols.append(pa.array([py] * n, type=field.type))
            else:  # add-only evolution: older files NULL-fill
                cols.append(pa.nulls(n, type=field.type))
        out = pa.table(cols, schema=target)
        yield from out.to_batches(max_chunksize=1 << 16)


class LakeChangesDataSource(DataSource):
    """``spark.readStream.format("lake_changes").option("path", tbl)``
    — options: ``path`` (the table; its log is
    ``lake_log.manifest_dir(path)``), ``starting_version`` (default 0 =
    from table creation), ``change_feed`` (serve row-level CDC with
    ``_change_type`` / ``_commit_version``), ``partition_cols`` (comma
    list; defaults to the commit marker's stamp)."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> T.StructType:
        mdir = manifest_dir(self.options["path"])
        vs = committed_versions(mdir)
        if not vs:
            raise ValueError(
                f"no committed snapshot at {mdir} — create the table "
                "with append_files first"
            )
        m = commit_info(mdir, vs[-1])
        # protocol gate: refuse to stream a table whose stamped feature
        # level exceeds this build's (lazy import — this module must
        # stay importable on executors without the sinks module loaded)
        from ..sinks import _check_protocol

        _check_protocol(m, "read", f"lake_changes stream over {mdir}")
        sj = m.get("schema")
        if sj is None:
            raise ValueError(
                f"the snapshot at {mdir} carries no schema stamp — "
                "commit once through append_files/merge_into first"
            )
        schema = T.StructType.fromJson(sj)
        if str(self.options.get("change_feed", "false")).lower() == "true":
            schema = cdf_schema(schema)
        return schema

    def streamReader(self, schema: T.StructType) -> LakeChangesStreamReader:
        opts = dict(self.options)
        if "partition_cols" not in opts:
            mdir = manifest_dir(opts["path"])
            vs = committed_versions(mdir)
            pby = commit_info(mdir, vs[-1]).get("partition_by") if vs else None
            opts["partition_cols"] = ",".join(pby or [])
        return LakeChangesStreamReader(schema, opts)


def lake_changes_stream(
    spark: SparkSession,
    path: str,
    change_feed: bool = False,
    starting_version: int = 0,
    starting_timestamp: float | None = None,
    max_files_per_trigger: int = 1000,
    max_bytes_per_trigger: int | None = None,
    checkpoint_location: str | None = None,
) -> DataFrame:
    """A streaming DataFrame over the table's commit log (see module
    docstring).  Registers the data source once per session.
    ``starting_timestamp`` (epoch seconds — Delta's startingTimestamp
    stream option) resolves on the driver to the snapshot current at
    that instant and streams the commits strictly AFTER it — the same
    contract as ``table_changes(since_timestamp=…)``; it overrides
    ``starting_version`` and raises if the instant predates the oldest
    retained commit.

    Admission control (Delta's stream-source defaults): each
    micro-batch admits at most ``max_files_per_trigger`` files
    (default 1000; <=0 disables) and, when ``max_bytes_per_trigger``
    is set, stops at the file that would cross the byte budget —
    always at least one file, and an over-budget single commit splits
    across batches on a ``(version, index)`` offset.  A consumer
    catching up after downtime therefore drains the backlog as a
    SEQUENCE of bounded, individually-retryable micro-batches instead
    of one batch the size of the outage.  Pass ``checkpoint_location``
    (the stream's own checkpoint dir — ``start_lake_changes_stream``
    wires it automatically) so the budget applies from the FIRST
    trigger after a restart; without it the reader cannot see the
    checkpointed position before Spark asks for the latest offset, and
    the first catch-up batch is unbounded (later ones are budgeted)."""
    if starting_timestamp is not None:
        from ..sinks import version_at_timestamp

        starting_version = version_at_timestamp(path, starting_timestamp) + 1
    if not getattr(spark, "_lake_changes_registered", False):
        spark.dataSource.register(LakeChangesDataSource)
        spark._lake_changes_registered = True
    reader = (
        spark.readStream.format(FORMAT_NAME)
        .option("path", path)
        .option("starting_version", str(int(starting_version)))
        .option("change_feed", "true" if change_feed else "false")
        .option("max_files_per_trigger", str(int(max_files_per_trigger)))
    )
    if max_bytes_per_trigger is not None:
        reader = reader.option(
            "max_bytes_per_trigger", str(int(max_bytes_per_trigger))
        )
    if checkpoint_location is not None:
        reader = reader.option("checkpoint_location", checkpoint_location)
    return reader.load()


def start_lake_changes_stream(
    spark: SparkSession,
    path: str,
    process,
    checkpoint_dir: str,
    change_feed: bool = False,
    starting_version: int = 0,
    available_now: bool = True,
    starting_timestamp: float | None = None,
    max_files_per_trigger: int = 1000,
    max_bytes_per_trigger: int | None = None,
):
    """Poll the table's retained versions and feed each span to
    ``process(batch_df, batch_id)`` through a checkpointed
    ``foreachBatch`` — the downstream half writes through txn-stamped
    lake commits (``append_files(txn=…)``) and the pipeline is
    exactly-once across restarts: offsets ride the stream checkpoint,
    replays short-circuit on the txn map.  The checkpoint dir doubles
    as the admission-control position hint, so a catch-up after
    downtime is budgeted from the first trigger (see
    ``lake_changes_stream``); note ``availableNow`` runs stop at the
    offset captured when the run STARTS — under a budget that is one
    bounded batch per run, and a backlog drains across successive
    runs (or a processing-time trigger)."""
    stream = lake_changes_stream(
        spark,
        path,
        change_feed=change_feed,
        starting_version=starting_version,
        starting_timestamp=starting_timestamp,
        max_files_per_trigger=max_files_per_trigger,
        max_bytes_per_trigger=max_bytes_per_trigger,
        checkpoint_location=checkpoint_dir,
    )
    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
