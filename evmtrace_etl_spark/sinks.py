"""Sink tier (S7/S8, D4/D5): idempotent upserts mirroring the reference's
batch `INSERT … ON CONFLICT` dumper (src/dumper/postgres.rs:41-92,
src/dumper/postgres/insert_tree.rs:16-31; conflict policies from
src/types/etl_result.rs:159, 216, 269-281 — transactions/contracts DO
NOTHING, blocks DO UPDATE all columns).

Three implementations behind one ``upsert(df, table, keys, mode)``
protocol, plus the snapshot-transactional lake tier (R19/R20 — see the
snapshot-commit section mid-file: ``_commit_manifest`` / ``_txn_rewrite``
/ ``append_files`` / ``merge_into`` / ``read_table`` / ``table_changes``):

- ``LakeUpsertSink`` — the UNIFIED path (r10): keyed upserts as
  ``merge_into`` snapshot transactions through the same manifest log
  the streaming appends, compaction, deletes and updates commit
  through — one commit protocol for the whole storage tier, with
  snapshot isolation, add-only schema evolution, time travel and
  optimistic concurrency.  Per-batch cost is O(manifest-pruned
  candidate files + batch).  The only parquet upsert sink.
- ``DbApiUpsertSink`` — generates the reference's multi-row
  ``INSERT … ON CONFLICT`` against any DB-API connection, collecting the
  micro-batch to the driver like the reference's bounded dumper buffer
  (flush ≤ 100k rows, src/main.rs:99-121).  Test/oracle variant.
- ``DbApiPartitionUpsertSink`` — the scale variant of the same SQL:
  ``foreachPartition`` opens one connection PER EXECUTOR PARTITION and
  streams batched ``executemany`` calls — no driver materialization,
  write bandwidth scales with the cluster.

Both DB-API sinks derive the placeholder from the driver's paramstyle
(sqlite ``qmark`` '?', psycopg2 ``format`` '%s') and run executemany via
a cursor, which is the portable DB-API surface.  The generated
``ON CONFLICT`` SQL is dialect-verified on TWO engines: sqlite and
DuckDB (whose conflict clause follows Postgres semantics —
``tests/test_streaming.py::test_dbapi_sink_on_conflict_duckdb_dialect``
runs the sink against it unmodified).

Cross-batch dedup (S8/D4, the reference's Redis GET/MSET cache) falls
out of insert-if-absent: a key inserted by batch N is silently skipped
in batch N+1, no side cache needed — Spark's checkpointing plus an
idempotent sink replaces offset bookkeeping (T3).
"""

from __future__ import annotations

import json
import os
import re
import time
from collections.abc import Callable, Iterable, Sequence

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: DB-API paramstyle → positional placeholder token
_PARAM_TOKENS = {"qmark": "?", "format": "%s", "pyformat": "%s"}


def _denulled(dt: T.DataType) -> T.DataType:
    """``dt`` with nullability recursively normalized — micro-batches of
    the same logical schema legitimately disagree on containsNull/
    nullable (a batch whose arrays happened to be fully populated infers
    non-null elements), and union handles the widening; only the VALUE
    type is an evolution conflict."""
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_denulled(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_denulled(dt.keyType), _denulled(dt.valueType), True)
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _denulled(f.dataType), True)
                for f in dt.fields
            ]
        )
    return dt


class LakeUpsertSink:
    """The keyed parquet upsert sink (``upsert``/``read``) on the
    SNAPSHOT LOG — one commit protocol for the whole storage tier: keyed
    upserts land as ``merge_into`` transactions through the same
    manifest the streaming appends (``append_files``), compaction
    (``compact_table``), deletes and updates commit through, so a
    table gets exactly-once ingest AND keyed merge on one log, plus
    snapshot isolation, time travel and ``SnapshotConflict``/
    ``retry_on_conflict`` concurrency for free.

    Layout: ``<base>/<table>/`` is a plain (optionally hive-
    partitioned) parquet directory with its ``_stats_manifest`` log
    inside — any engine reads the data files; snapshot readers resolve
    the committed file list.  Mirrors the reference's keyed DO NOTHING
    / DO UPDATE sink (src/dumper/postgres.rs:41-92,
    src/types/etl_result.rs:205-281).

    An upsert rewrites only manifest-pruned candidate FILES and never
    touches the rest; directory-derived partition stats in the
    manifest prune candidates to the touched partitions' files, so the
    caller passes no partition hint.  Maintenance goes through the
    table-level calls (``compact_table``, ``vacuum_table``,
    ``maintain_table``) on ``<base>/<table>``.
    """

    def __init__(
        self,
        base_dir: str,
        partition_cols: Sequence[str] = ("chain_id",),
        strategy: str = "copy-on-write",
    ):
        """``strategy`` applies to mode='update' upserts:
        'copy-on-write' (default — Delta's default too) rewrites the
        manifest-pruned candidate files; 'merge-on-read' writes key
        tombstones instead (zero rewrite amplification; reads pay a
        broadcast suppression join until ``materialize_deletes``) —
        the right trade for narrow updates over wide tables."""
        self.base_dir = base_dir
        self.partition_cols = tuple(partition_cols)
        if strategy not in ("copy-on-write", "merge-on-read"):
            raise ValueError(f"unknown upsert strategy {strategy!r}")
        self.strategy = strategy

    def _path(self, table: str) -> str:
        return os.path.join(self.base_dir, table)

    def _exists(self, spark: SparkSession, table: str) -> bool:
        return (
            manifest_version(
                spark, _manifest_dir(self._path(table), None)
            )
            is not None
        )

    def read(self, spark: SparkSession, table: str) -> DataFrame | None:
        """Current table contents in the committed column order
        (``read_table`` moves hive partition columns last), or None
        before the first upsert."""
        if not self._exists(spark, table):
            return None
        path = self._path(table)
        df = read_table(spark, path)
        schema = committed_schema(spark, _manifest_dir(path, None))
        return df if schema is None else df.select(*schema.fieldNames())

    def upsert(
        self,
        df: DataFrame,
        table: str,
        keys: Sequence[str],
        mode: str = "ignore",
    ) -> None:
        """mode='ignore' → insert-if-absent (DO NOTHING, zero file
        rewrites); mode='update' → replace matched rows wholesale (DO
        UPDATE all columns)."""
        if mode not in ("ignore", "update"):  # pragma: no cover
            raise ValueError(f"unknown upsert mode {mode!r}")
        spark = df.sparkSession
        path = self._path(table)
        pcols = [c for c in self.partition_cols if c in df.columns]
        if not self._exists(spark, table):
            # first write: no merge — seed the table + manifest; stats
            # over the partition/key columns footer-friendly types
            stats = [
                c
                for c in list(dict.fromkeys([*pcols, *keys]))
                if not df.schema[c].dataType.typeName().startswith(
                    ("array", "map", "struct")
                )
            ] or list(pcols) or [df.columns[0]]
            append_files(
                spark, df, path, cols=stats, partition_by=pcols or None
            )
            return
        # a batch omitting the table's partition column fails loudly
        # inside merge_into itself (_guard_partition_cols — hoisted to
        # every lake write entry, so the sink needs no duplicate check)
        merge_into(
            spark, df, path, keys=list(keys), mode=mode,
            # insert-if-absent must scan for existence either way;
            # the strategy knob only governs DO-UPDATE rewrites
            strategy=self.strategy if mode == "update" else "copy-on-write",
        )


def _flatten_for_sql(df: DataFrame) -> DataFrame:
    """Serialize array/decimal columns to strings the way the reference
    renders sets into its SQL literals."""
    cols = []
    for f_ in df.schema.fields:
        if f_.dataType.typeName() == "array":
            cols.append(
                F.array_join(
                    F.transform(F.col(f_.name), lambda x: x.cast("string")),
                    ",",
                ).alias(f_.name)
            )
        elif f_.dataType.typeName() == "decimal":
            cols.append(F.col(f_.name).cast("string").alias(f_.name))
        else:
            cols.append(F.col(f_.name))
    return df.select(*cols)


def _upsert_sql(
    table: str,
    columns: Sequence[str],
    keys: Sequence[str],
    mode: str,
    paramstyle: str,
) -> str:
    token = _PARAM_TOKENS[paramstyle]
    cols = ", ".join(columns)
    params = ", ".join([token] * len(columns))
    conflict = ", ".join(keys)
    if mode == "ignore":
        # etl_result.rs:159/216 — ON CONFLICT (…) DO NOTHING
        action = "DO NOTHING"
    else:
        # etl_result.rs:269-281 — DO UPDATE SET every non-key column
        sets = ", ".join(
            f"{c} = excluded.{c}" for c in columns if c not in keys
        )
        action = f"DO UPDATE SET {sets}"
    return (
        f"INSERT INTO {table} ({cols}) VALUES ({params}) "
        f"ON CONFLICT ({conflict}) {action}"
    )


class DbApiUpsertSink:
    """Reference-parity SQL upsert over a DB-API connection factory
    (driver-side collect — the test/oracle variant; use
    ``DbApiPartitionUpsertSink`` when batches outgrow the driver).

    ``paramstyle`` follows the driver module's ``paramstyle`` attribute:
    'qmark' (sqlite3) or 'format'/'pyformat' (psycopg2, MySQLdb).
    """

    def __init__(
        self, connection_factory: Callable, paramstyle: str = "qmark"
    ):
        self._connect = connection_factory
        self.paramstyle = paramstyle

    def upsert(
        self,
        df: DataFrame,
        table: str,
        keys: Sequence[str],
        mode: str = "ignore",
    ) -> None:
        flat = _flatten_for_sql(df)
        rows = [tuple(r) for r in flat.collect()]
        if not rows:
            return
        sql = _upsert_sql(table, flat.columns, keys, mode, self.paramstyle)
        conn = self._connect()
        try:
            cur = conn.cursor()
            try:
                cur.executemany(sql, rows)
            finally:
                cur.close()
            conn.commit()
        finally:
            conn.close()


class DbApiPartitionUpsertSink:
    """Executor-side ``INSERT … ON CONFLICT`` upsert: one DB connection
    per Spark partition, batched ``executemany`` flushes, nothing ever
    materialized on the driver (the Spark-idiomatic JDBC-writer shape).

    ``connection_factory`` must be serializable (it is shipped to the
    executors by cloudpickle) and must open a NEW connection per call —
    e.g. ``lambda: sqlite3.connect(path)`` or
    ``lambda: psycopg2.connect(dsn)``.

    At 1000 executors this holds ≤ one connection per core; cap write
    parallelism with ``max_parallelism`` (coalesce before the write) to
    respect the database's connection/ingest limits.
    """

    def __init__(
        self,
        connection_factory: Callable,
        paramstyle: str = "qmark",
        batch_size: int = 10_000,
        max_parallelism: int | None = None,
    ):
        self._connect = connection_factory
        self.paramstyle = paramstyle
        self.batch_size = batch_size
        self.max_parallelism = max_parallelism

    def upsert(
        self,
        df: DataFrame,
        table: str,
        keys: Sequence[str],
        mode: str = "ignore",
    ) -> None:
        flat = _flatten_for_sql(df)
        if self.max_parallelism:
            flat = flat.coalesce(self.max_parallelism)
        sql = _upsert_sql(table, flat.columns, keys, mode, self.paramstyle)
        factory = self._connect
        batch_size = self.batch_size

        def _write_partition(rows: Iterable) -> None:
            conn = None
            buf: list[tuple] = []
            try:
                for row in rows:
                    if conn is None:
                        conn = factory()  # connect lazily: skip empty parts
                    buf.append(tuple(row))
                    if len(buf) >= batch_size:
                        cur = conn.cursor()
                        cur.executemany(sql, buf)
                        cur.close()
                        buf.clear()
                if conn is not None:
                    if buf:
                        cur = conn.cursor()
                        cur.executemany(sql, buf)
                        cur.close()
                    conn.commit()
            finally:
                if conn is not None:
                    conn.close()

        flat.foreachPartition(_write_partition)


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str = "doc_id",
    n_buckets: int = 16,
    path: str | None = None,
) -> DataFrame:
    """Export as a hash-bucketed, per-bucket-sorted table — the
    co-located-join layout: any later join or aggregate keyed on
    ``key`` reads matching buckets directly and skips its Exchange
    entirely (pinned by ``tests/test_plan_shapes.py`` both as a
    self-join here and as the two-table ``inv_bucketed_revenue``
    fact-to-fact join).

    At 100 TB this is the answer to "we join on this key every day":
    pay the shuffle once at write time, never again at read time.
    ``n_buckets`` is sized like shuffle partitions (each bucket ≈ one
    task's worth); both sides of a recurring join must use the same
    bucket count and key.

    ``path=None`` writes a managed table under the session warehouse;
    an explicit ``path`` registers an external datasource table there
    instead (no warehouse write — the in-memory catalog still carries
    the bucket spec).  Returns the catalog-backed read so callers can
    join it immediately.

    The input is repartitioned onto the bucket key (the same Murmur3
    ``hash(key) % n_buckets`` the bucket spec uses) BEFORE the write,
    so each bucket is written by exactly one task → exactly ONE file
    per bucket (asserted by the plan-shape test).  Without it, each of
    T input tasks emits a file into every bucket it touches —
    T × n_buckets small files at cluster scale, the classic
    bucketed-write trap.  It also keeps each bucket one fully-sorted
    run on disk: Spark's parquet bucketed scan still PLANS a Sort
    before the merge join (observed on 4.1), but sorting pre-sorted
    runs is near-linear and never spills mid-run.  This IS the "pay
    the shuffle once at write time" in the contract above.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    pre = df.repartition(n_buckets, F.col(key))
    writer = pre.write.format("parquet").mode("overwrite")
    if path is not None:
        writer = writer.option("path", path)
    writer.bucketBy(n_buckets, key).sortBy(key).saveAsTable(table)
    return spark.table(table)


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_bytes: int = 128 * 1024 * 1024,
    shuffle: bool = True,
    bloom_cols: Sequence[str] | None = None,
    bloom_ndv: int = 1_000_000,
) -> dict:
    """Small-file compaction: rewrite the parquet dataset at ``src`` into
    ``ceil(total_bytes / target_bytes)`` evenly sized files at ``dst``.

    The small-files problem is the ingest tail of every 100 TB lake:
    a streaming sink (this repo's ``foreachBatch`` writers included)
    or an over-partitioned job leaves thousands of KB-scale files, and
    every later scan pays one task + one open per file, swamping the
    scheduler and the namenode long before the bytes matter.  The fix
    is periodic compaction to files near the scan's split size
    (``spark.sql.files.maxPartitionBytes``, 128 MB default — matching
    it makes one compacted file ≈ one later scan task).

    ``shuffle=True`` (default) round-robin-repartitions, giving evenly
    sized output files at the cost of one full shuffle of the data —
    the right trade for a nightly compactor since the even layout is
    what every later scan amortizes.  ``shuffle=False`` coalesces
    adjacent input splits instead: zero shuffle, but output sizes
    inherit input skew — the right trade for a quick re-tile of
    mildly fragmented data.

    Sizing is measured through the Hadoop ``FileSystem`` API (works on
    HDFS/S3A, not just ``file://``), never by collecting data.  Only
    leaf data files count (``_SUCCESS``/checksums excluded).  Returns
    the accounting a compaction ledger needs: files/bytes in, files
    out, and the row count preserved (asserted equal by the tests).

    ``bloom_cols`` installs parquet bloom filters on the listed columns
    during the rewrite (see ``_with_blooms``) — compaction is the
    natural moment to add point-lookup skipping the ingest writers
    didn't.
    """
    files = _leaf_files(spark, src)
    bytes_in = sum(ln for _rel, ln in files)
    n_out = max(1, -(-bytes_in // int(target_bytes)))
    df = spark.read.parquet(src)
    out = df.repartition(n_out) if shuffle else df.coalesce(n_out)
    writer = _with_blooms(
        out.write.mode("overwrite"), bloom_cols, bloom_ndv
    )
    writer.parquet(dst)
    return {
        "files_in": len(files),
        "bytes_in": int(bytes_in),
        "files_out": len(_leaf_files(spark, dst)),
        "n_target_files": int(n_out),
        "target_bytes": int(target_bytes),
    }


def _with_blooms(writer, bloom_cols: Sequence[str] | None, ndv: int):
    """Enable parquet-native bloom filters on ``bloom_cols`` for a
    writer: the skipping mechanism for EQUALITY predicates on
    high-cardinality columns, where min/max stats are useless (a random
    layout's every row group spans the whole value space, so a point
    lookup decodes 100% without them — measured 400k → 28k rows decoded
    with blooms on).  The reader applies them automatically to pushed
    ``=``/``IN`` filters at row-group granularity.  ``ndv`` sizes the
    filter (~1 byte/value at the default 1% fpp)."""
    for c in bloom_cols or ():
        writer = writer.option(
            f"parquet.bloom.filter.enabled#{c}", "true"
        ).option(f"parquet.bloom.filter.expected.ndv#{c}", str(int(ndv)))
    return writer


def _walk_leaf_statuses(
    spark: SparkSession, path: str, attempts: int = 5
) -> list[tuple[str, str, int]]:
    """(relative path, full URI, bytes) of every leaf file under
    ``path`` via the Hadoop ``FileSystem`` recursive listing, with
    hidden subtrees (``_``/``.``-prefixed segments) excluded — the
    same rule Spark's own file index applies.

    The ``RemoteIterator`` walk is NOT atomic: a concurrent actor
    (vacuum sweeping retired files, a compactor replacing fragments —
    the two-actor maintenance shape) can delete a directory between
    the iterator's listing of the parent and its descent, and
    ``hasNext()`` then throws ``FileNotFoundException`` mid-walk.
    That race means the listing observed a half-applied state, so the
    whole walk RESTARTS from scratch (bounded attempts) — vanished
    entries simply don't appear in the consistent re-listing.  Any
    other Java fault re-raises unchanged.

    Two Java shapes observed for the same race: a plain
    ``FileNotFoundException`` (directory removed before descent) and
    ``RuntimeException: ... ls: cannot access ...: No such file or
    directory`` (``RawLocalFileSystem`` shelling out for permissions
    on an entry — e.g. an adjudicated ``_TXN`` marker — deleted
    between listing and stat; hidden-path filtering happens in Python
    AFTER the stat, so even metadata entries race)."""
    from py4j.protocol import Py4JJavaError

    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    root = fs.getFileStatus(p).getPath().toUri().getPath()
    last: Exception | None = None
    for _ in range(attempts):
        try:
            it = fs.listFiles(p, True)
            out: list[tuple[str, str, int]] = []
            while it.hasNext():
                st = it.next()
                full = st.getPath().toUri().getPath()
                rel = full[len(root):].lstrip("/")
                if any(s.startswith(("_", ".")) for s in rel.split("/")):
                    continue
                uri = st.getPath().toString()
                if uri.startswith("file:"):
                    uri = full  # posix path for local files (pyarrow)
                out.append((rel, uri, int(st.getLen())))
            return out
        except Py4JJavaError as e:
            msg = str(e)
            if (
                "FileNotFoundException" not in msg
                and "No such file or directory" not in msg
            ):
                raise
            last = e
            time.sleep(0.02)
    raise last  # type: ignore[misc]  # attempts >= 1 exhausted


def _leaf_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(relative path, bytes) of every leaf DATA file under ``path``,
    via the Hadoop ``FileSystem`` API (HDFS/S3A-portable, no driver
    data collection); ``_SUCCESS``/checksum/hidden files excluded.
    Hidden DIRECTORY subtrees (any ``_``/``.``-prefixed path segment)
    are excluded too — the same rule Spark's own file index applies —
    so metadata dirs like the in-table ``_stats_manifest`` are never
    mistaken for data."""
    return [
        (rel, ln) for rel, _uri, ln in _walk_leaf_statuses(spark, path)
    ]


def compact_partitioned_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    partition_cols: Sequence[str],
    target_bytes: int = 128 * 1024 * 1024,
    seed: int = 42,
) -> dict:
    """Small-file compaction for a HIVE-PARTITIONED dataset, preserving
    the directory layout (and with it every later query's partition
    pruning) while giving each partition its own file budget.

    A global ``repartition`` would destroy the layout, and the naive
    fix — a driver loop compacting one partition per job — schedules
    thousands of tiny jobs at lake scale.  This does it in ONE job:

    1. per-partition byte sizes come from the FS listing (no data
       read), giving each partition a budget
       ``n_i = ceil(bytes_i / target_bytes)``;
    2. the budgets (one row per partition — tiny) broadcast-join onto
       the rows, and a ``floor(rand * n_i)`` salt splits each
       partition into its budget;
    3. one hash repartition on (partition cols, salt) followed by a
       ``partitionBy`` write lands ≈ ``n_i`` files in each directory —
       a 10 GB partition gets ~80 files while a 10 MB one gets 1,
       which no single global file count can express.

    The salt is layout-only (row placement, never values), so the
    ``rand`` is safe; ``seed`` just makes reruns reproducible.  NULL
    partition values (hive default-partition dirs) are not supported.
    Returns the same ledger as ``compact_parquet`` plus the partition
    count.
    """
    from urllib.parse import unquote

    cols = list(partition_cols)
    files = _leaf_files(spark, src)
    bytes_in = sum(ln for _rel, ln in files)
    sizes: dict[tuple, int] = {}
    for rel, ln in files:
        vals: dict[str, str] = {}
        for seg in rel.split("/")[:-1]:
            if "=" in seg:
                k, v = seg.split("=", 1)
                vals[k] = unquote(v)
        key = tuple(vals[c] for c in cols)
        sizes[key] = sizes.get(key, 0) + ln
    budgets = [
        tuple(k) + (max(1, -(-b // int(target_bytes))),)
        for k, b in sizes.items()
    ]
    total = sum(r[-1] for r in budgets) or 1

    df = spark.read.parquet(src)
    schema = T.StructType(
        [T.StructField(c, T.StringType()) for c in cols]
        + [T.StructField("_nf", T.LongType())]
    )
    bud = spark.createDataFrame(budgets, schema)
    for c in cols:
        # partition values were parsed from dir names as strings; cast
        # to the types partition discovery inferred so the join keys hit
        bud = bud.withColumn(c, F.col(c).cast(df.schema[c].dataType))
    salted = (
        df.join(F.broadcast(bud), cols, "left")
        .withColumn(
            "_salt",
            F.floor(
                F.rand(seed) * F.coalesce(F.col("_nf"), F.lit(1))
            ).cast("int"),
        )
        .repartition(int(total), *cols, F.col("_salt"))
        .drop("_nf", "_salt")
    )
    salted.write.mode("overwrite").partitionBy(*cols).parquet(dst)
    return {
        "files_in": len(files),
        "bytes_in": int(bytes_in),
        "files_out": len(_leaf_files(spark, dst)),
        "n_target_files": int(total),
        "n_partitions": len(sizes),
        "target_bytes": int(target_bytes),
    }


def _bucket_from_cuts(key: str, cuts: Sequence[float]) -> F.Column:
    """Bucket-id column for ``key`` from precomputed quantile
    cutpoints: a sum-of-comparisons assignment that stays inside
    whole-stage codegen.  NULLs land in bucket 0 (they sort first,
    matching parquet stats semantics)."""
    d = F.col(key).cast("double")
    inc: list[float] = []
    for c in cuts:  # skewed keys repeat cutpoints; keep strictly rising
        if not inc or c > inc[-1]:
            inc.append(c)
    b = F.lit(0)
    for c in inc:
        b = b + F.when(d >= F.lit(float(c)), 1).otherwise(0)
    return b.cast("int")


def _quantile_cuts(
    df: DataFrame, keys: Sequence[str], n_buckets: int, rel_err: float
) -> list[list[float]]:
    """Approx-quantile cutpoints for ALL ``keys`` in ONE pass over the
    data (multi-column ``approxQuantile`` — at 100 TB a per-key job
    would re-scan the input k times).  The driver holds only
    k * (n_buckets-1) cutpoints — a bounded collect, same budget class
    as the IVF codebooks.  Quantile (not min/max) normalization is what
    makes the z-value skew-proof: a heavy-tailed key still spreads
    uniformly over its bucket range."""
    cols = [f"_q{i}" for i in range(len(keys))]
    probe = df.select(
        *(F.col(k).cast("double").alias(c) for k, c in zip(keys, cols))
    )
    return probe.stat.approxQuantile(
        cols, [i / n_buckets for i in range(1, n_buckets)], rel_err
    )


def _quantile_bucket(
    df: DataFrame, key: str, n_buckets: int, rel_err: float
) -> F.Column:
    """Rank-normalized bucket id (0..n_buckets-1) for a single ``key``
    (one-pass cutpoints + codegen bucket assignment; see
    ``_quantile_cuts`` / ``_bucket_from_cuts``)."""
    return _bucket_from_cuts(
        key, _quantile_cuts(df, [key], n_buckets, rel_err)[0]
    )


def _morton(bucket_cols: Sequence[F.Column], bits: int) -> F.Column:
    """Morton (z-order) interleave of per-key bucket ids: bit ``i`` of
    key ``j`` lands at position ``i*k + j``, so a range on ANY key maps
    to a bounded set of z-ranges — the property multi-column data
    skipping rides on."""
    k = len(bucket_cols)
    z = F.lit(0).cast("long")
    for bit in range(bits):
        for j, bc in enumerate(bucket_cols):
            # earlier keys take the higher bit of each interleave group:
            # ties in locality break toward keys[0], the most-queried key
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(bc.cast("long"), bit).bitwiseAND(F.lit(1)),
                    bit * k + (k - 1 - j),
                )
            )
    return z


def cluster_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    keys: Sequence[str],
    target_bytes: int = 128 * 1024 * 1024,
    zorder: bool = False,
    n_buckets: int = 16,
    rel_err: float = 0.001,
    bloom_cols: Sequence[str] | None = None,
    bloom_ndv: int = 1_000_000,
) -> dict:
    """Rewrite the parquet dataset at ``src`` CLUSTERED on ``keys`` so
    later range predicates skip whole row groups off footer min/max
    stats — the data-layout half of predicate pushdown.  Pushdown alone
    only helps if matching rows are physically co-located: on a
    randomly-laid-out 100 TB table every row group spans the full key
    range and a 0.1%-selective scan still reads 100 TB; after
    clustering it reads ~0.1%.

    Two layouts:

    - ``zorder=False`` (default) — lexicographic: ``repartitionByRange``
      on the keys + an intra-partition sort.  Total order on the
      LEADING key: best possible skipping there, none on the others
      (demonstrated by the tests).
    - ``zorder=True`` — each key is rank-normalized into
      ``n_buckets`` quantile buckets (skew-proof by construction) and
      the bucket ids are Morton-interleaved; range-partition + sort on
      the z-value gives every key partial locality, so predicates on
      ANY clustered key skip a large fraction of row groups — the
      right layout when no single column dominates the workload.

    Both paths are one shuffle (the range partitioner samples, then
    each output file is one task's sorted run) — the same
    pay-once-at-write economics as ``write_bucketed``, tuned for range
    scans instead of equi-joins.  Known input-pass budget, same trade
    Delta's OPTIMIZE ZORDER makes: the z-order path reads the input
    2+1 times — ONE key-column-pruned quantile probe for ALL keys
    (``_quantile_cuts``; pinned single-job by
    ``tests/test_clustering.py``), the range partitioner's sample scan
    (not eliminable in the DataFrame API without giving up balanced
    contiguous output ranges — a hash ``repartition`` on a computed
    slab id leaves ~1/e of partitions empty and stacks disjoint
    z-slabs per file, widening every footer span), and the shuffle
    write itself.  File count follows measured input
    bytes / ``target_bytes`` (Hadoop FS API, HDFS/S3A-portable).
    Values are untouched — layout only — which is what the registered
    round-trip query's oracle checks (`inv_clustered_events_value`).
    Returns the compaction-style ledger plus the clustering spec.

    ``bloom_cols`` adds parquet bloom filters on OTHER columns during
    the same rewrite: the clustered keys get range skipping from the
    layout; blooms cover equality lookups on high-cardinality columns
    the sort can't help (see ``_with_blooms``).
    """
    keys = list(keys)
    files = _leaf_files(spark, src)
    bytes_in = sum(ln for _rel, ln in files)
    n_out = max(1, -(-bytes_in // int(target_bytes)))
    df = spark.read.parquet(src)
    if zorder:
        bits = max(1, (int(n_buckets) - 1).bit_length())
        all_cuts = _quantile_cuts(df, keys, int(n_buckets), rel_err)
        z = _morton(
            [_bucket_from_cuts(k, c) for k, c in zip(keys, all_cuts)],
            bits,
        )
        out = (
            df.withColumn("_z", z)
            .repartitionByRange(int(n_out), "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
        )
    else:
        out = df.repartitionByRange(int(n_out), *keys).sortWithinPartitions(
            *keys
        )
    _with_blooms(out.write.mode("overwrite"), bloom_cols, bloom_ndv).parquet(
        dst
    )
    return {
        "files_in": len(files),
        "bytes_in": int(bytes_in),
        "files_out": len(_leaf_files(spark, dst)),
        "n_target_files": int(n_out),
        "target_bytes": int(target_bytes),
        "keys": keys,
        "zorder": bool(zorder),
        "n_buckets": int(n_buckets) if zorder else None,
    }


# ---------------------------------------------------------------------------
# File-skipping stats index (the manifest half of a lakehouse format)
# ---------------------------------------------------------------------------

def _leaf_file_uris(spark: SparkSession, path: str) -> list[str]:
    """Full Hadoop URIs of every leaf data file under ``path`` so
    executors resolve the same file the driver listed (hdfs://nn/...;
    s3a://...); local file: URIs normalize to posix paths for
    pyarrow.  Hidden directory subtrees (``_``/``.``-prefixed path
    segments — e.g. the in-table ``_stats_manifest``) are skipped,
    matching Spark's own listing semantics."""
    return [uri for _rel, uri, _ln in _walk_leaf_statuses(spark, path)]


def parquet_stats_index(
    spark: SparkSession,
    path: str,
    cols: Sequence[str],
    paths: Sequence[str] | None = None,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Per-FILE min/max/row-count index for ``cols``, read from parquet
    FOOTERS only — the manifest a Delta/Iceberg-style table format
    maintains, rebuilt here from the files themselves.  Row-group
    pruning (``cluster_parquet``) saves decode work *inside* files the
    scan already opened; file-level pruning removes files from the scan
    plan entirely — at 100 TB / millions of files that is the
    difference between a planner that touches every footer per query
    and one that filters a manifest table.

    Cost model: O(files) footer reads, zero data reads — the file list
    comes from the Hadoop FS API (driver, metadata-only) and the footer
    parsing is DISTRIBUTED (``mapInPandas`` over the path list with
    pyarrow on the executors), so indexing a million-file table is an
    embarrassingly parallel metadata job, not a scan.  Missing stats
    (a writer that skipped them) surface as NULL min/max, which the
    pruner treats as "may match" — conservative, never wrong.

    Output: ``file`` (absolute), ``n_rows``, and ``<c>_min``/``<c>_max``
    typed as the source column for each requested col.  Persist it next
    to the data and serve pruned reads via ``read_file_pruned``;
    maintain it incrementally with ``update_stats_index``.  ``paths``
    restricts the build to an explicit file list (the incremental
    path's delta).

    Directory-encoded (hive) partition columns never appear in file
    footers, so their "stats" are derived from the directory values
    instead (``min == max ==`` the file's partition value) — which
    makes the manifest prune on partition predicates too, the same
    file-level partition pruning a directory listing gives a planner,
    but served from the manifest table.
    """
    import pandas as pd
    from urllib.parse import unquote

    # an explicit (committed) schema carries the logical->physical
    # column mapping; without one the footers' names ARE the logical
    # names (pre-mapping tables)
    src_schema = schema if schema is not None else spark.read.parquet(path).schema
    by_name = {f.name: f for f in src_schema.fields}
    missing = [c for c in cols if c not in by_name]
    if missing:
        raise ValueError(f"columns not in {path}: {missing}")
    phys_map = {c: _field_phys(by_name[c]) for c in cols}
    # hive partition columns: in the read schema but not in footers —
    # their stats come from the directory encoding, parsed per file
    dir_cols = set()
    for rel, _ln in _leaf_files(spark, path):
        for seg in rel.split("/")[:-1]:
            if "=" in seg:
                dir_cols.add(seg.split("=", 1)[0])
    part_cols = [c for c in cols if c in dir_cols]
    fields = [
        T.StructField("file", T.StringType()),
        T.StructField("n_rows", T.LongType()),
    ]
    for c in cols:
        # partition values parse as strings; cast to the source type after
        dt = T.StringType() if c in part_cols else by_name[c].dataType
        fields.append(T.StructField(f"{c}_min", dt))
        fields.append(T.StructField(f"{c}_max", dt))
    out_schema = T.StructType(fields)

    if paths is None:
        paths = _leaf_file_uris(spark, path)
    paths = list(paths)
    cols_list = list(cols)
    part_set = set(part_cols)

    def _read_footers(batches):
        import pyarrow.parquet as pq

        def _meta(fpath):
            if "://" in fpath:  # HDFS/S3A URI — open via pyarrow fs
                from pyarrow import fs as pafs

                filesystem, rel = pafs.FileSystem.from_uri(fpath)
                with filesystem.open_input_file(rel) as f:
                    return pq.ParquetFile(f).metadata
            return pq.ParquetFile(fpath).metadata

        def _dir_value(fpath, c):
            for seg in fpath.split("/")[:-1]:
                if seg.startswith(c + "="):
                    v = unquote(seg[len(c) + 1:])
                    return None if v == "__HIVE_DEFAULT_PARTITION__" else v
            return None

        for pdf in batches:
            rows = []
            for fpath in pdf["path"]:
                md = _meta(fpath)
                idx = {
                    md.schema.column(i).name: i
                    for i in range(md.num_columns)
                }
                rec: dict = {"file": fpath, "n_rows": md.num_rows}
                for c in cols_list:
                    if c in part_set:
                        v = _dir_value(fpath, c)
                        rec[f"{c}_min"] = v
                        rec[f"{c}_max"] = v
                        continue
                    pc = phys_map[c]
                    if pc not in idx:  # pre-evolution file: no stats
                        rec[f"{c}_min"] = rec[f"{c}_max"] = None
                        continue
                    lo, hi = _footer_col_span(md, idx[pc])
                    rec[f"{c}_min"] = lo
                    rec[f"{c}_max"] = hi
                rows.append(rec)
            yield pd.DataFrame(
                rows, columns=[f.name for f in out_schema.fields]
            )

    files_df = spark.createDataFrame([(p,) for p in paths], "path string")
    n_part = max(1, min(len(paths), spark.sparkContext.defaultParallelism))
    out = files_df.repartition(n_part).mapInPandas(
        _read_footers, schema=out_schema
    )
    for c in part_cols:
        dt = by_name[c].dataType
        out = out.withColumn(f"{c}_min", F.col(f"{c}_min").cast(dt))
        out = out.withColumn(f"{c}_max", F.col(f"{c}_max").cast(dt))
    return out


def _footer_col_span(md, col_idx: int) -> tuple:
    """One column's [min, max] across a parquet file's row groups from
    footer statistics — (None, None) when ANY group lacks usable stats
    (one stats-less group poisons the file: NULL stats mean "may
    match", conservative, never wrong; pyarrow also cannot extract
    stats for some physical types, e.g. decimals).  Shared by the
    distributed builder and the driver-side O(batch) twin so stats
    semantics can never diverge between them."""
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(col_idx).statistics
        try:
            ok = st is not None and st.has_min_max
            smin = st.min if ok else None
            smax = st.max if ok else None
        except Exception:
            ok = False
        if not ok:
            return None, None
        lo = smin if lo is None else min(lo, smin)
        hi = smax if hi is None else max(hi, smax)
    return lo, hi


def _py_cast(v, dt: T.DataType):
    """A directory-encoded partition value (string) as the Python value
    matching the source column type — the driver-side twin of the
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
        import datetime

        return datetime.date.fromisoformat(str(v))
    return v  # strings (and anything hive encodes as one)


def _local_stats_rows(
    paths: Sequence[str],
    cols: Sequence[str],
    source_schema: T.StructType,
    pcols: Sequence[str],
) -> tuple[list[dict], T.StructType]:
    """Driver-side twin of ``parquet_stats_index`` for BATCH-sized file
    lists: read the handful of footers with pyarrow right here and
    return (rows, stats schema) — zero Spark jobs.  A streaming commit
    adds a few files per trigger; launching a distributed metadata job
    (fixed ~0.5 s scheduling floor per job on any cluster) to read five
    footers is pure overhead, which is exactly why Delta computes its
    add-action stats inside the write tasks.  The distributed builder
    remains the path for table-scale rebuilds."""
    from urllib.parse import unquote

    import pyarrow.parquet as pq

    by_name = {f.name: f for f in source_schema.fields}
    missing = [c for c in cols if c not in by_name]
    if missing:
        raise ValueError(f"stats columns not in table schema: {missing}")
    part_set = {c for c in cols if c in set(pcols)}
    fields = [
        T.StructField("file", T.StringType()),
        T.StructField("n_rows", T.LongType()),
    ]
    for c in cols:
        fields.append(T.StructField(f"{c}_min", by_name[c].dataType))
        fields.append(T.StructField(f"{c}_max", by_name[c].dataType))
    out_schema = T.StructType(fields)

    def _meta(fpath):
        if "://" in fpath:  # HDFS/S3A URI — open via pyarrow fs
            from pyarrow import fs as pafs

            filesystem, rel = pafs.FileSystem.from_uri(fpath)
            with filesystem.open_input_file(rel) as f:
                return pq.ParquetFile(f).metadata
        return pq.ParquetFile(fpath).metadata

    def _dir_value(fpath, c):
        for seg in fpath.split("/")[:-1]:
            if seg.startswith(c + "="):
                v = unquote(seg[len(c) + 1:])
                return None if v == "__HIVE_DEFAULT_PARTITION__" else v
        return None

    # mapped tables: footers store PHYSICAL names; stats stay LOGICAL
    phys = {c: _field_phys(by_name[c]) for c in cols}
    rows: list[dict] = []
    for fpath in paths:
        md = _meta(fpath)
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        rec: dict = {"file": fpath, "n_rows": md.num_rows}
        for c in cols:
            if c in part_set:
                v = _py_cast(_dir_value(fpath, c), by_name[c].dataType)
                rec[f"{c}_min"] = v
                rec[f"{c}_max"] = v
                continue
            if phys[c] not in idx:  # pre-evolution file: no stats
                rec[f"{c}_min"] = rec[f"{c}_max"] = None
                continue
            lo, hi = _footer_col_span(md, idx[phys[c]])
            rec[f"{c}_min"] = lo
            rec[f"{c}_max"] = hi
        rows.append(rec)
    return rows, out_schema


#: Batches at or under this many files take the driver-side stats path
#: (``_local_stats_rows``); larger sets go distributed.
_LOCAL_STATS_MAX = 64


def _write_parquet_local(
    spark: SparkSession,
    rows: list[dict],
    schema: T.StructType,
    dirpath: str,
) -> None:
    """Write ``rows`` as ONE parquet file under ``dirpath`` with pyarrow
    on the driver — the O(batch) manifest delta is a few rows, and a
    distributed write would pay a full Spark job's scheduling floor to
    emit them.  Types follow the Spark schema exactly (arrow-converted),
    so Spark reads the file back under the same types the distributed
    writer would have produced."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_pylist(list(rows), schema=arrow_schema)
    jvm, hp, fs = _fs_for(spark, dirpath)
    fs.mkdirs(hp(dirpath))
    target = dirpath.rstrip("/") + "/part-00000-delta.parquet"
    if "://" in target:
        from pyarrow import fs as pafs

        filesystem, rel = pafs.FileSystem.from_uri(target)
        with filesystem.open_output_stream(rel) as f:
            pq.write_table(table, f)
    else:
        pq.write_table(table, target)


def _pred_parts(
    predicates: dict | None,
) -> tuple[dict[str, tuple], "F.Column"]:
    """Split a predicate dict into (a) normalized closed ranges for
    manifest pruning and (b) the exact row-level condition.  Values may
    be 2-tuples ``(lo, hi)`` (closed range) or scalars (equality — kept
    as ``==`` in the row condition so parquet dictionary/bloom skipping
    engages on the pushed Eq filter, which a ``BETWEEN`` rewrite would
    forfeit)."""
    ranges: dict[str, tuple] = {}
    cond = F.lit(True)
    for c, v in (predicates or {}).items():
        if isinstance(v, tuple) and len(v) == 2:
            ranges[c] = v
            cond = cond & F.col(c).between(F.lit(v[0]), F.lit(v[1]))
        else:
            ranges[c] = (v, v)
            cond = cond & (F.col(c) == F.lit(v))
    return ranges, cond


def _prune_cond(index: DataFrame, predicates: dict[str, tuple]) -> "F.Column":
    """The manifest-row match condition for ``prune_files``: a file
    survives when its [min, max] span overlaps EVERY ``col: (lo, hi)``
    closed-range predicate (NULL stats keep the file — conservative;
    predicates on columns the index carries no stats for are skipped —
    every file "may match" and the row-level filter applies them
    exactly)."""
    cond = F.lit(True)
    for c, (lo, hi) in _pred_parts(predicates)[0].items():
        if f"{c}_min" not in index.columns:
            continue  # unindexed column: prune conservatively
        cond = (
            cond
            & (F.col(f"{c}_max").isNull() | (F.col(f"{c}_max") >= F.lit(lo)))
            & (F.col(f"{c}_min").isNull() | (F.col(f"{c}_min") <= F.lit(hi)))
        )
    return cond


def prune_files(
    index: DataFrame, predicates: dict[str, tuple]
) -> list[str]:
    """File paths whose [min, max] spans overlap EVERY ``col: (lo, hi)``
    closed-range predicate (scalars mean equality; NULL stats keep the
    file — conservative).  Predicates on columns the index carries no
    stats for are skipped here (every file "may match" — the row-level
    filter still applies them exactly).  The collect is O(matching
    files) driver memory — the filter runs distributed and only the
    surviving file paths reach the driver, the same object a scan
    planner must hold to enumerate its splits; row data never moves."""
    return [
        r["file"]
        for r in index.filter(_prune_cond(index, predicates))
        .select("file")
        .collect()
    ]


def _prune_files_with_total(
    index: DataFrame, predicates: dict[str, tuple]
) -> tuple[list[str], int]:
    """``prune_files`` plus the manifest's total file count from the
    SAME job — writers that ledger files_total fuse the two into one
    aggregate instead of a count plus a filtered collect.  Driver
    memory stays O(matching files): non-matching rows contribute only
    to the count (``collect_list`` drops the NULLs the unmatched
    branch produces)."""
    cond = _prune_cond(index, predicates)
    agg = index.agg(
        F.count(F.lit(1)).alias("_total"),
        F.sort_array(
            F.collect_list(F.when(cond, F.col("file")))
        ).alias("_matches"),
    ).collect()[0]
    return list(agg["_matches"]), int(agg["_total"])


def read_file_pruned(
    spark: SparkSession,
    path: str,
    index: DataFrame,
    predicates: dict[str, tuple],
) -> DataFrame:
    """Read ``path`` with files pruned through the stats ``index``: only
    files whose footer spans can match the predicates enter the scan
    plan.  The row-level filter is applied ON TOP (file granularity is
    coarser than the predicate), so the result equals the unpruned
    filtered read — tested file-count-down, result-identical.  Zero
    matching files short-circuits to an empty DataFrame with the source
    schema."""
    schema = spark.read.parquet(path).schema
    files = prune_files(index, predicates)
    if not files:
        out = spark.createDataFrame([], schema)
    else:
        # basePath keeps directory-encoded (hive) partition values when
        # reading an explicit file list — without it a partitioned
        # dataset's partition columns would silently read back NULL
        out = (
            spark.read.option("basePath", path)
            .schema(schema)
            .parquet(*files)
        )
    return out.filter(_pred_parts(predicates)[1])


# ---------------------------------------------------------------------------
# Snapshot-versioned manifest commits (Delta-log-lite).
#
# Layout::
#
#     <manifest>/v<N>/part-*.parquet   DELTA: stats rows for the files THIS
#                                      commit added (O(batch)); CHECKPOINT:
#                                      the full reconstructed manifest
#     <manifest>/v<N>/_COMMIT          atomic commit marker (JSON: version,
#                                      kind delta|checkpoint, base_ckpt,
#                                      added/removed file lists, pending
#                                      sweep backlog, txn map, schema,
#                                      partition columns, cdf flag, active
#                                      deletion vectors, change-data files)
#     <manifest>/_TXN                  intent marker of an in-flight
#                                      rewrite/append (added/removed file
#                                      lists + the version it will commit)
#
# The CURRENT manifest is the highest v<N> with a _COMMIT marker; the
# marker is created by a tmp-write + rename, so "the snapshot advanced"
# is a single atomic filesystem op — the same role Delta's log entry or
# Iceberg's snapshot pointer plays.  Commit COST is O(batch), not
# O(table-files): a normal commit writes only the added files' stats
# rows (its delta parquet) plus the marker; the full manifest is
# materialized as a CHECKPOINT every ``_CHECKPOINT_EVERY`` commits (and
# on maintenance rebuilds), exactly Delta's JSON-actions +
# periodic-parquet-checkpoint shape.  A snapshot reconstructs as
# ``checkpoint ∪ subsequent deltas − subsequent removed lists`` — file
# paths are never reused (uuid part names), so the set algebra is
# order-free.  The manifest version parquet itself is written to a
# hidden temp dir and RENAMED into ``v<N>`` (fail-if-exists), so a
# stale cross-driver writer can never overwrite a winner's committed
# version in place.
#
# Data-file changes are sequenced around the marker: adds land BEFORE
# the commit (invisible — no committed manifest references them),
# physical deletes happen AFTER (the commit records them in its
# ``pending`` backlog, so a crash leaves only orphans that the next
# operation's recovery sweeps, never a reader-visible duplicate or
# lost row).  Readers that go through the snapshot
# (``read_table``/``current_manifest``) therefore always see exactly
# one committed version; plain directory scans of the data dir remain
# bare-parquet eventually-consistent, which is precisely why table
# formats require log-driven reads.  Retention is zero (removed files
# are swept immediately after commit): a reader holding a file list
# across a concurrent delete can hit a vanished file — the knob a real
# deployment adds is a sweep delay, not a different protocol.
# ---------------------------------------------------------------------------

#: Materialize a full manifest checkpoint every N commits — bounds the
#: delta chain a snapshot read reconstructs through (Delta's
#: checkpointInterval; 10 is Delta's default).
_CHECKPOINT_EVERY = 10


def _fs_for(spark: SparkSession, path: str):
    """(jvm, Path class, FileSystem) for ``path`` via the Hadoop API."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hp = jvm.org.apache.hadoop.fs.Path
    return jvm, hp, hp(path).getFileSystem(conf)


def _manifest_dir(path: str, manifest_path: str | None) -> str:
    """Default manifest location: ``_stats_manifest`` INSIDE the table
    dir (hidden to Spark scans and to ``_leaf_files`` alike), making a
    table + its snapshot metadata one self-contained directory."""
    if manifest_path is not None:
        return manifest_path
    return path.rstrip("/") + "/_stats_manifest"


def _committed_versions(spark: SparkSession, manifest_path: str) -> list[int]:
    jvm, hp, fs = _fs_for(spark, manifest_path)
    if not fs.exists(hp(manifest_path)):
        return []
    out = []
    for st in fs.listStatus(hp(manifest_path)):
        name = st.getPath().getName()
        if (
            st.isDirectory()
            and re.fullmatch(r"v\d+", name)
            and fs.exists(hp(st.getPath(), "_COMMIT"))
        ):
            out.append(int(name[1:]))
    return sorted(out)


def manifest_version(spark: SparkSession, manifest_path: str) -> int | None:
    """Highest committed manifest version, or None."""
    vs = _committed_versions(spark, manifest_path)
    return vs[-1] if vs else None


def _read_json_marker(spark: SparkSession, path: str) -> dict:
    jvm, hp, fs = _fs_for(spark, path)
    stream = fs.open(hp(path))
    try:
        data = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    return json.loads(data.decode("utf-8"))


def _write_json_marker(
    spark: SparkSession,
    dirpath: str,
    name: str,
    payload: dict,
    overwrite: bool = True,
) -> None:
    """Atomically create ``<dirpath>/<name>``: write a hidden tmp
    sibling, then rename in — the rename is the single-op commit point
    (atomic on POSIX and HDFS; on S3 a real deployment swaps this for a
    conditional PUT).  ``overwrite=False`` keeps an existing marker in
    place (HDFS rename-to-existing fails, making the commit marker
    first-writer-wins there; the local-FS rename replaces, so the
    version-expectation check in ``_commit_manifest`` is the portable
    guard)."""
    jvm, hp, fs = _fs_for(spark, dirpath)
    fs.mkdirs(hp(dirpath))
    tmp = hp(f"{dirpath}/.{name}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(payload).encode("utf-8")))
    finally:
        out.close()
    final = hp(f"{dirpath}/{name}")
    if overwrite:
        fs.delete(final, False)
    # Hadoop reports rename failure by RETURNING FALSE, not raising —
    # an unchecked result would report a lost commit as success.  With
    # overwrite=False a false return means rename-to-existing lost the
    # first-writer-wins race (HDFS semantics) → SnapshotConflict, the
    # same contract the version-expectation check enforces portably.
    if not fs.rename(tmp, final):
        fs.delete(tmp, False)
        if not overwrite:
            raise SnapshotConflict(
                f"marker {dirpath}/{name} already exists — another "
                "writer committed first; retry from a fresh snapshot"
            )
        raise IOError(f"rename failed writing marker {dirpath}/{name}")


def _flat_manifest_files(spark: SparkSession, manifest_path: str) -> list[str]:
    """Parquet part files sitting directly under ``manifest_path`` — the
    pre-snapshot flat layout, read explicitly (never via directory
    inference, which would trip over v<N> subdirs mid-migration) and
    migrated into v0 by the next commit."""
    jvm, hp, fs = _fs_for(spark, manifest_path)
    if not fs.exists(hp(manifest_path)):
        return []
    out = []
    for st in fs.listStatus(hp(manifest_path)):
        name = st.getPath().getName()
        if st.isFile() and not name.startswith(("_", ".")):
            uri = st.getPath().toString()
            if uri.startswith("file:"):
                uri = st.getPath().toUri().getPath()
            out.append(uri)
    return sorted(out)


def _commit_info(spark: SparkSession, manifest_path: str, version: int) -> dict:
    """The ``_COMMIT`` marker payload of a committed version."""
    return _read_json_marker(spark, f"{manifest_path}/v{version}/_COMMIT")


def _commit_wall_ts(
    spark: SparkSession,
    manifest_path: str,
    version: int,
    marker: dict | None = None,
) -> float:
    """A committed version's wall-clock time (epoch seconds): the
    ``ts`` stamp its ``_COMMIT`` marker carries, falling back to the
    marker FILE's modification time for commits made before the stamp
    existed — the same fallback Delta uses when a log entry predates
    in-commit timestamps."""
    if marker is None:
        marker = _commit_info(spark, manifest_path, version)
    ts = marker.get("ts")
    if ts is not None:
        return float(ts)
    jvm, hp, fs = _fs_for(spark, manifest_path)
    st = fs.getFileStatus(hp(f"{manifest_path}/v{version}/_COMMIT"))
    return st.getModificationTime() / 1000.0


def commit_timestamp(
    spark: SparkSession,
    path: str,
    version: int,
    manifest_path: str | None = None,
) -> float:
    """A committed version's wall-clock time (epoch seconds) from ONE
    marker read — the lightweight inverse of ``version_at_timestamp``
    (``table_history`` reports the same ``ts`` but reconstructs and
    aggregates every retained manifest)."""
    return _commit_wall_ts(
        spark, _manifest_dir(path, manifest_path), version
    )


def version_at_timestamp(
    spark: SparkSession,
    path: str,
    ts: float,
    manifest_path: str | None = None,
) -> int:
    """Resolve ``TIMESTAMP AS OF``: the latest RETAINED committed
    version whose commit time is <= ``ts`` (epoch seconds).  Commit
    times are read as a running max over the retained chain, so a
    legacy un-stamped commit (mtime fallback) can never make the
    mapping non-monotone.  Raises ``ValueError`` when ``ts`` predates
    the oldest retained commit — the snapshot that WAS current then is
    no longer reconstructible, and serving a newer one would silently
    lie.  O(retained versions) marker reads, no data or manifest scan."""
    mdir = _manifest_dir(path, manifest_path)
    versions = _committed_versions(spark, mdir)
    if not versions:
        raise ValueError(f"no committed snapshot at {mdir}")
    cache: dict[int, dict] = {}

    def marker(v: int) -> dict:
        if v not in cache:
            cache[v] = _commit_info(spark, mdir, v)
        return cache[v]

    head = marker(versions[-1])
    retain = bool(head.get("retain"))
    if retain:
        # version dirs BELOW the head's stamped retention floor may
        # survive as checkpoint-chain links, but the sweep has already
        # reclaimed files they removed — resolving to one would serve
        # a snapshot with missing files; refuse instead
        floor = int(head.get("floor", versions[0]))
        versions = [v for v in versions if v >= floor]
    best: int | None = None
    running = 0.0
    for v in versions:
        running = max(
            running, _commit_wall_ts(spark, mdir, v, marker=marker(v))
        )
        if running <= float(ts):
            best = v
        else:
            break
    if best is None:
        raise ValueError(
            f"timestamp {ts} predates the oldest retained commit "
            f"(v{versions[0]}) at {mdir} — raise keep_versions to "
            "retain deeper history"
        )
    if not retain:
        # same refusal on a DEFAULT (zero-retention) table: a LATER
        # commit that removed/retired files swept them at its OWN
        # commit, so the resolved snapshot references missing files —
        # raising here beats dying mid-scan on an opaque missing-path
        # error.  Pure-append history stays resolvable, and the scan
        # touches only the markers ABOVE the resolution point (the
        # common recent-timestamp case reads nothing extra).  Only
        # removals NEW at a commit ABOVE the resolution point count:
        # a marker's pending backlog also carries forward
        # predecessors' unswept removals (a crash between commit and
        # sweep), and a file removed AT OR BEFORE v{best} was never
        # referenced by best's snapshot — refusing on the carried
        # entries would make a perfectly serveable snapshot
        # unreachable by timestamp.  Fresh-at-v is the backlog
        # set-difference against the PREDECESSOR's backlog (the
        # zero-retention wire shape stamps no usable rm_v).
        prev_files = {e["file"] for e in _pending_entries(marker(best))}
        for v in versions:
            if v <= best:
                continue
            entries = _pending_entries(marker(v))
            fresh = [e for e in entries if e["file"] not in prev_files]
            if fresh:
                raise ValueError(
                    f"timestamp {ts} resolves to v{best} at {mdir}, "
                    f"but commit v{v} later removed files that a "
                    "zero-retention sweep reclaimed — that snapshot "
                    "is no longer serveable; create the table with "
                    "retain_removed=True to keep history across "
                    "rewrites"
                )
            prev_files = {e["file"] for e in entries}
    return best


def _version_parquet_parts(
    spark: SparkSession, manifest_path: str, version: int
) -> list[str]:
    """Parquet part files inside one manifest version dir (a pure-
    removal delta commit carries none — its whole content is the
    marker)."""
    jvm, hp, fs = _fs_for(spark, manifest_path)
    vdir = f"{manifest_path}/v{version}"
    out = []
    for st in fs.listStatus(hp(vdir)):
        name = st.getPath().getName()
        if st.isFile() and not name.startswith(("_", ".")):
            out.append(f"{vdir}/{name}")
    return out


def _manifest_schema_from(marker: dict) -> T.StructType | None:
    """The manifest-row schema implied by a commit marker: ``file``,
    ``n_rows``, per-stats-column min/max typed from the committed
    table schema, and the ``added_version`` bookkeeping column — or
    None when the marker predates the schema/stats_cols stamps (the
    reader then merges footers instead)."""
    sj = marker.get("schema")
    stats_cols = marker.get("stats_cols")
    if sj is None or stats_cols is None:
        return None
    by_name = {
        f.name: f.dataType for f in T.StructType.fromJson(sj).fields
    }
    fields = [
        T.StructField("file", T.StringType()),
        T.StructField("n_rows", T.LongType()),
    ]
    for c in stats_cols:
        dt = by_name.get(c)
        if dt is None:  # stats col no longer in the table schema
            return None
        fields.append(T.StructField(f"{c}_min", dt, True))
        fields.append(T.StructField(f"{c}_max", dt, True))
    fields.append(T.StructField("added_version", T.LongType(), True))
    return T.StructType(fields)


def _reconstruct_manifest(
    spark: SparkSession, manifest_path: str, version: int
) -> DataFrame:
    """Materialize the manifest SNAPSHOT at ``version`` from the log:
    the base checkpoint's full manifest, union the delta commits'
    added-stats rows up to ``version``, minus the deltas' removed
    lists.  File paths are never reused (uuid part names), so the set
    algebra is order-free; schema evolution of the stats columns
    unions by name with NULL fill (conservative pruning).  Legacy
    markers without ``kind`` wrote full manifests — each is its own
    checkpoint.  Raises when the chain is no longer retained."""
    marker = _commit_info(spark, manifest_path, version)
    kind = marker.get("kind", "checkpoint")
    base = int(marker.get("base_ckpt", version)) if kind == "delta" else version
    committed = set(_committed_versions(spark, manifest_path))
    chain = list(range(base, version + 1))
    missing = [v for v in chain if v not in committed]
    if missing:
        raise ValueError(
            f"manifest version {version} at {manifest_path} is no longer "
            f"reconstructible — its checkpoint chain v{base}..v{version} "
            f"lost {missing} to retention"
        )
    dirs: list[str] = []
    removed: set[str] = set()
    for v in chain:
        m = marker if v == version else _commit_info(spark, manifest_path, v)
        if v > base:
            removed.update(m.get("removed", []))
        if _version_parquet_parts(spark, manifest_path, v):
            dirs.append(f"{manifest_path}/v{v}")
    if not dirs:  # an empty table's checkpoint (zero files tracked)
        return spark.createDataFrame(
            [], "file string, n_rows long, added_version long"
        )
    # ONE read over the whole chain.  The manifest schema is DERIVED
    # from the marker (stats columns typed per the committed table
    # schema) so no footer needs touching at plan time; files missing
    # a column (pre-evolution deltas, legacy checkpoints without the
    # bookkeeping column) NULL-fill under the explicit schema — the
    # same semantics as a per-dir unionByName, zero jobs.  Pre-schema
    # tables fall back to a distributed footer merge.
    mschema = _manifest_schema_from(marker)
    if mschema is not None:
        out = spark.read.schema(mschema).parquet(*dirs)
    else:
        out = spark.read.option("mergeSchema", "true").parquet(*dirs)
    if removed:
        rdf = spark.createDataFrame(
            [(f,) for f in sorted(removed)], "file string"
        )
        out = out.join(F.broadcast(rdf), on="file", how="left_anti")
    return out


def current_manifest(
    spark: SparkSession,
    manifest_path: str,
    version: int | None = None,
) -> DataFrame | None:
    """The current committed stats manifest (highest ``v<N>`` carrying a
    ``_COMMIT`` marker, reconstructed checkpoint-plus-deltas), falling
    back to the legacy flat layout, else None.  This is THE read path
    for snapshot consistency: a reader that resolves its file list
    through here sees exactly one committed version regardless of
    concurrent deletes/maintenance.

    ``version`` pins an explicit committed version instead (time
    travel) — valid while that version's checkpoint chain is retained
    (housekeeping retains the chains of the newest ``keep_versions``
    committed versions; raise ``keep_versions`` on the maintenance
    calls for a deeper history).  Raises if the requested version is
    not committed/retained."""
    if version is not None:
        if version not in _committed_versions(spark, manifest_path):
            raise ValueError(
                f"manifest version {version} is not committed/retained "
                f"at {manifest_path}"
            )
        return _reconstruct_manifest(spark, manifest_path, version)
    v = manifest_version(spark, manifest_path)
    if v is not None:
        return _reconstruct_manifest(spark, manifest_path, v)
    flat = _flat_manifest_files(spark, manifest_path)
    if flat:
        return spark.read.parquet(*flat)
    return None


class SnapshotConflict(RuntimeError):
    """Another writer committed the manifest version this transaction
    planned to create — the optimistic-concurrency failure a caller
    retries from a fresh snapshot (the same contract as Delta's
    ConcurrentModificationException; ``retry_on_conflict`` is the
    bounded-retry wrapper)."""


#: Engine feature levels THIS build understands (Delta's protocol
#: action re-expressed on the marker).  Level 1 = the base table
#: protocol: schema/stats stamps, txn map, retention, CDF, plain
#: per-commit deletion vectors.  Level 2 adds the features an OLDER
#: build would silently MISREAD rather than fail on: column mapping
#: (files store physical names), type widening (files store narrower
#: types than the schema), and consolidated per-row deletion vectors
#: (sidecars carry their own __dv_v column).
_SUPPORTED_READER = 2
_SUPPORTED_WRITER = 2

#: feature name -> the reader/writer level it requires
_FEATURE_LEVELS = {
    "column-mapping": 2,
    "type-widening": 2,
    "dv-per-row": 2,
}


class ProtocolUnsupported(RuntimeError):
    """The table's commit marker requires a newer engine feature level
    than this build supports.  Raised on every read/write entry point
    instead of proceeding: an older build reading a column-mapped or
    widened table would misresolve physical names / narrow types
    SILENTLY — refusing with the feature list is the only safe answer
    (Delta's InvalidProtocolVersionException contract)."""


def _check_protocol(head: dict, action: str, ctx: str) -> None:
    """Refuse when the committed snapshot's stamped protocol exceeds
    this build's supported feature level.  Writers must satisfy BOTH
    levels (a writer also reads).  Markers without a protocol stamp
    are level 1 by definition — every pre-stamp table keeps working."""
    proto = head.get("protocol") or {}
    need_r = int(proto.get("min_reader", 1))
    need_w = int(proto.get("min_writer", 1))
    if action == "read":
        if need_r > _SUPPORTED_READER:
            raise ProtocolUnsupported(
                f"{ctx}: table requires reader feature level {need_r} "
                f"(features: {head.get('features')}) but this build "
                f"supports {_SUPPORTED_READER} — upgrade the engine "
                "before reading this table"
            )
        return
    if need_w > _SUPPORTED_WRITER or need_r > _SUPPORTED_READER:
        raise ProtocolUnsupported(
            f"{ctx}: table requires writer feature level {need_w} / "
            f"reader level {need_r} (features: {head.get('features')}) "
            f"but this build supports {_SUPPORTED_WRITER}/"
            f"{_SUPPORTED_READER} — upgrade the engine before writing "
            "to this table"
        )


def _check_protocol_head(
    spark: SparkSession, mdir: str, ctx: str
) -> "tuple[int | None, dict]":
    """Early writer-side protocol gate for the locked write/maintenance
    entry points — called BEFORE ``_recover_txn``/``_sweep_removed``,
    not just before the op's own data work: adjudicating a newer
    build's ``_TXN`` intent or sweeping its pending backlog under this
    build's stale interpretation of the head commit could destroy files
    a higher-level snapshot still references.  Without the gate a
    lower-level build running a maintenance op (compact / materialize /
    delete) on an upgraded table would also scan, rewrite, and MOVE
    FILES IN before being refused at the ``_commit_manifest`` choke
    point — refusal still precedes the marker so nothing corrupts, but
    the failure is late and leaves debris.  Here the refusal lands
    before ANY mutation.  The commit-time check remains the backstop.

    Returns ``(snap_v, head)`` (``(None, {})`` for a pre-first-commit
    table) so the entry points that pin their transaction on the head
    marker reuse THIS read instead of listing and reading the head a
    second time after recovery — recovery and the sweep never change
    the committed-version set, so the gate's head stays valid."""
    v = manifest_version(spark, mdir)
    if v is None:
        return None, {}
    head = _commit_info(spark, mdir, v)
    _check_protocol(head, "write", ctx)
    return v, head


def _schema_widened(prev_sj: dict | None, new_sj: dict | None) -> bool:
    """Whether the new committed schema CHANGES an existing field's
    type (the add-only evolution contract means any such change is a
    lossless widening — ``_widens_to``): old data files then store
    NARROWER types than the schema and a pre-widening reader would
    fail or misread the upcast, so the commit must bump the protocol."""
    if not prev_sj or not new_sj:
        return False
    prev_types = {
        f["name"]: f["type"] for f in prev_sj.get("fields", [])
    }
    for f in new_sj.get("fields", []):
        t = prev_types.get(f["name"])
        if t is not None and t != f["type"]:
            return True
    return False


class ConstraintViolation(ValueError):
    """A write would land rows that fail one of the table's CHECK
    constraints (``add_table_constraint``) — the WHOLE transaction is
    refused before its commit point: temp files are deleted, nothing
    moved in, no snapshot advanced (Delta's InvariantViolationException
    contract: a constraint rejects the batch, it never filters it)."""


def _dir_footer_rows(spark: SparkSession, dirpath: str) -> int:
    """Total row count of the parquet leaves under ``dirpath`` from
    their FOOTERS (driver-side pyarrow metadata reads — zero Spark
    jobs, O(files written) like ``_local_stats_rows``).  The
    independent ground truth ``_obs_result`` uses to verify its
    zero-row fallback premise."""
    import pyarrow.parquet as pq

    total = 0
    for rel, _ln in _leaf_files(spark, dirpath):
        fpath = dirpath.rstrip("/") + "/" + rel
        if fpath.startswith("file:"):
            fpath = re.sub(r"^file:/+", "/", fpath)
        if "://" in fpath:  # HDFS/S3A URI — open via pyarrow fs
            from pyarrow import fs as pafs

            filesystem, rel2 = pafs.FileSystem.from_uri(fpath)
            with filesystem.open_input_file(rel2) as f:
                total += pq.ParquetFile(f).metadata.num_rows
        else:
            total += pq.ParquetFile(fpath).metadata.num_rows
    return total


def _obs_result(obs, verify_rows: "Callable[[], int] | None" = None) -> dict:
    """``Observation.get`` hardened against AQE empty-relation
    propagation: when the observed subtree produced ZERO rows into a
    shuffle, AQE can replace the whole stage — CollectMetrics node
    included — with an empty relation, and the JVM-side metrics row
    comes back schema-less (``toPyRow`` assertion; reproduced on
    Spark 4.1 with a parquet scan + no-match filter + observe +
    dropDuplicates + write).  When the subtree truly had no rows every
    count is exactly zero by construction — return a zero-defaulting
    mapping instead of crashing the transaction.  Anything else
    re-raises.

    The zero-row premise is VERIFIED, not assumed, whenever the caller
    can supply ground truth: ``verify_rows`` (a zero-arg callable —
    typically the written temp output's parquet footer row counts via
    ``_dir_footer_rows``) is consulted before defaulting, and a
    non-zero actual row count re-raises the original error instead —
    the same Observation carries CHECK-constraint violation counts, so
    substituting zeros while rows actually landed would let a
    constraint-violating batch commit silently.  Every fallback logs a
    warning either way."""
    import logging
    from collections import defaultdict

    from py4j.protocol import Py4JJavaError

    try:
        return obs.get
    except Py4JJavaError as e:
        if "assertion failed" not in str(e) and "toPyRow" not in str(e):
            raise
        if verify_rows is not None:
            try:
                actual = int(verify_rows())
            except Exception:
                actual = -1  # ground truth unavailable — keep fallback
            if actual > 0:
                # rows landed but the metrics row is gone: the
                # empty-relation premise does NOT hold — refusing is
                # the only safe answer (constraint counts unknowable)
                raise
        logging.getLogger(__name__).warning(
            "Observation metrics lost to an AQE empty-relation "
            "collapse — defaulting all counts to zero (verified "
            "against written footers: %s)",
            "yes" if verify_rows is not None else "no ground truth",
        )
        return defaultdict(lambda: 0)


def _constraint_metrics(constraints: dict[str, str]) -> list["F.Column"]:
    """One violation-count aggregate per CHECK constraint, to ride a
    write job's Observation (CollectMetrics) — enforcement costs zero
    extra scans.  ANSI CHECK semantics: a row violates only when the
    expression is FALSE; NULL/UNKNOWN passes (enforce presence with an
    explicit ``col IS NOT NULL`` constraint)."""
    return [
        F.sum(
            F.when(~F.coalesce(F.expr(e), F.lit(True)), 1).otherwise(0)
        ).alias(f"_viol_{i}")
        for i, (_n, e) in enumerate(sorted(constraints.items()))
    ]


def _raise_constraint_violations(
    vals, constraints: dict[str, str], ctx: str
) -> None:
    """Check the observed violation counts; raise on the first hit
    (the caller deletes its temp output first — nothing is committed)."""
    for i, (name, e) in enumerate(sorted(constraints.items())):
        n = int(vals[f"_viol_{i}"] or 0)
        if n > 0:
            raise ConstraintViolation(
                f"{ctx}: CHECK constraint {name!r} ({e}) violated by "
                f"{n} row(s) — transaction refused, nothing committed"
            )


import threading as _threading

_LOG_LOCKS: dict[str, "_threading.Lock"] = {}
_LOG_LOCKS_GUARD = _threading.Lock()


def _lock_key(mdir: str) -> str:
    """Canonical lock-registry key for a manifest dir: scheme-stripped
    for the local FS, normpath'd, trailing-slash-free — two spellings
    of the same table path (``file:`` URI vs posix, relative vs
    absolute, trailing slash) must land on the SAME lock or the
    same-driver intent→commit serialization silently evaporates."""
    key = mdir
    if key.startswith("file:"):
        key = re.sub(r"^file:/+", "/", key)
    if "://" not in key:  # leave non-local URIs (hdfs://…) untouched
        key = os.path.normpath(os.path.abspath(key))
    return key.rstrip("/") or "/"


def _log_lock(mdir: str) -> "_threading.Lock":
    """Per-table in-process write lock, keyed on the canonical path
    form (``_lock_key``).  Writer concurrency contract:

    - SAME driver (the common deployment — multiple streams/maintenance
      ops on one SparkSession): transactions on one table serialize on
      this lock, so the intent-log → move-in → commit window of writer
      A can never interleave with writer B's head-of-op recovery
      (which would roll A's in-flight files back as if crashed).
    - DIFFERENT drivers: the COMMIT itself serializes on the
      cross-process lease (``_CommitLease`` — atomic createNewFile on
      ``_LOCK``), the version parquet renames into ``v<N>``
      fail-if-exists, and the ``expected_version`` guard raises
      ``SnapshotConflict`` for the loser (who rolls its own files
      back) — two-process-tested.  Intent RECOVERY is lease-scoped
      too (``_recover_txn`` adjudicates under the same lease, and
      commits verify their ``_TXN`` intent token under it), so two
      maintenance actors in separate processes cannot both adjudicate
      one intent, and an adjudication cannot interleave with the
      victim's commit — the victim loses cleanly via
      ``SnapshotConflict`` and retries.  What remains at the
      Delta-on-S3-without-LogStore granularity: a LIVE remote writer
      between intent and commit still LOOKS crashed, so an impatient
      recovery wastes its work (never corrupts it); ``vacuum_table``
      age-floors the marker to avoid that."""
    with _LOG_LOCKS_GUARD:
        return _LOG_LOCKS.setdefault(_lock_key(mdir), _threading.Lock())


#: A crashed writer's commit lease is considered stale (breakable)
#: after this many seconds.  Generous because the lease spans the
#: checkpoint write on checkpoint commits; a deployment with longer
#: checkpoints raises it (or swaps the lease for a heartbeat).
_LEASE_TTL_S = 60


class _CommitLease:
    """Cross-PROCESS commit mutex: an atomic ``createNewFile`` on
    ``<manifest>/_LOCK`` (atomic on local FS and HDFS; a real S3
    deployment swaps this for a conditional PUT / DynamoDB LogStore,
    exactly Delta-on-S3's shape).  The in-process ``_log_lock``
    serializes same-driver writers; this lease serializes the
    version-compute → manifest-rename → marker window across DRIVERS,
    which also makes the marker-less-vdir crash cleanup safe: while
    holding the lease, a v<N> without ``_COMMIT`` can only be a dead
    writer's leftovers.  A lease older than ``_LEASE_TTL_S`` is broken
    as crashed.

    The lease file carries an OWNERSHIP TOKEN: release deletes the
    lock only when the token is still ours, so a slow holder whose
    lease was staleness-broken cannot delete the usurper's lease on
    exit (which would admit a third writer).  Breaking a stale lease
    de-synchronizes racing breakers (token-derived jitter) and
    re-reads the token right before the delete — this NARROWS the
    breaker-vs-fresh-acquirer window but does not close it (a breaker
    whose re-read raced the delete can still remove a just-stamped
    lease); the commit-side ``_ATTEMPT`` token catches the resulting
    double-admission as a ``SnapshotConflict`` retry, never data
    loss.  True closure needs compare-and-swap — a LogStore
    (conditional PUT / DynamoDB), the documented Delta-on-S3
    granularity."""

    def __init__(self, spark: SparkSession, manifest_path: str):
        import uuid as _uuid

        self._spark = spark
        self._mdir = manifest_path
        self._path = f"{manifest_path}/_LOCK"
        self._token = _uuid.uuid4().hex

    def _read_token(self, fs, hp) -> str | None:
        try:
            return _read_json_marker(self._spark, self._path).get("token")
        except Exception:
            return None  # empty/vanished/partial — unknown owner

    def __enter__(self):
        import time as _time

        jvm, hp, fs = _fs_for(self._spark, self._mdir)
        fs.mkdirs(hp(self._mdir))
        lock = hp(self._path)
        deadline = _time.monotonic() + 2 * _LEASE_TTL_S
        while True:
            created = False
            try:
                created = bool(fs.createNewFile(lock))
            except Exception:  # pragma: no cover - racing mkdirs
                created = False
            if created:
                try:
                    # stamp ownership (resets mtime — the lease clock)
                    out = fs.create(lock, True)
                    out.write(
                        bytearray(
                            json.dumps({"token": self._token}).encode()
                        )
                    )
                    out.close()
                    return self
                except Exception:  # pragma: no cover - transient FS
                    # we hold an UNSTAMPED lock we can no longer prove
                    # ours — delete it and retry, rather than orphaning
                    # it and stalling every writer for a full TTL
                    try:
                        fs.delete(lock, False)
                    except Exception:
                        pass
                    continue
            try:
                st = fs.getFileStatus(lock)
                age_ms = (
                    jvm.java.lang.System.currentTimeMillis()
                    - st.getModificationTime()
                )
                if age_ms > _LEASE_TTL_S * 1000:
                    # stale: the holder died mid-commit.  De-sync
                    # racing breakers first (token-derived jitter —
                    # two processes that both saw the lease go stale
                    # in the same tick spread out, so usually only
                    # one reaches the delete), then re-read the token
                    # right before deleting — if it changed, a racing
                    # breaker already took the lease over.  The window
                    # is narrowed, not closed (see class docstring).
                    _time.sleep(
                        0.01 + (int(self._token[:4], 16) % 64) / 500.0
                    )
                    tok0 = self._read_token(fs, hp)
                    try:
                        st2 = fs.getFileStatus(lock)
                        if (
                            st2.getModificationTime()
                            == st.getModificationTime()
                            and self._read_token(fs, hp) == tok0
                        ):
                            fs.delete(lock, False)
                    except Exception:
                        pass  # vanished — retry acquisition
                    continue
            except Exception:
                continue  # vanished between create and stat — retry
            if _time.monotonic() > deadline:
                raise TimeoutError(
                    f"commit lease at {self._path} held for over "
                    f"{2 * _LEASE_TTL_S}s — break it manually if the "
                    "holder is dead"
                )
            _time.sleep(0.05)

    def __exit__(self, *exc):
        jvm, hp, fs = _fs_for(self._spark, self._mdir)
        # release ONLY our own lease: if ours was staleness-broken and
        # re-acquired by another writer, deleting here would admit a
        # third writer into their commit window
        if self._read_token(fs, hp) == self._token:
            try:
                fs.delete(hp(self._path), False)
            except Exception:  # pragma: no cover - racing break
                pass
        return False


def _commit_manifest(
    spark: SparkSession,
    manifest_path: str,
    added_stats: DataFrame | None,
    removed: Sequence[str] = (),
    **kwargs,
) -> int:
    """``_commit_manifest_unleased`` under the cross-process commit
    lease (see ``_CommitLease``) — the version-compute → rename →
    marker window of two DRIVERS can never interleave.  Pass
    ``intent_token`` (from ``_write_txn_intent``) when the transaction
    logged a ``_TXN`` intent: the token is re-verified under the lease
    so a commit can never land over files a cross-process maintenance
    actor already adjudicated and rolled back."""
    with _CommitLease(spark, manifest_path):
        return _commit_manifest_unleased(
            spark, manifest_path, added_stats, removed, **kwargs
        )


def _commit_manifest_unleased(
    spark: SparkSession,
    manifest_path: str,
    added_stats: DataFrame | None,
    removed: Sequence[str],
    expected_version: int | None = None,
    keep_versions: int | None = 2,
    txn: tuple[str, int] | None = None,
    table_schema: dict | None = None,
    partition_by: Sequence[str] | None = None,
    added_files: Sequence[str] | None = None,
    force_checkpoint: bool = False,
    dvs_add: Sequence[dict] | None = None,
    dvs_clear: bool = False,
    changes: Sequence[str] | None = None,
    cdf: bool | None = None,
    extra_pending: Sequence[str] | None = None,
    added_rows: list[dict] | None = None,
    stats_schema: T.StructType | None = None,
    restore_manifest: DataFrame | None = None,
    dvs_replace: Sequence[dict] | None = None,
    retain: bool | None = None,
    constraints: dict[str, str] | None = None,
    op: str | None = None,
    col_mapping: dict | None = None,
    stats_cols_override: Sequence[str] | None = None,
    metrics: dict | None = None,
    protocol_floor: tuple[int, int] | None = None,
    intent_token: str | None = None,
) -> int:
    """Commit the next manifest version with one atomic marker rename.
    ``added_stats`` = stats rows for the files THIS commit adds (the
    O(batch) delta — NOT the full manifest); ``removed`` = data files
    it logically deletes (still on disk; swept post-commit).  Pending
    removals of the predecessor that were never swept are carried
    forward so they cannot be lost.  ``txn`` = (app_id, batch_id)
    stamps the commit for idempotent streaming ingest (the txn map
    carries forward across commits; ``append_files`` skips a batch id
    it already committed — Delta's txn action).

    Most commits write only the delta parquet + marker; every
    ``_CHECKPOINT_EVERY`` commits (or on ``force_checkpoint`` — the
    maintenance rebuild path) the FULL reconstructed manifest is
    materialized instead, bounding the chain a snapshot read replays.
    Either way the version parquet is written to a hidden temp dir and
    atomically RENAMED into ``v<N>`` — rename-to-existing fails, so a
    stale cross-driver writer that slipped past the version check can
    never overwrite a committed winner's version dir in place.

    ``expected_version`` is the optimistic-concurrency guard: the
    version this transaction computed against its snapshot — if another
    writer committed it first, raise ``SnapshotConflict`` BEFORE
    touching the log, and the caller retries from a fresh snapshot
    (the same contract as Delta's ConcurrentModificationException).

    ``added_files`` (the added URIs, already on the caller's driver
    from the move-in) avoids a collect for the marker's added list;
    ``dvs_add``/``dvs_clear`` maintain the carried deletion-vector
    list; ``changes`` records this commit's change-data files; ``cdf``
    sets the carried change-data-feed table flag; ``extra_pending``
    adds retired sidecar files (old deletion vectors) to the sweep
    backlog.

    Post-commit housekeeping retains the checkpoint chains of the
    newest ``keep_versions`` committed versions (in-flight readers +
    time-travel history), prunes older ones plus failed uncommitted
    attempts, and deletes migrated flat-layout files — all crash-safe:
    the new version is already current."""
    import uuid as _uuid

    jvm, hp, fs = _fs_for(spark, manifest_path)
    if intent_token is not None:
        # under the lease: our _TXN intent must still be OURS.  A
        # cross-process maintenance actor that adjudicated it as
        # crashed has already deleted our moved-in files — committing
        # a manifest that references them would corrupt the snapshot.
        # Raising here makes adjudication-vs-commit a clean loss: the
        # caller rolls back (idempotent — the files are gone) and
        # retries from a fresh snapshot.
        try:
            cur_tok = _read_json_marker(
                spark, f"{manifest_path}/_TXN"
            ).get("intent")
        except Exception:
            cur_tok = None
        if cur_tok != intent_token:
            raise SnapshotConflict(
                f"manifest at {manifest_path}: this transaction's _TXN "
                "intent was adjudicated (rolled back as crashed) by "
                "another maintenance actor — its moved-in files are "
                "gone; retry from a fresh snapshot"
            )
    committed = _committed_versions(spark, manifest_path)
    nxt = (committed[-1] + 1) if committed else 0
    if expected_version is not None and nxt != expected_version:
        raise SnapshotConflict(
            f"manifest at {manifest_path}: planned to commit "
            f"v{expected_version} but the next version is v{nxt} — "
            "another writer committed first; retry from a fresh snapshot"
        )
    flat = _flat_manifest_files(spark, manifest_path)

    txns: dict = {}
    schema_json: dict | None = table_schema
    pby: list | None = list(partition_by) if partition_by is not None else None
    cdf_flag: bool = bool(cdf) if cdf is not None else False
    retain_flag: bool = bool(retain) if retain is not None else False
    dvs: list[dict] = []
    base_prev: int | None = None
    prev_ts: float = 0.0
    pending_entries: list[dict] = []
    prev_features: list[str] = []
    prev_proto: dict = {}
    prev_schema_json: dict | None = None
    if committed:
        prev = _commit_info(spark, manifest_path, committed[-1])
        # the ONE choke point every write path commits through: refuse
        # before touching the log when the table's stamped protocol
        # exceeds this build's feature level
        _check_protocol(prev, "write", f"commit into {manifest_path}")
        prev_features = list(prev.get("features", []))
        prev_proto = dict(prev.get("protocol", {}))
        prev_schema_json = prev.get("schema")
        prev_ts = float(prev.get("ts", 0.0) or 0.0)
        pending_entries = [
            e
            for e in _pending_entries(prev)
            if fs.exists(hp(e["file"]))
        ]
        txns = dict(prev.get("txns", {}))
        if schema_json is None:
            # the table schema rides every commit once stamped — a
            # maintenance op that doesn't evolve it carries it forward
            schema_json = prev.get("schema")
        if pby is None:
            # partition columns ride the commit too (Delta's
            # partitionColumns) — writers then skip the O(files)
            # directory probe per transaction
            pby = prev.get("partition_by")
        if cdf is None:
            cdf_flag = bool(prev.get("cdf", False))
        if retain is None:
            retain_flag = bool(prev.get("retain", False))
        if keep_versions is None:
            # None = carry the table's stamped retention window — a
            # metadata-only DDL or an unparameterized write must not
            # collapse a deep keep_versions history to the default
            keep_versions = int(prev.get("keep", 2))
        if constraints is None:
            # the CHECK-constraint map rides every commit once stamped
            # (None = carry; an explicit {} drops the last one)
            constraints = prev.get("constraints")
        if col_mapping is None:
            # the column-mapping bookkeeping (max id + retired physical
            # names) rides every commit once a rename/drop stamps it
            col_mapping = prev.get("col_mapping")
        dvs = list(prev.get("dvs", []))
        stats_cols = prev.get("stats_cols")
        base_prev = (
            int(prev.get("base_ckpt", committed[-1]))
            if prev.get("kind", "checkpoint") == "delta"
            else committed[-1]
        )
    else:
        stats_cols = None
    if keep_versions is None:  # first commit with the carry default
        keep_versions = 2
    if txn is not None:
        txns[str(txn[0])] = int(txn[1])
    retired: list[str] = list(extra_pending or [])
    if dvs_clear:
        retired += [d["file"] for d in dvs]
        dvs = []
    if dvs_add:
        dvs += [dict(d) for d in dvs_add]
    if dvs_replace is not None:
        # RESTORE pins the target snapshot's deletion-vector set; head
        # tombstones it drops retire into the sweep backlog
        keep_files = {d["file"] for d in dvs_replace}
        retired += [d["file"] for d in dvs if d["file"] not in keep_files]
        dvs = [dict(d) for d in dvs_replace]
    checkpoint = (
        force_checkpoint
        or not committed
        or bool(flat)
        or (nxt - (base_prev if base_prev is not None else nxt))
        >= _CHECKPOINT_EVERY
    )
    if checkpoint and len(dvs) > 1 and dvs_replace is None:
        # checkpoint commits also CONSOLIDATE the deletion-vector debt:
        # without this, every MOR commit adds one sidecar scan + union
        # branch to every read plan until a manual materialize_deletes
        # — unbounded growth under a steady delete/update trickle.
        # Skipped on RESTORE (dvs_replace pins the target snapshot's
        # exact entries).  Visibility is UNCHANGED by construction
        # (keep-last max-version fold = what every read aggregates),
        # so this does NOT set dvs_delta and streams cross it freely.
        dvs, retired_dv = _consolidate_dvs(spark, dvs, nxt)
        retired += retired_dv
    removed_now = sorted(set(removed))
    if added_files is None:
        if added_rows is not None:
            added_files = [r["file"] for r in added_rows]
        elif added_stats is not None:
            added_files = [
                r["file"] for r in added_stats.select("file").collect()
            ]
        else:
            added_files = []
    # the sweep backlog merges the carried entries with THIS commit's
    # removals (stamped with the removing version — the retention
    # sweep compares it against the retained floor); a file already
    # pending keeps its earlier removal stamp, and a file this commit
    # RE-ADDS (RESTORE across a retained rewrite) leaves the backlog —
    # the new head references it, so sweeping it would lose data
    by_file = {e["file"]: e for e in pending_entries}
    for f in set(removed_now) | set(retired):
        by_file.setdefault(f, {"file": f, "rm_v": nxt})
    for f in added_files:
        by_file.pop(f, None)
    pending_struct = sorted(by_file.values(), key=lambda e: e["file"])
    # default tables keep the legacy bare-path wire shape (swept at
    # commit, rm_v irrelevant); retention tables persist the stamps
    pending_all = (
        pending_struct
        if retain_flag
        else [e["file"] for e in pending_struct]
    )

    # stamp the delta rows with the version that adds them — deletion
    # vectors compare tombstone versions against this to decide which
    # files a suppression still applies to
    if added_rows is not None:
        added_rows = [dict(r, added_version=nxt) for r in added_rows]
        if stats_schema is not None and not any(
            f.name == "added_version" for f in stats_schema.fields
        ):
            stats_schema = T.StructType(
                list(stats_schema.fields)
                + [T.StructField("added_version", T.LongType(), True)]
            )
        if checkpoint:
            # the checkpoint path needs a DataFrame to union; the rows
            # are batch-sized, so the conversion is driver-trivial
            added_stats = spark.createDataFrame(
                [
                    tuple(r.get(f.name) for f in stats_schema.fields)
                    for r in added_rows
                ],
                stats_schema,
            )
    elif added_stats is not None and "added_version" not in added_stats.columns:
        added_stats = added_stats.withColumn(
            "added_version", F.lit(nxt).cast("long")
        )

    local_delta = not checkpoint and added_rows is not None
    if restore_manifest is not None:
        # RESTORE: the checkpoint IS the target snapshot's manifest
        checkpoint, local_delta = True, False
        out_df = restore_manifest
    elif checkpoint:
        parts: list[DataFrame] = []
        prev_df: DataFrame | None = None
        if committed:
            prev_df = _reconstruct_manifest(spark, manifest_path, committed[-1])
        elif flat:
            prev_df = spark.read.parquet(*flat)
        if prev_df is not None:
            if removed_now:
                rdf = spark.createDataFrame(
                    [(f,) for f in removed_now], "file string"
                )
                prev_df = prev_df.join(
                    F.broadcast(rdf), on="file", how="left_anti"
                )
            parts.append(prev_df)
        if added_stats is not None:
            parts.append(added_stats)
        if parts:
            out_df = parts[0]
            for p in parts[1:]:
                out_df = out_df.unionByName(p, allowMissingColumns=True)
        else:
            out_df = spark.createDataFrame(
                [], "file string, n_rows long, added_version long"
            )
    elif not local_delta:
        out_df = (
            added_stats
            if added_stats is not None
            # a pure-removal delta: an empty placeholder keeps the
            # write→rename commit shape; reconstruction skips part-less
            # version dirs anyway
            else spark.createDataFrame([], "file string")
        )

    vdir = f"{manifest_path}/v{nxt}"
    tmpdir = f"{manifest_path}/.v{nxt}.{_uuid.uuid4().hex[:8]}"
    # the write MATERIALIZES the version to a private temp dir before
    # any input (old versions / flat files) is touched and before the
    # log is — committed versions are never inputs to their own
    # destruction, and a stale writer never writes INTO a live vdir
    if local_delta:
        # a batch-sized delta: ONE driver-side pyarrow write, zero
        # Spark jobs — the commit's metadata cost is O(batch) in time,
        # not just bytes
        _write_parquet_local(spark, added_rows, stats_schema, tmpdir)
    else:
        out_df.write.mode("overwrite").parquet(tmpdir)
    # attempt token: verified again right before the marker write — a
    # staleness-broken lease lets another driver replace a marker-less
    # vdir mid-window, and committing OUR marker over THEIR parquet
    # would corrupt the snapshot (underscore-prefixed: parquet readers
    # and the part-file lister both skip it)
    attempt = _uuid.uuid4().hex
    _write_json_marker(spark, tmpdir, "_ATTEMPT", {"token": attempt})
    if fs.exists(hp(vdir)):
        if fs.exists(hp(f"{vdir}/_COMMIT")):
            # another writer committed this version while we wrote the
            # temp dir — classic optimistic-concurrency loss
            fs.delete(hp(tmpdir), True)
            raise SnapshotConflict(
                f"manifest at {manifest_path}: v{nxt} was committed by "
                "another writer — retry from a fresh snapshot"
            )
        # a marker-less v<N> is a crashed attempt (same-driver writers
        # serialize on _log_lock, and we HOLD the cross-process lease,
        # so it cannot be a live cross-driver writer's either); clear
        # it so the rename can land.
        fs.delete(hp(vdir), True)
    if not fs.rename(hp(tmpdir), hp(vdir)):
        fs.delete(hp(tmpdir), True)
        raise SnapshotConflict(
            f"manifest at {manifest_path}: v{nxt} appeared while "
            "committing — another writer won; retry from a fresh snapshot"
        )
    # re-verify the attempt token AFTER the rename and right before the
    # commit point: if a lease-breaking writer replaced the vdir in the
    # window, our marker must not land on top of their parquet
    try:
        mine = (
            _read_json_marker(spark, f"{vdir}/_ATTEMPT").get("token")
            == attempt
        )
    except Exception:
        mine = False
    if not mine:
        raise SnapshotConflict(
            f"manifest at {manifest_path}: v{nxt}'s directory was "
            "replaced by another writer mid-commit (stale-lease break) "
            "— retry from a fresh snapshot"
        )
    # the stats column set rides the marker too — writers resolve it
    # from one JSON read instead of reconstructing the manifest just
    # to look at its column names
    if added_rows is not None and stats_schema is not None:
        stats_cols = [
            f.name[:-4]
            for f in stats_schema.fields
            if f.name.endswith("_min")
        ]
    elif added_stats is not None:
        stats_cols = [
            c[:-4] for c in added_stats.columns if c.endswith("_min")
        ]
    if stats_cols_override is not None:
        # a rename/drop of a stats column restates the list (the
        # transformed manifest's columns already match it)
        stats_cols = list(stats_cols_override)
    payload = {
        "version": nxt,
        "kind": "checkpoint" if checkpoint else "delta",
        "base_ckpt": (
            nxt if checkpoint else (base_prev if base_prev is not None else nxt)
        ),
        "added": sorted(added_files),
        "removed": removed_now,
        "pending": pending_all,
        "txns": txns,
        # commit wall-clock time, clamped strictly above the
        # predecessor's so TIMESTAMP AS OF resolution is total-ordered
        # even under clock skew between writers (Delta's adjusted
        # in-commit timestamps)
        "ts": round(max(time.time(), prev_ts + 1e-3), 6),
    }
    if stats_cols is not None:
        payload["stats_cols"] = list(stats_cols)
    if schema_json is not None:
        payload["schema"] = schema_json
    if pby is not None:
        payload["partition_by"] = pby
    if op is not None:
        # the operation label (DESCRIBE HISTORY's operation column) —
        # pure observability, never read back by the engine
        payload["op"] = op
    if metrics:
        # per-operation metrics (DESCRIBE HISTORY's operationMetrics)
        # — observability only, never read back by the engine
        payload["metrics"] = {
            k: v for k, v in metrics.items() if v is not None
        }
    if constraints:
        payload["constraints"] = dict(constraints)
    if col_mapping:
        payload["col_mapping"] = dict(col_mapping)
    if cdf_flag:
        payload["cdf"] = True
    # the retention window rides EVERY commit so later writers and
    # metadata-only DDL can carry it (keep_versions=None) — stamping
    # it only on retain tables would collapse a non-retain table's
    # explicit deep window (manifest-chain/time-travel depth) back to
    # the default on the first unparameterized op
    payload["keep"] = max(1, int(keep_versions))
    if retain_flag:
        payload["retain"] = True
        # the retention floor: the oldest version inside THIS commit's
        # keep_versions window (housekeeping's oldest_wanted).  The
        # sweep compares pending rm_v stamps against it — version DIRS
        # below it may survive as checkpoint-chain links, so the dir
        # listing alone would overstate retention forever
        live_now = committed + [nxt]
        payload["floor"] = live_now[
            max(0, len(live_now) - max(1, int(keep_versions)))
        ]
    if dvs:
        payload["dvs"] = dvs
    # protocol stamp (Delta's protocol action): the FEATURES this
    # snapshot uses, and the min reader/writer levels they require —
    # monotone (never downgrades; a feature once used may live in
    # retained history even after a drop).  Level-1 tables stamp
    # nothing, keeping the pre-protocol wire shape byte-stable.
    features = set(prev_features)
    if payload.get("col_mapping"):
        features.add("column-mapping")
    if any(d.get("per_row") for d in dvs):
        features.add("dv-per-row")
    if table_schema is not None and _schema_widened(
        prev_schema_json, table_schema
    ):
        features.add("type-widening")
    lvl = max([1] + [_FEATURE_LEVELS.get(f, 1) for f in features])
    floor_r, floor_w = protocol_floor or (1, 1)
    min_r = max(lvl, int(prev_proto.get("min_reader", 1)), int(floor_r))
    min_w = max(lvl, int(prev_proto.get("min_writer", 1)), int(floor_w))
    if features:
        payload["features"] = sorted(features)
    if min_r > 1 or min_w > 1:
        payload["protocol"] = {"min_reader": min_r, "min_writer": min_w}
    if dvs_add or dvs_clear or (dvs_replace is not None and retired):
        # row visibility changed without file removal — append-span CDC
        # must refuse this span unless change-data files serve it
        payload["dvs_delta"] = True
    if changes is not None:
        payload["changes"] = sorted(changes)
    _write_json_marker(
        spark,
        vdir,
        "_COMMIT",
        payload,
        overwrite=False,
    )  # <- the commit point

    # housekeeping: keep the newest ``keep_versions`` committed
    # versions RECONSTRUCTIBLE — i.e. retain everything from the oldest
    # wanted version's base checkpoint up; delete older chains and
    # failed uncommitted attempts
    keep = max(1, int(keep_versions))
    live = committed + [nxt]
    oldest_wanted = live[max(0, len(live) - keep)]
    if oldest_wanted == nxt:
        floor = payload["base_ckpt"]
    else:
        m = _commit_info(spark, manifest_path, oldest_wanted)
        floor = (
            int(m.get("base_ckpt", oldest_wanted))
            if m.get("kind", "checkpoint") == "delta"
            else oldest_wanted
        )
    for st in fs.listStatus(hp(manifest_path)):
        name = st.getPath().getName()
        if st.isDirectory() and re.fullmatch(r"v\d+", name):
            n = int(name[1:])
            if n < floor or (n < nxt and n not in committed):
                fs.delete(st.getPath(), True)
    for fpath in flat:
        fs.delete(hp(fpath), False)
    return nxt


def _pending_entries(commit: dict) -> list[dict]:
    """A commit's pending-removal backlog, normalized to ``{'file',
    'rm_v'}`` dicts — ``rm_v`` is the version whose commit removed the
    file.  Legacy bare-path entries (default zero-retention tables,
    and markers written before retention existed) normalize to
    ``rm_v=0``: due for deletion unconditionally."""
    out = []
    for e in commit.get("pending", commit.get("removed", [])):
        if isinstance(e, str):
            out.append({"file": e, "rm_v": 0})
        else:
            out.append({"file": e["file"], "rm_v": int(e.get("rm_v", 0))})
    return out


def _sweep_removed(
    spark: SparkSession, manifest_path: str, dry_run: bool = False
) -> list[str]:
    """Physically delete data files whose removal the CURRENT manifest
    version committed — the ``pending`` backlog (this commit's logical
    removals plus any predecessor removals never swept; legacy markers
    carried the same list as ``removed``).  On a RETENTION table
    (``retain_removed`` stamped at creation) a file removed by commit
    ``rm_v`` is kept while any OLDER version is still retained — those
    snapshots' manifests reference it, so time travel and RESTORE keep
    working across rewrites; once housekeeping advances the retained
    floor past ``rm_v`` the next sweep reclaims it (Delta's VACUUM
    retention, driven by ``keep_versions`` instead of wall-clock age).
    Idempotent; returns what it deleted."""
    versions = _committed_versions(spark, manifest_path)
    if not versions:
        return []
    jvm, hp, fs = _fs_for(spark, manifest_path)
    commit = _commit_info(spark, manifest_path, versions[-1])
    entries = _pending_entries(commit)
    if bool(commit.get("retain", False)):
        # retained version V reads files removed at rm_v > V; a file
        # is reclaimable only when no retained version predates its
        # removal — i.e. the retained floor (the head commit's
        # keep_versions window, stamped as ``floor``) has reached rm_v
        floor = int(commit.get("floor", versions[0]))
        entries = [e for e in entries if floor >= e["rm_v"]]
    deleted = []
    for e in entries:
        f = e["file"]
        if fs.exists(hp(f)):
            if not dry_run:
                fs.delete(hp(f), False)
            deleted.append(f)
    return deleted


def _post_commit_sweep(spark: SparkSession, manifest_path: str) -> list[str]:
    """``delete_where``'s post-commit cleanup (= ``_sweep_removed``; a
    separate name so crash-injection tests can disable JUST this half
    and exercise the recovery path)."""
    return _sweep_removed(spark, manifest_path)


def _recover_txn(spark: SparkSession, manifest_path: str) -> dict | None:
    """Crash recovery for an interrupted transaction: its ``_TXN``
    intent marker records the planned file adds/removes and the version
    it meant to commit.  If that version committed, roll FORWARD (sweep
    the removed files); otherwise roll BACK (delete the txn's added
    files — no committed manifest ever referenced them, so no snapshot
    reader saw them).  Either way the table returns to a state where
    incremental maintenance's "unknown file on disk == new ingest" rule
    is safe again.  Idempotent; runs at the head of every maintenance
    op.

    ADJUDICATION IS LEASE-SCOPED (cross-process safe): the whole
    read-marker → check-committed → delete-files → delete-marker
    window runs under the table's ``_CommitLease``, so

    - two maintenance actors in separate processes (a ``maintain_every``
      streaming driver racing a cron ``maintain_table``/``vacuum_table``)
      can never BOTH adjudicate the same intent: the loser re-checks
      under the lease and finds the marker gone;
    - an adjudication can never interleave with a COMMIT: the stalled-
      adjudicator hazard (read "not committed", stall, victim commits
      that version, resume, delete now-referenced files) is closed
      because commits hold the same lease and verify their own intent
      token (``intent_token`` on ``_commit_manifest``) — a writer whose
      live intent was adjudicated as crashed re-raises
      ``SnapshotConflict`` instead of committing over its rolled-back
      files, and retries from a fresh snapshot.

    The fast path (no marker — every healthy transaction) acquires
    nothing.  A LIVE remote writer between intent and commit still
    looks identical to a crashed one at this granularity (the
    Delta-on-S3-without-LogStore shape); adjudicating it is SAFE — the
    victim detects the adjudication at its commit point via the token
    and full-retries — just wasteful, which is why ``vacuum_table``
    additionally age-floors the marker before recovering."""
    jvm, hp, fs = _fs_for(spark, manifest_path)
    tpath = hp(f"{manifest_path}/_TXN")
    if not fs.exists(tpath):
        return None
    with _CommitLease(spark, manifest_path):
        if not fs.exists(tpath):
            return None  # the other actor adjudicated while we waited
        txn = None
        for _attempt in range(3):
            try:
                txn = _read_json_marker(spark, f"{manifest_path}/_TXN")
                break
            except Exception:
                # a LIVE writer's rebase restamp replaces the marker
                # delete-then-rename (not lease-scoped) — retry across
                # that microsecond window before judging
                import time as _time

                _time.sleep(0.05)
        if txn is None:
            # benign ONLY when the marker vanished under us (the owner
            # cleared it, or is mid-replace) — a marker still present
            # after the retries means a real read fault, and reporting
            # "nothing to recover" would let the caller proceed to
            # adopt a crashed writer's orphans as ingest
            if fs.exists(tpath):
                _read_json_marker(spark, f"{manifest_path}/_TXN")  # raise it
            return None
        committed = txn["expected_version"] in _committed_versions(
            spark, manifest_path
        )
        if committed:
            _sweep_removed(spark, manifest_path)
        else:
            for f in txn.get("added", []):
                fs.delete(hp(f), False)
        fs.delete(tpath, False)
        return {"rolled": "forward" if committed else "back", **txn}


def _write_txn_intent(spark: SparkSession, mdir: str, payload: dict) -> str:
    """Write (or restamp) the ``_TXN`` intent marker carrying a fresh
    INTENT TOKEN and return the token.  The writer passes it to
    ``_commit_manifest(intent_token=...)``, which re-verifies — under
    the commit lease — that the marker still carries this token right
    before committing: if a cross-process maintenance actor adjudicated
    the intent as crashed (rolling the moved-in files back) the token
    is gone and the commit refuses with ``SnapshotConflict`` instead of
    landing a manifest that references deleted files."""
    import uuid as _uuid

    tok = _uuid.uuid4().hex
    _write_json_marker(spark, mdir, "_TXN", {**payload, "intent": tok})
    return tok


def _clear_txn_intent(
    spark: SparkSession, mdir: str, intent_token: str | None = None
) -> None:
    """Delete the ``_TXN`` marker at the end of a transaction — but
    only while it is still OURS: after our commit, a maintenance actor
    may have rolled the marker forward (deleting it) and a FOREIGN
    writer may have landed its own intent; deleting that would
    needlessly fail the foreign commit's token check.  The
    check-then-delete runs under the ``_CommitLease`` (the same mutex
    adjudication and commits hold), closing the read-ours/delete TOCTOU
    — three driver-side metadata ops on the happy path.  ``None``
    skips the ownership read AND the lease (legacy callers that never
    stamped a token).

    NEVER raises: the clear is pure hygiene — a marker left behind is
    adjudicated by the next op's recovery (roll-FORWARD after our
    commit: an idempotent sweep; roll-back on the conflict path: our
    files are already gone), so a lease timeout (a foreign driver
    legitimately holding ``_LOCK`` past the TTL) or a transient FS
    fault must neither mask the ``SnapshotConflict`` the caller is
    re-raising nor fail a transaction that already durably
    committed."""
    import logging

    jvm, hp, fs = _fs_for(spark, mdir)
    tpath = hp(f"{mdir}/_TXN")
    if intent_token is None:
        fs.delete(tpath, False)
        return
    try:
        with _CommitLease(spark, mdir):
            try:
                if (
                    _read_json_marker(spark, f"{mdir}/_TXN").get("intent")
                    != intent_token
                ):
                    return
            except Exception:
                return  # gone already (rolled forward) — nothing to clear
            fs.delete(tpath, False)
    except Exception as exc:
        logging.getLogger(__name__).warning(
            "leaving _TXN intent at %s for the next op's recovery "
            "(clear failed: %s)", mdir, exc,
        )


def committed_schema(
    spark: SparkSession, manifest_path: str, version: int | None = None
) -> T.StructType | None:
    """The table schema stamped into the committed snapshot (current,
    or ``version`` for time travel; rides every ``_COMMIT`` once a
    schema-aware op stamps it; carried forward by maintenance
    commits), or None for pre-schema tables — readers then fall back
    to the directory footer schema."""
    v = version if version is not None else manifest_version(
        spark, manifest_path
    )
    if v is None or v not in _committed_versions(spark, manifest_path):
        return None
    commit = _read_json_marker(spark, f"{manifest_path}/v{v}/_COMMIT")
    sj = commit.get("schema")
    return T.StructType.fromJson(sj) if sj is not None else None


def committed_partitioning(
    spark: SparkSession, manifest_path: str
) -> list[str] | None:
    """The table's hive partition columns as stamped into the current
    commit ([] = flat), or None for pre-stamp tables — writers then
    fall back to probing the directory layout once."""
    v = manifest_version(spark, manifest_path)
    if v is None:
        return None
    commit = _read_json_marker(spark, f"{manifest_path}/v{v}/_COMMIT")
    return commit.get("partition_by")


def _detect_pcols(spark: SparkSession, path: str, mdir: str) -> list[str]:
    """Partition columns for a manifest-tracked table: the commit's
    stamped list when present, else ONE directory probe (pre-stamp
    tables) — never an O(files) walk per transaction once stamped."""
    pby = committed_partitioning(spark, mdir)
    if pby is not None:
        return list(pby)
    # a hive layout encodes EVERY leaf under partition dirs, so the
    # first leaf decides — never a full O(files) walk
    for rel, _ln in _leaf_files(spark, path):
        segs = [s for s in rel.split("/")[:-1] if "=" in s]
        return [s.split("=", 1)[0] for s in segs]
    return []


def _guard_partition_cols(
    spark: SparkSession,
    path: str,
    mdir: str,
    stored_schema: T.StructType,
    source_cols: Sequence[str],
    ctx: str,
    partition_by: Sequence[str] | None = None,
) -> None:
    """Raise when a write batch OMITS one of the table's hive partition
    columns: the add-only evolution path would null-fill it and
    ``partitionBy`` would land every row in
    ``__HIVE_DEFAULT_PARTITION__`` — data silently migrating out of its
    partition.  Applied on every lake write entry (append / merge /
    streamed merge), not just ``LakeUpsertSink``."""
    pcols = (
        list(partition_by)
        if partition_by is not None
        else _detect_pcols(spark, path, mdir)
    )
    stored_names = {f.name for f in stored_schema.fields}
    have = set(source_cols)
    missing = [c for c in pcols if c in stored_names and c not in have]
    if missing:
        raise ValueError(
            f"{ctx}: the batch omits the table's partition column(s) "
            f"{missing} — null-filling them would silently rewrite rows "
            "into __HIVE_DEFAULT_PARTITION__; include the column(s) in "
            "the source"
        )


def _widens_to(a: T.DataType, b: T.DataType) -> bool:
    """Whether ``a`` widens LOSSLESSLY to ``b`` — Delta's type-widening
    lattice: byte → short → int → long, float → double, and decimal
    precision growth at the same scale.  Spark 4's parquet reader
    upcasts these under an explicit wider schema, so files written at
    the narrow type stay readable forever (probed in
    tests/test_lake_widening.py)."""
    ints = (T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType())
    if a in ints and b in ints:
        return ints.index(a) < ints.index(b)
    if isinstance(a, T.FloatType) and isinstance(b, T.DoubleType):
        return True
    if isinstance(a, T.DecimalType) and isinstance(b, T.DecimalType):
        return b.scale == a.scale and b.precision > a.precision
    return False


def _evolved_schema(
    table_schema: T.StructType, batch_schema: T.StructType, ctx: str
) -> T.StructType:
    """ADD-ONLY + WIDENING schema evolution (Delta's add/omit contract
    plus its type widening):
    the batch may ADD columns (appended, nullable — old files read
    back NULL through the stored schema), OMIT columns (null-filled
    for its rows), arrive NARROWER on a shared column (cast up to the
    stored type at write — ``_aligned``), or arrive WIDER along the
    lossless lattice (``_widens_to`` — the stored type widens; old
    files upcast under the explicit evolved schema, zero rewrites).
    Any other type change raises.  Returns the evolved table schema:
    stored fields in their original order (metadata — column mapping
    ids/physical names — preserved through a widening), then new
    batch-only fields in batch order."""
    table_types = {f.name: _denulled(f.dataType) for f in table_schema.fields}
    batch_types = {f.name: _denulled(f.dataType) for f in batch_schema.fields}
    clash = []
    widened: dict[str, T.DataType] = {}
    for name, bt in batch_types.items():
        tt = table_types.get(name)
        if tt is None or bt == tt:
            continue
        if _widens_to(tt, bt):
            widened[name] = bt  # stored type widens to the batch's
        elif _widens_to(bt, tt):
            pass  # narrower batch: _aligned casts it up at write
        else:
            clash.append(
                f"{name} (table {tt.simpleString()}"
                f" vs batch {bt.simpleString()})"
            )
    if clash:
        raise ValueError(
            f"{ctx}: column type changed for " + ", ".join(clash)
            + " — schema evolution is add-only plus lossless widening "
            "(byte/short/int -> long, float -> double, decimal "
            "precision growth)"
        )
    stored_fields = [
        T.StructField(f.name, widened[f.name], True, f.metadata)
        if f.name in widened
        else f
        for f in table_schema.fields
    ]
    new_fields = [
        T.StructField(f.name, f.dataType, True)
        for f in batch_schema.fields
        if f.name not in table_types
    ]
    return T.StructType(stored_fields + new_fields)


def _aligned(df: DataFrame, schema: T.StructType) -> DataFrame:
    """``df`` projected to ``schema``'s column order, null-filling
    omitted columns and CASTING type-mismatched ones to the stored
    type — the write shape after add-only + widening evolution (a
    narrower batch lands at the table's wider type; `_evolved_schema`
    has already rejected anything lossy)."""
    have = {f.name: _denulled(f.dataType) for f in df.schema.fields}
    cols = []
    for f in schema.fields:
        if f.name not in have:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        elif have[f.name] != _denulled(f.dataType):
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


# ---------------------------------------------------------------------------
# Column mapping (rename/drop as metadata-only commits)
# ---------------------------------------------------------------------------
# Delta/Iceberg solve rename/drop with per-column IDs and PHYSICAL
# names: data files store the physical name forever, the committed
# schema maps logical -> physical, and a rename is one metadata commit.
# Here the mapping rides each StructField's metadata ("lake.id",
# "lake.phys") inside the schema the _COMMIT marker already stamps, so
# every per-version schema carries its own mapping (time travel, CDC,
# and the stream source inherit it for free).  Until the first
# rename/drop no field carries metadata and every helper below is an
# exact no-op — pre-mapping tables keep byte-identical behavior.

#: StructField metadata keys for the stable column id / physical name
_PHYS_KEY = "lake.phys"
_ID_KEY = "lake.id"


def _field_phys(f: T.StructField) -> str:
    """The column name stored in data files: the stamped physical name,
    or the logical name for unmapped fields."""
    return (f.metadata or {}).get(_PHYS_KEY, f.name)


def _mapping_active(schema: T.StructType) -> bool:
    return any(_field_phys(f) != f.name for f in schema.fields)


def _phys_schema(schema: T.StructType) -> T.StructType:
    """The schema as data files store it: fields under their physical
    names (types/nullability unchanged)."""
    return T.StructType(
        [
            T.StructField(_field_phys(f), f.dataType, f.nullable)
            for f in schema.fields
        ]
    )


def _to_phys(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project a LOGICAL-named DataFrame (exactly ``schema``'s columns)
    to physical names for a file write.  No-op without mapping."""
    if not _mapping_active(schema):
        return df
    return df.select(
        *[F.col(f.name).alias(_field_phys(f)) for f in schema.fields]
    )


def _read_files(
    spark: SparkSession,
    files: Sequence[str],
    schema: T.StructType,
    base_path: str | None = None,
) -> DataFrame:
    """THE file-read seam for mapped tables: read under the PHYSICAL
    schema (old files null-fill physical names they predate — the same
    add-only contract as before), then alias every column back to its
    logical name.  Without mapping this is exactly the old explicit-
    schema read."""
    reader = spark.read
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    if not _mapping_active(schema):
        return reader.schema(schema).parquet(*files)
    out = reader.schema(_phys_schema(schema)).parquet(*files)
    return out.select(
        *[F.col(_field_phys(f)).alias(f.name) for f in schema.fields]
    )


def _ensure_mapping(
    schema: T.StructType, mapping: dict
) -> tuple[T.StructType, dict]:
    """Assign ids + physical names to fields lacking them.  Existing
    fields keep their stamped mapping; a NEW field's physical name is
    its logical name unless that name is in use or RETIRED (a dropped
    column's physical name — reusing it would resurrect stale data
    from retained files), in which case it gets an opaque
    ``col_<id>_<hex>``.  Returns the mapped schema and the updated
    mapping dict ``{"max_id", "retired_phys"}`` for the commit."""
    import uuid as _uuid

    mapping = {
        "max_id": int(mapping.get("max_id", 0)),
        "retired_phys": list(mapping.get("retired_phys", [])),
    }
    used = set(mapping["retired_phys"])
    for f in schema.fields:
        md = f.metadata or {}
        if _ID_KEY in md:
            mapping["max_id"] = max(mapping["max_id"], int(md[_ID_KEY]))
        if _PHYS_KEY in md:
            used.add(md[_PHYS_KEY])
    fields = []
    for f in schema.fields:
        md = dict(f.metadata or {})
        if _ID_KEY in md and _PHYS_KEY in md:
            fields.append(f)
            continue
        if _ID_KEY not in md:
            mapping["max_id"] += 1
            md[_ID_KEY] = mapping["max_id"]
        if _PHYS_KEY not in md:
            if f.name in used:
                md[_PHYS_KEY] = (
                    f"col_{md[_ID_KEY]}_{_uuid.uuid4().hex[:8]}"
                )
            else:
                md[_PHYS_KEY] = f.name
            used.add(md[_PHYS_KEY])
        fields.append(T.StructField(f.name, f.dataType, f.nullable, md))
    return T.StructType(fields), mapping


def _rollback_conflict(spark: SparkSession, manifest_path: str,
                       added: Sequence[str],
                       intent_token: str | None = None) -> None:
    """Undo a transaction that lost the optimistic-concurrency race
    AFTER moving its files into the table: delete the moved-in files
    (no committed manifest references them) and this txn's ``_TXN``
    intent marker, so a retry from a fresh snapshot starts clean and
    incremental maintenance cannot adopt the orphans as new ingest.
    With ``intent_token`` the marker is deleted only while it is still
    OURS — if a cross-process adjudicator already rolled us back and a
    foreign writer landed its own intent, deleting theirs would
    needlessly fail their commit's token check."""
    jvm, hp, fs = _fs_for(spark, manifest_path)
    for f in added:
        fs.delete(hp(f), False)
    _clear_txn_intent(spark, manifest_path, intent_token)


def _move_files_in(fs, hp, planned: Sequence[tuple[str, str]]) -> list[str]:
    """Move each planned ``(src, dst)`` data file into the table and
    return the dst URIs normalized exactly like ``_leaf_file_uris``
    (fully-qualified via the FS; ``file:`` stripped to a posix path).
    Hadoop signals rename failure by returning false — checked here, so
    a silently-failed move can never leave a transaction half-applied
    with a success ledger."""
    added = []
    for src, dst in planned:
        d = hp(dst)
        fs.mkdirs(d.getParent())
        if not fs.rename(hp(src), d):
            raise IOError(f"rename failed moving {src} -> {dst}")
        q = fs.getFileStatus(d).getPath()
        uri = q.toString()
        if uri.startswith("file:"):
            uri = q.toUri().getPath()
        added.append(uri)
    return added


def _active_dvs(
    spark: SparkSession, manifest_path: str, version: int | None = None
) -> list[dict]:
    """The deletion vectors active at a committed snapshot (current, or
    ``version`` for time travel): ``[{"file", "version", "keys"}, …]``,
    carried forward by every commit until ``materialize_deletes``
    retires them.  Empty for tables that never took a merge-on-read
    write."""
    v = version if version is not None else manifest_version(
        spark, manifest_path
    )
    if v is None:
        return []
    return list(_commit_info(spark, manifest_path, v).get("dvs", []))


def _table_cdf(spark: SparkSession, manifest_path: str) -> bool:
    """Whether the table's carried change-data-feed flag is set (every
    rewrite commit then writes change-data files ``table_changes`` can
    serve row-level CDC from)."""
    v = manifest_version(spark, manifest_path)
    if v is None:
        return False
    return bool(_commit_info(spark, manifest_path, v).get("cdf", False))


#: Tombstone sets at or under this many keys keep the explicit
#: broadcast hint in ``_dv_suppress``; larger (provably, via the
#: entries' stamped row counts) sets join un-hinted so AQE sizes the
#: physical join — a 100 TB table's consolidated erasure debt must
#: never be FORCED into every executor's memory.
_DV_BROADCAST_MAX_ROWS = 4_000_000


def _dv_frame(spark: SparkSession, d: dict, keys: Sequence[str]) -> DataFrame:
    """One deletion-vector entry as ``keys + __dv_v`` rows.  A plain
    per-commit tombstone sidecar stamps the entry's single commit
    version on every row; a CONSOLIDATED sidecar (``per_row`` —
    written by the checkpoint fold, see ``_consolidate_dvs``) already
    stores each tombstone's own ``__dv_v`` column, preserving exact
    per-key suppression boundaries across the fold."""
    t = spark.read.parquet(d["file"])
    if d.get("per_row"):
        return t.select(*keys, F.col("__dv_v").cast("long"))
    return t.select(*keys).withColumn(
        "__dv_v", F.lit(int(d["version"])).cast("long")
    )


def _footer_num_rows(path: str) -> int | None:
    """A single parquet file's footer row count (driver-side pyarrow
    read), or None when unreadable — sized like one metadata HTTP
    range request on object storage."""
    import pyarrow.parquet as pq

    fpath = path
    if fpath.startswith("file:"):
        fpath = re.sub(r"^file:/+", "/", fpath)
    try:
        if "://" in fpath:
            from pyarrow import fs as pafs

            filesystem, rel = pafs.FileSystem.from_uri(fpath)
            with filesystem.open_input_file(rel) as f:
                return int(pq.ParquetFile(f).metadata.num_rows)
        return int(pq.ParquetFile(fpath).metadata.num_rows)
    except Exception:
        return None


def _dv_suppress(
    spark: SparkSession,
    df: DataFrame,
    manifest: DataFrame,
    dvs: Sequence[dict],
) -> DataFrame:
    """Apply active deletion vectors (key tombstones) to a scanned
    DataFrame: a row is suppressed iff some tombstone for its merge key
    was committed at a LATER version than the row's file was added —
    so a merge-on-read upsert's new rows (same commit as the tombstone)
    and any later re-insert survive, while every older version of the
    key disappears.  The tombstone set is batch-sized (broadcast), the
    file→added_version map is manifest-metadata-sized (broadcast), and
    the scan itself stays one pass — no shuffle enters the plan.

    File provenance rides ``input_file_name()``, normalized to the
    manifest's URI form: the scheme prefix strips and the URL
    percent-encoding decodes (``input_file_name`` returns the ENCODED
    URI — a hive partition value with a space reads back as ``%20``,
    which would miss the manifest join and mis-date every row in that
    partition as oldest; literal ``+`` is protected from
    ``url_decode``'s form-decoding first).  Rows from files the
    manifest does not know (legacy/pre-DV) conservatively count as
    oldest, so tombstones apply to them.

    Scale guard: the tombstone join is HINTED broadcast only while the
    stamped per-entry row counts prove the set is broadcast-sized
    (``_DV_BROADCAST_MAX_ROWS``); a consolidated sidecar that has
    grown past that (months of right-to-erasure trickle on a 100 TB
    table) joins un-hinted instead — AQE picks the physical strategy
    from real runtime stats rather than an OOM-forcing hint.  PLAIN
    entries without a row stamp (pre-r13 markers) keep the broadcast
    hint — they are per-commit batch-sized by construction — but an
    unstamped ``per_row`` entry (a consolidated sidecar whose commit-
    time footer read failed) is of UNKNOWN size and could carry months
    of folded tombstones, so it disables the hint instead."""
    dvs = list(dvs)
    if not dvs:
        return df
    keys = list(dvs[0]["keys"])
    for d in dvs[1:]:
        if list(d["keys"]) != keys:
            raise ValueError(
                "active deletion vectors disagree on merge keys "
                f"({keys} vs {list(d['keys'])}) — materialize_deletes "
                "before merging on a different key set"
            )
    tomb: DataFrame | None = None
    total_rows = 0
    hint_ok = True
    for d in dvs:
        t = _dv_frame(spark, d, keys)
        tomb = t if tomb is None else tomb.unionByName(t)
        r = d.get("rows")
        if r is not None:
            total_rows += int(r)
        elif d.get("per_row"):
            # a consolidated sidecar with no row stamp: size unknown
            # and potentially months of folded tombstones — never
            # force-broadcast it (plain unstamped entries stay hinted:
            # per-commit batch-sized by construction)
            hint_ok = False
    tmax = tomb.groupBy(*keys).agg(F.max("__dv_v").alias("__dv_v"))
    if hint_ok and total_rows <= _DV_BROADCAST_MAX_ROWS:
        tmax_side = F.broadcast(tmax)
    else:
        tmax_side = tmax  # too big / unknown — AQE decides from stats
    if "added_version" in manifest.columns:
        av = F.coalesce(F.col("added_version"), F.lit(-1)).cast("long")
    else:  # legacy manifest rows: every file predates every tombstone
        av = F.lit(-1).cast("long")
    fmap = manifest.select(
        F.col("file").alias("__dv_file"), av.alias("__dv_av")
    )
    return (
        df.withColumn(
            "__dv_file",
            F.url_decode(
                F.regexp_replace(
                    F.regexp_replace(F.input_file_name(), r"^file:/+", "/"),
                    r"\+",
                    "%2B",
                )
            ),
        )
        .join(F.broadcast(fmap), on="__dv_file", how="left")
        .join(tmax_side, on=keys, how="left")
        .filter(
            F.col("__dv_v").isNull()
            | (F.col("__dv_v") <= F.coalesce(F.col("__dv_av"), F.lit(-1)))
        )
        .drop("__dv_file", "__dv_av", "__dv_v")
    )


def _consolidate_dvs(
    spark: SparkSession, dvs: Sequence[dict], nxt: int
) -> tuple[list[dict], list[str]]:
    """Fold ALL active deletion-vector sidecars keep-last into ONE
    consolidated sidecar (per key, the max tombstone version — exactly
    the aggregate ``_dv_suppress`` computes at every read), so a table
    under a steady merge-on-read workload reads with O(1) tombstone
    scans instead of one per MOR commit since the last
    ``materialize_deletes``.  Delta bounds the same debt by
    consolidating per-file DV bitmaps at checkpoints; here the fold
    runs at the manifest's every-``_CHECKPOINT_EVERY`` checkpoint
    commit (``_commit_manifest_unleased``), which already pays a full
    manifest materialization, so the added cost is one distributed
    pass over the tombstone bytes — amortized O(debt / 10) per commit.

    The consolidated file stores ``keys + __dv_v`` (per-ROW versions,
    ``per_row`` on the entry), preserving each tombstone's own
    suppression boundary: a key deleted at v5 must keep suppressing
    only files added before v5 even when the fold itself commits at
    v12.  Output is sized at one file per ~128 MB of source sidecar
    bytes.  Returns ``(new_dv_entries, retired_old_sidecar_files)`` —
    the retired files enter the pending sweep backlog (kept while any
    retained snapshot references them, exactly like replaced data
    files).  Crash-safe: written before the commit marker; an
    uncommitted consolidated dir is an orphan ``vacuum_table``
    sweeps."""
    import uuid as _uuid

    keys = list(dvs[0]["keys"])
    tomb: DataFrame | None = None
    for d in dvs:
        t = _dv_frame(spark, d, keys)
        tomb = t if tomb is None else tomb.unionByName(t)
    folded = tomb.groupBy(*keys).agg(F.max("__dv_v").alias("__dv_v"))
    # sidecars live in <table>/_deletes/<commit-dir>/<file> — the
    # consolidated dir is a sibling commit-dir
    base = os.path.dirname(os.path.dirname(dvs[0]["file"]))
    ddir = f"{base}/consolidated-v{nxt}-{_uuid.uuid4().hex[:8]}"
    jvm, hp, fs = _fs_for(spark, base)
    total = 0
    for d in dvs:
        try:
            total += fs.getFileStatus(hp(d["file"])).getLen()
        except Exception:  # pragma: no cover - racing sweep
            pass
    folded.repartition(
        max(1, -(-total // (128 * 1024 * 1024)))
    ).write.mode("overwrite").parquet(ddir)
    files = _sidecar_files(fs, hp, ddir)
    vmax = max(int(d["version"]) for d in dvs)
    new_dvs = [
        {
            "file": f,
            "version": vmax,
            "keys": keys,
            "per_row": True,
            "rows": _footer_num_rows(f),
        }
        for f in files
    ]
    return new_dvs, [d["file"] for d in dvs]


def _sidecar_files(fs, hp, dirpath: str) -> list[str]:
    """Non-hidden files directly inside a sidecar dir, in the URI form
    the commit markers store (decoded path for the local FS, qualified
    URI otherwise) — ONE normalization shared by the tombstone writer,
    the change-data writer, and the vacuum sweep, so a URI-form fix
    can never diverge between them."""
    out = []
    for st in fs.listStatus(hp(dirpath)):
        name = st.getPath().getName()
        if st.isFile() and not name.startswith(("_", ".")):
            q = st.getPath()
            uri = q.toString()
            if uri.startswith("file:"):
                uri = q.toUri().getPath()
            out.append(uri)
    return sorted(out)


def _write_changes(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    version: int,
    schema: T.StructType | None = None,
) -> list[str]:
    """Write one commit's change-data rows (already carrying
    ``_change_type``/``_commit_version``) under ``<path>/_changes/``
    and return the written file URIs for the commit marker.  The files
    are invisible until the marker references them; a crashed attempt's
    files ride the ``_TXN`` added list and roll back with it.
    ``schema`` (the table's logical schema) converts the rows to
    PHYSICAL column names on mapped tables so sidecars stay uniform
    with the data files across renames; None = write as-is (the rows
    are already physical — e.g. a rebase restamp of an existing
    sidecar)."""
    import uuid

    if schema is not None:
        df = _to_phys(df, _cdf_schema(schema))
    cdir = path.rstrip("/") + f"/_changes/v{version}-{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(cdir)
    jvm, hp, fs = _fs_for(spark, path)
    return _sidecar_files(fs, hp, cdir)


def _txn_rewrite(
    spark: SparkSession,
    path: str,
    manifest_path: str | None,
    predicates: dict[str, tuple],
    rewrite: Callable[[DataFrame, "F.Column"], DataFrame],
    cols: Sequence[str] | None,
    count_matched: bool = False,
    candidates: Sequence[str] | None = None,
    keep_versions: int | None = None,
    txn: tuple[str, int] | None = None,
    changes_fn: Callable[[DataFrame, "F.Column"], DataFrame] | None = None,
    bloom_cols: Sequence[str] | None = None,
    bloom_ndv: int = 1_000_000,
    observe_input: bool = True,
    op: str | None = None,
) -> dict:
    """Per-table-serialized entry to ``_txn_rewrite_unlocked`` (see
    ``_log_lock`` for the writer-concurrency contract)."""
    with _log_lock(_manifest_dir(path, manifest_path)):
        return _txn_rewrite_unlocked(
            spark, path, manifest_path, predicates, rewrite, cols,
            count_matched=count_matched, candidates=candidates,
            keep_versions=keep_versions, txn=txn, changes_fn=changes_fn,
            bloom_cols=bloom_cols, bloom_ndv=bloom_ndv,
            observe_input=observe_input, op=op,
        )


def _txn_rewrite_unlocked(
    spark: SparkSession,
    path: str,
    manifest_path: str | None,
    predicates: dict[str, tuple],
    rewrite: Callable[[DataFrame, "F.Column"], DataFrame],
    cols: Sequence[str] | None,
    count_matched: bool = False,
    candidates: Sequence[str] | None = None,
    keep_versions: int | None = None,
    txn: tuple[str, int] | None = None,
    changes_fn: Callable[[DataFrame, "F.Column"], DataFrame] | None = None,
    bloom_cols: Sequence[str] | None = None,
    bloom_ndv: int = 1_000_000,
    observe_input: bool = True,
    op: str | None = None,
) -> dict:
    """The snapshot-committed candidate-file rewrite engine shared by
    ``delete_where`` and ``update_where``: prune candidate files
    through the manifest, apply ``rewrite(touched_rows, hit_condition)``
    to ONLY those files' rows, write the result to a temp sibling, log
    the ``_TXN`` intent, move the new files in (invisible to snapshot
    readers), commit the refreshed manifest atomically with the
    candidates recorded as removed, and sweep them post-commit.
    Hive-partitioned layouts round-trip through ``basePath`` read +
    ``partitionBy`` write + per-partition-directory moves, so untouched
    partitions keep their inodes.  Crash anywhere = a snapshot reader
    sees exactly one committed version; ``_recover_txn`` rolls the
    interrupted attempt back or forward at the next maintenance op.
    """
    import uuid

    mdir = _manifest_dir(path, manifest_path)
    jvm, hp, fs = _fs_for(spark, path)
    # gate BEFORE recovery/sweep: adjudicating a newer build's intent
    # or sweeping its backlog under this build's stale semantics could
    # destroy files a higher-level snapshot references
    _check_protocol_head(spark, mdir, f"{op or 'rewrite'} {path}")
    _recover_txn(spark, mdir)
    _sweep_removed(spark, mdir)

    if txn is not None:
        # exactly-once for STREAMED rewrites (a foreachBatch retention
        # delete / rectification update): a replayed batch id
        # short-circuits before any work, same contract as append/merge
        seen = last_committed_txn(spark, mdir, txn[0])
        if seen is not None and int(txn[1]) <= seen:
            return {
                "files_total": None,
                "files_rewritten": 0,
                "files_added": 0,
                "rows_matched": None,
                "rows_before": None,
                "rows_after": None,
                "partitioned": False,
                "version": manifest_version(spark, mdir),
                "skipped": True,
            }

    manifest = current_manifest(spark, mdir)
    if manifest is None:
        raise ValueError(
            f"no stats manifest at {mdir} — build one with "
            "update_stats_index first"
        )
    # pin the snapshot version HERE: the commit plans against exactly
    # this manifest, so an interloper committing after this point must
    # surface as SnapshotConflict, never as a silently-merged-from-
    # stale-snapshot commit
    snap_v = manifest_version(spark, mdir)
    files_total = manifest.count()
    ranges, hit = _pred_parts(predicates)
    # candidates default to manifest-pruned files; an explicit list
    # (compaction picks by SIZE, not by value span) must still be
    # snapshot-consistent, so it is intersected with the manifest
    if candidates is None:
        cand = prune_files(manifest, ranges)
    else:
        listed = {r["file"] for r in manifest.select("file").collect()}
        cand = [f for f in candidates if f in listed]
        if candidates and not cand:
            if any(not fs.exists(hp(f)) for f in candidates):
                # the candidates vanished from DISK too: a concurrent
                # commit (another compactor, an in-band maintain pass)
                # rewrote and swept them between the caller's listing
                # and this snapshot pin — the two-actor maintenance
                # race, not a bug.  Retryable: a retry re-lists from
                # the fresh snapshot and converges to a no-op.
                raise SnapshotConflict(
                    f"all {len(candidates)} candidate files were "
                    f"rewritten and swept by a concurrent commit at "
                    f"{mdir} — retry from a fresh listing"
                )
            # still on disk but entirely outside the committed
            # snapshot: a path-form mismatch or untracked files — a
            # silent no-op here would report success without compacting
            raise ValueError(
                f"none of the {len(candidates)} candidate files appear "
                f"in the committed manifest at {mdir} — path form "
                "mismatch, or the files were written outside the log"
            )
    ledger = {
        "files_total": int(files_total),
        "files_rewritten": 0,
        "files_added": 0,
        "rows_matched": 0,
        "rows_before": None,
        "rows_after": None,
        "partitioned": False,
        "version": snap_v,
        "skipped": False,
    }
    if not cand:
        return ledger

    # hive partition columns: stamped in the commit, else probed once
    pcols = _detect_pcols(spark, path, mdir)

    # ONE head-marker read serves schema AND constraints
    head = _commit_info(spark, mdir, snap_v) if snap_v is not None else {}
    sj = head.get("schema")
    schema = (
        T.StructType.fromJson(sj)
        if sj is not None
        else spark.read.parquet(path).schema
    )
    touched = _read_files(spark, cand, schema, base_path=path)
    # active deletion vectors apply to the candidate read: the rewrite
    # must not resurrect suppressed rows, and the rewritten files get
    # added_version = this commit (newer than every tombstone), so
    # their suppression is MATERIALIZED here for the touched files
    dvs = _active_dvs(spark, mdir, version=snap_v)
    touched = _dv_suppress(spark, touched, manifest, dvs)
    cdf_on = bool(head.get("cdf", False))
    cached = None
    if cdf_on and changes_fn is not None:
        # the change-data build below re-executes this subtree (the
        # update path even twice — preimage ∪ postimage); ONE cached
        # suppressed candidate scan serves the rewrite AND the feed;
        # released in the finally below on EVERY exit (a write-job or
        # observation failure must not leak the session cache)
        touched = touched.persist(StorageLevel.MEMORY_AND_DISK)
        cached = touched
    try:
        from pyspark.sql import Observation

        # every ledger count rides the ONE write job as CollectMetrics —
        # no pre-count of the candidates, no read-back of the temp output
        # (three saved jobs per transaction).  observe_input=False is for
        # rewrites whose plan re-executes the input subtree (a
        # repartitionByRange re-layout runs the range-sampling pass over
        # it first, which would double-count the metric); those take
        # rows_before from the manifest's per-file row counts instead.
        obs_in: "Observation | None" = None
        touched_obs = touched
        if observe_input:
            obs_in = Observation()
            touched_obs = touched.observe(
                obs_in,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(hit, 1).otherwise(0)).alias("m"),
            )
        out = rewrite(touched_obs, hit).select(*[f.name for f in schema.fields])
        obs_out = Observation()
        # CHECK constraints verify the rewritten content in the same
        # CollectMetrics as the ledger counts (an update_where SET can
        # introduce violations; deletes/re-layouts re-verify free)
        cons = dict(head.get("constraints") or {})
        out = out.observe(
            obs_out, F.count(F.lit(1)).alias("n"), *_constraint_metrics(cons)
        )

        tmp = path.rstrip("/") + f"._rewrite_{uuid.uuid4().hex[:8]}"
        # blooms install on the PHYSICAL parquet column names
        phys_of = {f.name: _field_phys(f) for f in schema.fields}
        writer = _with_blooms(
            _to_phys(out, schema).write.mode("overwrite"),
            [phys_of.get(c, c) for c in bloom_cols] if bloom_cols else None,
            bloom_ndv,
        )
        if pcols:
            writer = writer.partitionBy(*pcols)
        writer.parquet(tmp)
        # ground truth for the AQE zero-row fallback: the temp output's
        # own footers (O(files written) driver-side reads, and only on
        # the rare fallback path)
        _verify = lambda: _dir_footer_rows(spark, tmp)  # noqa: E731
        vals_out = _obs_result(obs_out, verify_rows=_verify)
        if cons:
            try:
                _raise_constraint_violations(
                    vals_out, cons, f"rewrite of {path}"
                )
            except ConstraintViolation:
                fs.delete(hp(tmp), True)
                raise
        if obs_in is not None:
            vals_in = _obs_result(obs_in, verify_rows=_verify)
            rows_before = int(vals_in["n"] or 0)
            rows_matched = (
                int(vals_in["m"] or 0) if count_matched else None
            )
        else:
            # the manifest already tracks per-file counts — exact for the
            # candidate set (per-suppression on DV tables: a re-layout
            # also materializes tombstones, and the delta shows here)
            cand_df2 = spark.createDataFrame(
                [(f,) for f in cand], "file string"
            )
            rows_before = int(
                manifest.join(F.broadcast(cand_df2), on="file", how="leftsemi")
                .agg(F.sum("n_rows"))
                .collect()[0][0]
                or 0
            )
            rows_matched = None
        rows_after = int(vals_out["n"] or 0)

        expected = (snap_v if snap_v is not None else -1) + 1

        # change-data feed: when the table's cdf flag is set, this commit's
        # row-level changes land as sidecar files table_changes serves —
        # computed by the operation (delete/update know their own change
        # rows; compaction's is the explicit empty set)
        changes_files: list[str] | None = None
        if cdf_on:  # pinned to the snapshot's head marker (one read)
            cdc = changes_fn(touched, hit) if changes_fn is not None else None
            changes_files = (
                _write_changes(
                    spark,
                    cdc.withColumn(
                        "_commit_version", F.lit(expected).cast("long")
                    ),
                    path,
                    expected,
                    schema=schema,
                )
                if cdc is not None
                else []
            )

        # plan final resting places, log the intent, THEN move
        planned = [
            (tmp + "/" + rel, path.rstrip("/") + "/" + rel)
            for rel, _ln in _leaf_files(spark, tmp)
        ]
        itok = _write_txn_intent(
            spark,
            mdir,
            {
                "expected_version": expected,
                "added": [dst for _src, dst in planned]
                + list(changes_files or []),
                "removed": list(cand),
            },
        )
        added = _move_files_in(fs, hp, planned)
        fs.delete(hp(tmp), True)

        if cols is None:
            cols = [c[:-4] for c in manifest.columns if c.endswith("_min")]
        # O(batch) commit: only the new files' stats rows are written; the
        # rewritten candidates ride the marker's removed list and fall out
        # of the snapshot at reconstruction (materialized at the next
        # checkpoint) — driver-side footer reads for batch-sized adds
        delta_df = None
        delta_rows = delta_schema = None
        if len(added) <= _LOCAL_STATS_MAX:
            delta_rows, delta_schema = _local_stats_rows(
                added, list(cols), schema, pcols
            )
        else:
            delta_df = parquet_stats_index(
                spark, path, list(cols), paths=added, schema=schema
            )
        try:
            version = _commit_manifest(
                spark, mdir, delta_df,
                removed=cand, expected_version=expected,
                keep_versions=keep_versions, partition_by=pcols, txn=txn,
                added_files=added, changes=changes_files,
                added_rows=delta_rows, stats_schema=delta_schema,
                op=op, intent_token=itok,
                metrics={
                    "rows_written": int(rows_after),
                    "files_added": len(added),
                    "files_removed": len(cand),
                },
            )
        except SnapshotConflict:
            _rollback_conflict(
                spark, mdir, added + list(changes_files or []),
                intent_token=itok,
            )
            raise
        _post_commit_sweep(spark, mdir)
        _clear_txn_intent(spark, mdir, itok)
        ledger.update(
            {
                "files_rewritten": len(cand),
                "files_added": len(added),
                "rows_matched": (
                    int(rows_matched) if rows_matched is not None else None
                ),
                "rows_before": int(rows_before),
                "rows_after": int(rows_after),
                "partitioned": bool(pcols),
                "version": int(version),
                # row-preserving rewrites (compact/cluster) on a DV table
                # ALSO materialize the touched files' tombstone
                # suppression — callers use this to explain a physical
                # rows_before > rows_after that changed no visible row
                "dvs_active": bool(dvs),
            }
        )
        return ledger
    finally:
        if cached is not None:
            cached.unpersist()


def _delete_mor_unlocked(
    spark: SparkSession,
    path: str,
    manifest_path: str | None,
    predicates: dict[str, tuple],
    keys: Sequence[str],
    keep_versions: int | None = None,
    txn: tuple[str, int] | None = None,
) -> dict:
    """Merge-on-read row-level DELETE: the matched rows' KEYS land as
    a deletion-vector tombstone sidecar recorded in the commit — NO
    data file is rewritten (``files_rewritten == files_added == 0``),
    and ``read_table`` suppresses the rows at serve time exactly like
    a merge-on-read upsert's.  This is the scattered-delete primitive:
    a right-to-erasure purge keyed on ``user_id`` over a ts-clustered
    100 TB table matches a handful of rows in EVERY file — copy-on-
    write would rewrite the table; here the write cost is O(matched
    rows) and ``materialize_deletes`` folds the suppression back into
    the data files during maintenance (Delta's DV delete shape).

    ``keys`` must uniquely identify visible rows (the same contract as
    ``merge_into`` — these are keyed tables): a tombstone suppresses
    EVERY visible row of its key, so on a non-unique key a partial
    match would over-delete.  Matching keys are found with ONE
    manifest-pruned scan of the candidate files (the minimum to know
    what to delete); on a CDF table the same cached scan feeds the
    delete change rows."""
    import uuid

    mdir = _manifest_dir(path, manifest_path)
    jvm, hp, fs = _fs_for(spark, path)
    snap_v, head = _check_protocol_head(
        spark, mdir, f"delete_where (merge-on-read) {path}"
    )
    _recover_txn(spark, mdir)
    _sweep_removed(spark, mdir)

    if txn is not None:
        seen = head.get("txns", {}).get(str(txn[0]))
        if seen is not None and int(txn[1]) <= int(seen):
            return {
                "files_total": None,
                "files_rewritten": 0,
                "files_added": 0,
                "dv_files": 0,
                "rows_deleted": 0,
                "version": snap_v,
                "skipped": True,
                "strategy": "merge-on-read",
            }

    manifest = current_manifest(spark, mdir)
    if manifest is None:
        raise ValueError(
            f"no stats manifest at {mdir} — build one with "
            "update_stats_index first"
        )
    dvs = list(head.get("dvs", []))
    keys = list(keys)
    if dvs and list(dvs[0]["keys"]) != keys:
        raise ValueError(
            f"table has active deletion vectors keyed on "
            f"{list(dvs[0]['keys'])} but this delete uses {keys} — "
            "materialize_deletes before deleting on a different key"
        )
    ranges, hit = _pred_parts(predicates)
    cand, files_total = _prune_files_with_total(manifest, ranges)
    ledger = {
        "files_total": int(files_total),
        "files_rewritten": 0,
        "files_added": 0,
        "dv_files": 0,
        "rows_deleted": 0,
        "version": snap_v,
        "skipped": False,
        "strategy": "merge-on-read",
    }
    if not cand:
        return ledger

    sj = head.get("schema")
    schema = (
        T.StructType.fromJson(sj)
        if sj is not None
        else spark.read.parquet(path).schema
    )
    missing = [k for k in keys if k not in {f.name for f in schema.fields}]
    if missing:
        raise ValueError(f"delete keys {missing} are not table columns")
    touched = _read_files(spark, cand, schema, base_path=path)
    # suppress already-tombstoned rows first: a key whose every LIVE
    # row misses the predicate must not re-match through a stale one
    matched = _dv_suppress(spark, touched, manifest, dvs).filter(hit)
    cdf_on = bool(head.get("cdf", False))
    if cdf_on:
        matched = matched.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        from pyspark.sql import Observation

        expected = (snap_v if snap_v is not None else -1) + 1
        obs = Observation()
        # keys are unique per visible row (the merge contract) and
        # _dv_suppress aggregates per key anyway — no dedup shuffle
        tomb = matched.observe(
            obs, F.count(F.lit(1)).alias("n")
        ).select(*keys)
        ddir = (
            path.rstrip("/")
            + f"/_deletes/v{expected}-{uuid.uuid4().hex[:8]}"
        )
        tomb.coalesce(1).write.mode("overwrite").parquet(ddir)
        rows_matched = int(
            _obs_result(
                obs, verify_rows=lambda: _dir_footer_rows(spark, ddir)
            )["n"]
            or 0
        )
        if rows_matched == 0:
            # nothing to delete: no commit needed (a txn replay
            # re-derives the same no-op — still exactly-once)
            fs.delete(hp(ddir), True)
            return ledger
        dv_files = _sidecar_files(fs, hp, ddir)

        changes_files: list[str] | None = None
        if cdf_on:
            changes_files = _write_changes(
                spark,
                matched.withColumn("_change_type", F.lit("delete"))
                .withColumn(
                    "_commit_version", F.lit(expected).cast("long")
                ),
                path,
                expected,
                schema=schema,
            )
        # the dv entries keep the ORIGINAL version stamp (= the read
        # snapshot + 1) even if a rebase re-commits later: suppression
        # must apply exactly to the files the delete actually read,
        # never to a winner append's rows (serial-order semantics)
        dv_entries = [
            # per-entry row counts feed the dv-debt metrics in
            # table_history without re-reading sidecar footers
            {
                "file": f,
                "version": expected,
                "keys": keys,
                "rows": _footer_num_rows(f),
            }
            for f in dv_files
        ]
        commit_v = expected
        rebased = 0
        while True:
            itok = _write_txn_intent(
                spark,
                mdir,
                {
                    "expected_version": commit_v,
                    "added": dv_files + list(changes_files or []),
                    "removed": [],
                },
            )
            try:
                version = _commit_manifest(
                    spark, mdir, None, removed=[],
                    expected_version=commit_v, txn=txn,
                    keep_versions=keep_versions,
                    dvs_add=dv_entries,
                    changes=changes_files,
                    op="delete (merge-on-read)",
                    intent_token=itok,
                    metrics={
                        "rows_deleted": int(rows_matched),
                        "dv_files": len(dv_files),
                    },
                )
                break
            except SnapshotConflict:
                # logical conflict detection: a tombstone-only commit
                # never conflicts with PURE-APPEND winners — re-commit
                # the already-written sidecar at the next version
                # instead of re-running the candidate scan
                # (_rebase_tombstone names the cases needing a retry)
                rb = (
                    _rebase_tombstone(
                        spark, mdir, txn, cdf_on, schema,
                        dict(head.get("constraints") or {}), None,
                        dv_files + list(changes_files or []),
                        head.get("col_mapping"),
                        snap_v if snap_v is not None else -1,
                        dv_keys=keys, our_dv_files=dv_files,
                    )
                    if rebased < 20
                    else None
                )
                if rb is None or rb == "skip":
                    _rollback_conflict(
                        spark, mdir, dv_files + list(changes_files or []),
                        intent_token=itok,
                    )
                    if rb == "skip":
                        return {
                            **ledger,
                            "skipped": True,
                            "version": manifest_version(spark, mdir),
                        }
                    raise
                commit_v = rb[0]
                rebased += 1
                if changes_files:
                    # CDC rows carry the commit version inside the
                    # sidecar parquet — restamp for the new version
                    old_changes = list(changes_files)
                    changes_files = _write_changes(
                        spark,
                        spark.read.parquet(*old_changes).withColumn(
                            "_commit_version",
                            F.lit(commit_v).cast("long"),
                        ),
                        path,
                        commit_v,
                    )
                    for d in {os.path.dirname(f) for f in old_changes}:
                        fs.delete(hp(d), True)
        _clear_txn_intent(spark, mdir, itok)
        ledger.update(
            {
                "dv_files": len(dv_files),
                "rows_deleted": rows_matched,
                "version": int(version),
                "rebased": rebased,
            }
        )
        return ledger
    finally:
        if cdf_on:
            matched.unpersist()


def delete_where(
    spark: SparkSession,
    path: str,
    manifest_path: str | None,
    predicates: dict[str, tuple],
    cols: Sequence[str] | None = None,
    keep_versions: int | None = None,
    txn: tuple[str, int] | None = None,
    strategy: str = "copy-on-write",
    keys: Sequence[str] | None = None,
) -> dict:
    """Row-level delete over a bare-parquet dataset — flat OR
    hive-partitioned — manifest-pruned and SNAPSHOT-COMMITTED: remove
    every row matching ALL predicates (``col: (lo, hi)`` closed range,
    or scalar equality) by rewriting ONLY the files whose footer spans
    can contain such rows (``prune_files``), leaving every other file
    byte-untouched.  This is the retention/right-to-erasure primitive —
    on a ts-clustered 100 TB table a one-week purge rewrites the
    handful of files tiling that week, not the table.

    Hive-partitioned layouts are rewritten per partition: candidates
    are read with ``basePath`` (directory-encoded values surface as
    columns), survivors are written back ``partitionBy`` the same
    columns, and each survivor file is moved into its original
    partition directory — untouched partitions keep their inodes.

    Transaction protocol (see the snapshot-commit section above and
    ``_txn_rewrite``): intent-logged, add-before-commit,
    sweep-after-commit — a crash anywhere leaves a snapshot reader on
    exactly one committed version (duplicates impossible by
    construction), with recovery at the next maintenance op.
    Crash-injection-tested on both sides of the commit point.

    ``manifest_path`` None uses the in-table default; ``cols`` (stats
    columns for the refresh) default to the manifest's own ``*_min``
    columns.  Returns the ledger: files_total, files_rewritten,
    files_added, rows_deleted, rows_before, rows_after, partitioned,
    version.

    ``strategy='merge-on-read'`` (requires ``keys`` — unique-row keys,
    the ``merge_into`` contract) removes the write amplification for
    SCATTERED deletes: the matched keys land as a deletion-vector
    tombstone and ZERO data files are rewritten — the
    right-to-erasure shape when the predicate cuts across the
    clustering (a user-id purge over a ts-clustered table).  See
    ``_delete_mor_unlocked``; ``materialize_deletes`` folds the
    suppression back in.

    Isolation divergence from Delta (merge-on-read only): a collided
    MOR delete re-commits over PURE-APPEND winners even when the
    appended rows match the delete predicate — the tombstone keeps its
    read-snapshot version stamp, so the outcome is the exact SERIAL
    order delete-then-append (the winner's rows survive; serializable,
    oracle-gated).  Delta's conflict matrix instead raises
    ConcurrentAppendException for predicate-matching appends even
    under WriteSerializable; callers porting Delta retry logic should
    expect the silent (and serializable) ordering here, or force the
    full retry themselves by re-running under ``retry_on_conflict``
    after a read-validate.  See ``_rebase_tombstone`` for the exact
    commute/retry split.
    """
    if strategy not in ("copy-on-write", "merge-on-read"):
        raise ValueError(f"unknown delete strategy {strategy!r}")
    if strategy == "merge-on-read":
        if not keys:
            raise ValueError(
                "delete_where(strategy='merge-on-read') needs keys — "
                "the tombstone suppresses rows BY KEY"
            )
        with _log_lock(_manifest_dir(path, manifest_path)):
            return _delete_mor_unlocked(
                spark, path, manifest_path, predicates, keys,
                keep_versions=keep_versions, txn=txn,
            )
    ledger = _txn_rewrite(
        spark,
        path,
        manifest_path,
        predicates,
        lambda touched, hit: touched.filter(~hit),
        cols,
        keep_versions=keep_versions,
        txn=txn,
        # change-data feed (when the table's flag is set): the deleted
        # rows, verbatim
        changes_fn=lambda touched, hit: touched.filter(hit).withColumn(
            "_change_type", F.lit("delete")
        ),
        op="delete",
    )
    rb, ra = ledger.pop("rows_before"), ledger.pop("rows_after")
    ledger.pop("rows_matched", None)
    ledger.pop("dvs_active", None)  # engine-internal bookkeeping
    ledger.update(
        {
            "rows_deleted": int(rb - ra) if rb is not None else 0,
            "rows_before": rb,
            "rows_after": ra,
        }
    )
    return ledger


def _update_mor_unlocked(
    spark: SparkSession,
    path: str,
    manifest_path: str | None,
    predicates: dict[str, tuple],
    resolved: dict[str, "F.Column"],
    keys: Sequence[str],
    keep_versions: int | None = None,
    txn: tuple[str, int] | None = None,
) -> dict:
    """Merge-on-read row-level UPDATE: the matched rows with their SET
    expressions applied land as NEW files and their keys as a
    deletion-vector tombstone — NO candidate file is rewritten — by
    delegating to the merge-on-read merge engine with the updated rows
    as the source (an UPDATE on a keyed table IS a self-merge).  The
    scattered-rectification shape: a user-keyed backfill over a
    ts-clustered 100 TB table writes O(matched rows), not the touched
    files.  Same key-uniqueness contract as ``merge_into``; CDC tables
    get update pre/postimages from the merge engine."""
    mdir = _manifest_dir(path, manifest_path)
    snap_v, head = _check_protocol_head(
        spark, mdir, f"update_where (merge-on-read) {path}"
    )
    _recover_txn(spark, mdir)
    _sweep_removed(spark, mdir)
    skipped_ledger = {
        "files_total": None,
        "files_rewritten": 0,
        "files_added": 0,
        "dv_files": 0,
        "rows_updated": 0,
        "version": snap_v,
        "skipped": True,
        "strategy": "merge-on-read",
    }
    if txn is not None:
        seen = head.get("txns", {}).get(str(txn[0]))
        if seen is not None and int(txn[1]) <= int(seen):
            return skipped_ledger
    manifest = current_manifest(spark, mdir)
    if manifest is None:
        raise ValueError(
            f"no stats manifest at {mdir} — build one with "
            "update_stats_index first"
        )
    keys = list(keys)
    dvs = list(head.get("dvs", []))
    if dvs and list(dvs[0]["keys"]) != keys:
        raise ValueError(
            f"table has active deletion vectors keyed on "
            f"{list(dvs[0]['keys'])} but this update uses {keys} — "
            "materialize_deletes before updating on a different key"
        )
    ranges, hit = _pred_parts(predicates)
    cand, files_total = _prune_files_with_total(manifest, ranges)
    if not cand:
        return {**skipped_ledger, "files_total": int(files_total), "skipped": False}
    sj = head.get("schema")
    schema = (
        T.StructType.fromJson(sj)
        if sj is not None
        else spark.read.parquet(path).schema
    )
    touched = _read_files(spark, cand, schema, base_path=path)
    matched = _dv_suppress(spark, touched, manifest, dvs).filter(hit)
    # SET expressions evaluate against the ORIGINAL row (SQL UPDATE
    # semantics — one withColumns call), pinned to the stored types
    src = matched.withColumns(
        {
            c: expr.cast(schema[c].dataType)
            for c, expr in resolved.items()
        }
    )
    led = _merge_into_unlocked(
        spark, src, path, keys, manifest_path=manifest_path,
        mode="update", txn=txn, keep_versions=keep_versions,
        strategy="merge-on-read", op="update (merge-on-read)",
    )
    return {
        "files_total": int(files_total),
        "files_rewritten": 0,
        "files_added": int(led["files_added"]),
        "dv_files": int(led.get("dv_files", 0) or 0),
        "rows_updated": int(led["rows_source"]),
        "version": led["version"],
        "skipped": bool(led.get("skipped", False)),
        "strategy": "merge-on-read",
    }


def update_where(
    spark: SparkSession,
    path: str,
    manifest_path: str | None,
    predicates: dict[str, tuple],
    set_exprs: dict[str, "F.Column | str"],
    cols: Sequence[str] | None = None,
    keep_versions: int | None = None,
    txn: tuple[str, int] | None = None,
    strategy: str = "copy-on-write",
    keys: Sequence[str] | None = None,
) -> dict:
    """Row-level UPDATE over a bare-parquet dataset — the lakehouse
    ``UPDATE t SET c = expr WHERE …`` — manifest-pruned and
    snapshot-committed through the same transaction engine as
    ``delete_where`` (``_txn_rewrite``): only files whose footer spans
    can contain matching rows are rewritten; within them, matching rows
    get each ``set_exprs`` column replaced (values may be Columns or
    SQL expression strings, evaluated against the row — non-matching
    rows pass through bit-untouched), and the refreshed manifest
    commits atomically so a snapshot reader sees either no update or
    the whole update, never a torn one.

    At 100 TB this is the GDPR-rectification / backfill primitive: a
    mis-ingested week on a ts-clustered table rewrites the files tiling
    that week, not the table.  Returns the delete ledger shape with
    ``rows_updated`` (matching rows) instead of ``rows_deleted`` —
    ``rows_before == rows_after`` always (updates never change
    cardinality; asserted by the tests and the registered query's
    oracle).

    Isolation divergence from Delta (``strategy='merge-on-read'``
    only): a collided MOR update re-commits over pure-append winners
    in exact serial order (tombstone keeps its read-snapshot stamp —
    winner appends survive even when they match the predicate), where
    Delta raises ConcurrentAppendException; see ``delete_where`` for
    the full note.
    """
    resolved = {
        c: (F.expr(e) if isinstance(e, str) else e)
        for c, e in set_exprs.items()
    }
    if strategy not in ("copy-on-write", "merge-on-read"):
        raise ValueError(f"unknown update strategy {strategy!r}")
    if strategy == "merge-on-read":
        # scattered rectification: matched rows land as new files +
        # key tombstones, zero candidate rewrites (see
        # _update_mor_unlocked) — requires unique-row keys
        if not keys:
            raise ValueError(
                "update_where(strategy='merge-on-read') needs keys — "
                "the updated rows re-land BY KEY over a tombstone"
            )
        with _log_lock(_manifest_dir(path, manifest_path)):
            return _update_mor_unlocked(
                spark, path, manifest_path, predicates, resolved, keys,
                keep_versions=keep_versions, txn=txn,
            )

    def _apply(touched: DataFrame, hit) -> DataFrame:
        # ONE withColumns call: every SET expression evaluates against
        # the ORIGINAL row (SQL UPDATE semantics) — sequential
        # withColumn would leak earlier assignments into later ones.
        # The cast pins each column to its stored type so the table's
        # schema (and the manifest's stats types) cannot drift.
        return touched.withColumns(
            {
                c: F.when(hit, expr)
                .otherwise(F.col(c))
                .cast(touched.schema[c].dataType)
                for c, expr in resolved.items()
            }
        )

    def _cdc(touched: DataFrame, hit) -> DataFrame:
        # pre/postimages of the matched rows — the postimage re-applies
        # the SET expressions to the preimage rows (hit is already
        # true there), so predicate columns the update itself moves
        # cannot mislabel the postimage
        pre = touched.filter(hit)
        return pre.withColumn(
            "_change_type", F.lit("update_preimage")
        ).unionByName(
            _apply(pre, F.lit(True)).withColumn(
                "_change_type", F.lit("update_postimage")
            )
        )

    ledger = _txn_rewrite(
        spark, path, manifest_path, predicates, _apply, cols,
        count_matched=True, keep_versions=keep_versions, txn=txn,
        changes_fn=_cdc,
        op="update",
    )
    ledger["rows_updated"] = ledger.pop("rows_matched") or 0
    ledger.pop("dvs_active", None)  # engine-internal bookkeeping
    return ledger


def update_stats_index(
    spark: SparkSession,
    path: str,
    manifest_path: str | None = None,
    cols: Sequence[str] | None = None,
    keep_versions: int | None = None,
) -> dict:
    """Per-table-serialized entry to ``_update_stats_index_unlocked``
    (see ``_log_lock`` for the writer-concurrency contract)."""
    with _log_lock(_manifest_dir(path, manifest_path)):
        return _update_stats_index_unlocked(
            spark, path, manifest_path=manifest_path, cols=cols,
            keep_versions=keep_versions,
        )


def _update_stats_index_unlocked(
    spark: SparkSession,
    path: str,
    manifest_path: str | None = None,
    cols: Sequence[str] | None = None,
    keep_versions: int | None = None,
) -> dict:
    """Incrementally maintain the persisted stats manifest for the
    dataset at ``path``: footer-read ONLY files not yet in the
    manifest, drop manifest rows whose files are gone
    (compaction/vacuum), keep every already-indexed row as-is, and
    publish the result as a new SNAPSHOT VERSION with one atomic commit
    (see the snapshot-commit section above — there is never a moment
    with no readable manifest, and a crashed run leaves the previous
    version current).  Per run the cost is O(new files) footer reads +
    an O(files) metadata listing — a continuously-ingesting lake
    appends a few files per trigger, and re-footer-reading a
    million-file table each batch would defeat the manifest's purpose.
    Interrupted ``delete_where`` transactions are recovered first, and
    files in the head commit's pending-removal backlog are EXCLUDED
    from adoption (on a ``retain_removed`` table a rewrite's replaced
    files legitimately stay on disk for time travel — they are
    known-removed history, not new ingest), so the "unknown file on
    disk == new ingest" rule never resurrects deleted data.

    ``manifest_path`` None uses the in-table default
    (``<path>/_stats_manifest``); a legacy flat manifest at the given
    path is migrated into the versioned layout on the first commit.
    ``cols`` defaults to the stats columns the existing manifest
    already carries (required on the first build).

    First call (no manifest yet) degrades to a full build.  Returns a
    ledger: files_total, files_new, files_removed, files_carried,
    version.
    """
    mdir = _manifest_dir(path, manifest_path)
    _check_protocol_head(spark, mdir, f"update_stats_index {path}")
    _recover_txn(spark, mdir)
    _sweep_removed(spark, mdir)

    current = _leaf_file_uris(spark, path)
    snap_v = manifest_version(spark, mdir)
    expected = (snap_v if snap_v is not None else -1) + 1
    old = current_manifest(spark, mdir)

    if old is None:
        if cols is None:
            raise ValueError(
                "cols is required for the first manifest build"
            )
        version = _commit_manifest(
            spark,
            mdir,
            parquet_stats_index(spark, path, list(cols), paths=current),
            removed=[],
            expected_version=expected,
            keep_versions=keep_versions,
            partition_by=_detect_pcols(spark, path, mdir),
            added_files=current,
            op="update-stats-index",
        )
        return {
            "files_total": len(current),
            "files_new": len(current),
            "files_removed": 0,
            "files_carried": 0,
            "version": version,
        }

    if cols is None:
        cols = [c[:-4] for c in old.columns if c.endswith("_min")]
    # O(files) driver set — the same bound as prune_files' planner list
    old_files = {r["file"] for r in old.select("file").collect()}
    cur_set = set(current)
    # retained-removed history (the pending backlog a retention table
    # keeps on disk for time travel) is known-REMOVED, never new ingest
    # — adopting it would resurrect deleted/pre-merge rows into the
    # head and (via the re-add backlog pop) orphan it from the sweep
    head_marker = (
        _commit_info(spark, mdir, snap_v) if snap_v is not None else {}
    )
    pending_disk = {e["file"] for e in _pending_entries(head_marker)}
    new = sorted(cur_set - old_files - pending_disk)
    gone = sorted(old_files - cur_set)

    # the rebuild is the maintenance path, so it materializes a full
    # CHECKPOINT (the commit carries the adopted files as added and the
    # vanished ones as removed; the checkpoint write folds both in)
    version = _commit_manifest(
        spark, mdir,
        # None (not an empty frame) when nothing is new — an empty
        # union would still stamp the bookkeeping column onto a
        # legacy manifest that migrates unchanged
        parquet_stats_index(
            spark, path, list(cols), paths=new,
            schema=committed_schema(spark, mdir),
        )
        if new
        else None,
        removed=gone, expected_version=expected,
        keep_versions=keep_versions,
        partition_by=_detect_pcols(spark, path, mdir),
        added_files=new, force_checkpoint=True,
        op="update-stats-index",
        metrics={"files_new": len(new), "files_removed": len(gone)},
    )
    return {
        "files_total": len(current),
        "files_new": len(new),
        "files_removed": len(gone),
        "files_carried": len(cur_set & old_files),
        "version": version,
    }


def read_table(
    spark: SparkSession,
    path: str,
    predicates: dict | None = None,
    manifest_path: str | None = None,
    version: int | None = None,
    as_of_timestamp: float | None = None,
) -> DataFrame:
    """THE composed read entry point for a manifest-tracked bare-parquet
    table: one call applies every skipping tier the layout provides,
    in planner order —

    1. **File skipping** — the snapshot stats manifest
       (``current_manifest`` + ``prune_files``) drops whole files whose
       footer spans cannot match; partition-column predicates prune
       here too (directory-derived manifest stats).
    2. **Row-group skipping** — the surviving files' footer min/max
       meet the pushed filters (free when the data was laid out with
       ``cluster_parquet``).
    3. **Bloom/dictionary skipping** — scalar predicates stay ``==`` in
       the pushed filter, so parquet bloom filters installed by
       ``cluster_parquet``/``compact_parquet`` (``bloom_cols``) and
       dictionary pages skip row groups on point lookups.

    The exact row-level condition is applied ON TOP, so the result
    always equals the plain filtered scan (the registered query's
    oracle recomputes it from the raw table every round).  Predicates:
    ``col: (lo, hi)`` closed range or ``col: value`` equality.

    Reading through the manifest also buys SNAPSHOT consistency: the
    scanned file list is exactly one committed version, never a
    mid-delete mixture.  Without a manifest this degrades to a plain
    directory scan plus the same filter.

    ``version`` pins a retained committed snapshot instead of the
    current one (time travel) — valid as long as that snapshot's files
    are retained, i.e. back across append/ingest commits always, and
    across rewrites too on a table created with
    ``append_files(retain_removed=True)`` — a default (zero-retention)
    table sweeps replaced files at the rewrite's commit, so travel
    past one raises.  ``as_of_timestamp`` (epoch seconds) is the TIMESTAMP AS OF
    form — resolved through the commit markers' monotone ``ts`` stamps
    (``version_at_timestamp``) to the snapshot that was current at
    that instant; mutually exclusive with ``version``.

    Active deletion vectors (merge-on-read upserts) apply at serve
    time: tombstoned keys' OLDER rows are suppressed via a broadcast
    join against the batch-sized tombstone set — no shuffle enters the
    plan, and ``materialize_deletes`` folds the suppression back into
    the data files.
    """
    ranges, cond = _pred_parts(predicates)
    mdir = _manifest_dir(path, manifest_path)
    if as_of_timestamp is not None:
        if version is not None:
            raise ValueError(
                "read_table: version and as_of_timestamp are mutually "
                "exclusive"
            )
        version = version_at_timestamp(
            spark, path, as_of_timestamp, manifest_path
        )
    if version is None:
        # pin ONE committed snapshot for the whole read — resolving
        # manifest/schema/deletion-vectors independently would let a
        # concurrent merge-on-read commit land between them and apply
        # NEWER tombstones against the OLDER file list (keys vanish)
        version = manifest_version(spark, mdir)
    if version is not None:
        # refuse snapshots whose stamped protocol exceeds this build's
        # feature level — misresolving a mapped/widened table is worse
        # than failing (the resolved VERSION's marker governs: time
        # travel to a pre-feature snapshot keeps working).  An invalid
        # version falls through to current_manifest's actionable
        # not-committed/retained error.
        try:
            head = _commit_info(spark, mdir, version)
        except Exception:
            head = None
        if head is not None:
            _check_protocol(head, "read", f"read_table {path}")
    manifest = current_manifest(spark, mdir, version=version)
    if manifest is None:
        return spark.read.parquet(path).filter(cond)
    # prune_files skips predicates on unindexed columns conservatively;
    # with no prunable predicate this is the full snapshot file list
    files = prune_files(manifest, ranges)
    # the committed snapshot's schema (old files null-fill columns a
    # later batch evolved in); pre-schema tables fall back to footers
    schema = committed_schema(spark, mdir, version=version)
    if schema is None:
        schema = spark.read.parquet(path).schema
    if not files:
        return spark.createDataFrame([], schema).filter(cond)
    out = _read_files(spark, files, schema, base_path=path)
    dvs = _active_dvs(spark, mdir, version=version)
    if dvs:
        # the suppression joins move the merge keys to the front —
        # restore the committed column order (a serve-path surface
        # must not reorder columns based on join mechanics)
        out = _dv_suppress(spark, out, manifest, dvs).select(
            *[f.name for f in schema.fields]
        )
    return out.filter(cond)


def last_committed_txn(
    spark: SparkSession, manifest_path: str, app_id: str
) -> int | None:
    """The highest batch id ``app_id`` has committed into the manifest
    (the txn map carries forward across every commit), or None — the
    idempotence check a replayed streaming micro-batch consults."""
    v = manifest_version(spark, manifest_path)
    if v is None:
        return None
    commit = _read_json_marker(spark, f"{manifest_path}/v{v}/_COMMIT")
    got = commit.get("txns", {}).get(str(app_id))
    return int(got) if got is not None else None


def _rebase_append(
    spark: SparkSession,
    mdir: str,
    txn: tuple[str, int] | None,
    planned_cdf: bool,
    our_schema: T.StructType,
    checked_constraints: dict[str, str],
    our_pcols: Sequence[str] | None,
    our_files: Sequence[str],
    planned_cmap: dict | None = None,
) -> "tuple[int, T.StructType] | str | None":
    """Logical conflict detection for a PURE APPEND that lost the
    optimistic-concurrency race AFTER moving its files in (Delta's
    conflict-checker shape): two appends never logically conflict —
    the loser's files are new, it removed nothing, and no winner can
    reference them — so instead of rolling the data files back and
    re-running the whole batch write, the loser re-commits the
    already-moved-in files at the next version.  Returns
    ``(new_expected_version, merged_schema)`` when the re-commit is
    safe, the string ``"skip"`` when a winner already committed this
    transaction's batch id (exactly-once: the batch is durable, we
    must not double-land it), or None when only a full retry is sound:

    - the winner changed the CHECK-constraint map (our rows were
      verified against the old one);
    - the winner turned the change-data feed on and we wrote no
      insert sidecars (the feed would silently skip our commit);
    - the winner changed the partition-column stamp (our files'
      directory layout no longer matches the table's);
    - the schemas no longer merge add-only (type clash);
    - any of OUR moved-in files is gone — a cross-process actor's
      lease-scoped intent recovery adjudicated our in-flight attempt
      as crashed (a live writer between intent and commit looks
      crashed at the Delta-on-S3 granularity; the commit-side intent
      token catches the same loss even without a conflict);
      re-committing would reference deleted files, so the loser
      re-runs the batch instead.  O(batch) existence probes.

    The merged schema is the winner's stamped schema evolved with
    ours (add-only union), so re-committing cannot un-stamp columns
    the winner added."""
    snap = manifest_version(spark, mdir)
    if snap is None:  # the whole log vanished — full retry
        return None
    jvm, hp, fs = _fs_for(spark, mdir)
    for f in our_files:
        if not fs.exists(hp(f)):
            return None
    head = _commit_info(spark, mdir, snap)
    if txn is not None:
        seen = head.get("txns", {}).get(str(txn[0]))
        if seen is not None and int(txn[1]) <= int(seen):
            return "skip"
    if dict(head.get("constraints") or {}) != dict(
        checked_constraints or {}
    ):
        return None
    if bool(head.get("cdf", False)) and not planned_cdf:
        return None
    if head.get("col_mapping") != planned_cmap:
        # the winner renamed/dropped a column — our files were written
        # under the mapping we planned with; re-derive from scratch
        return None
    head_pby = head.get("partition_by")
    if (
        head_pby is not None
        and our_pcols is not None
        and list(head_pby) != list(our_pcols)
    ):
        return None
    sj = head.get("schema")
    merged = our_schema
    if sj is not None:
        try:
            merged = _evolved_schema(
                T.StructType.fromJson(sj), our_schema, "append rebase"
            )
        except ValueError:
            return None
    return (snap + 1, merged)


def _rebase_tombstone(
    spark: SparkSession,
    mdir: str,
    txn: tuple[str, int] | None,
    planned_cdf: bool,
    our_schema: T.StructType,
    checked_constraints: dict[str, str],
    our_pcols: Sequence[str] | None,
    our_files: Sequence[str],
    planned_cmap: dict | None,
    read_snap: int,
    dv_keys: Sequence[str] | None = None,
    our_dv_files: Sequence[str] | None = None,
) -> "tuple[int, T.StructType] | str | None":
    """Logical conflict detection for a MERGE-ON-READ commit (a
    ``delete_where``/``update_where``/``merge_into`` tombstone, plus
    the update/merge path's new data files) that lost the optimistic
    race: when every winner in ``(read_snap, head]`` is a PURE APPEND,
    the loser's tombstone + already-moved-in files re-commit at the
    next version instead of re-running the whole scan/write —
    semantics are EXACTLY serial order because the dv entry keeps its
    ORIGINAL ``version`` stamp (= read_snap + 1): suppression applies
    only to files added at or before the snapshot the delete actually
    read, so a winner append's rows (added_version >= that stamp)
    survive even when they carry a tombstoned key, and the loser's own
    new files (stamped at the re-commit version) survive too.

    Returns the same contract as ``_rebase_append`` (which performs
    the head-state checks: txn skip, constraints, cdf, mapping,
    partition stamp, schema merge, file existence) — plus the span
    checks unique to tombstones: a winner that REMOVED files
    (rewrite/compaction/materialize) re-homed our matched rows into
    files whose added_version postdates the tombstone, silently
    exempting them from suppression — full retry.  A winner that is
    itself a PURE tombstone delete (two right-to-erasure purges
    racing — the realistic concurrent-writer mix on a corpus table)
    commutes EXACTLY when its tombstoned keys are DISJOINT from ours
    (delete∘delete on disjoint keys is order-free; overlap would
    double-count ledgers and emit CDC deletes for already-invisible
    rows — full retry, Delta's ConcurrentDeleteDelete).  Disjointness
    is one batch-sized tombstone semi-join, paid only on the conflict
    path.  Any other visibility change (update-MOR winners whose
    postimages our predicate never saw, materialize, restore) forces
    the full retry — Delta's ConcurrentDeleteRead / ConcurrentAppend
    split under WriteSerializable."""
    snap = manifest_version(spark, mdir)
    if snap is None:
        return None
    winner_tombs: list[dict] = []
    for v in range(read_snap + 1, snap + 1):
        try:
            m = _commit_info(spark, mdir, v)
        except Exception:
            return None  # span fell out of retention — full retry
        if m.get("removed"):
            return None
        if not m.get("dvs_delta"):
            continue
        # a visibility-changing winner is rebasable ONLY when it is a
        # PURE tombstone delete: no data files added (an update-MOR
        # winner's postimage rows could match our predicate — serial
        # order would have us act on them, but our matched set
        # predates them), the dv list GREW (a materialize/restore
        # shrank it — our suppression boundary may be stale), and the
        # new entries share our key columns
        if m.get("added") or dv_keys is None or our_dv_files is None:
            return None
        try:
            prev_dvs = {
                d["file"]
                for d in _commit_info(spark, mdir, v - 1).get("dvs", [])
            } if v - 1 >= 0 else set()
        except Exception:
            return None
        new = [
            d for d in m.get("dvs", []) if d["file"] not in prev_dvs
        ]
        if not new or any(
            list(d.get("keys", [])) != list(dv_keys) for d in new
        ):
            return None
        winner_tombs.extend(new)
    if winner_tombs:
        # delete∘delete commutes exactly only on DISJOINT key sets:
        # overlapping keys would double-count the ledger and emit CDC
        # delete rows for already-invisible rows — one batch-sized
        # semi-join decides (conflict path only, never the hot path)
        keys = list(dv_keys)
        ours = spark.read.parquet(*list(our_dv_files)).select(*keys)
        wt: DataFrame | None = None
        for d in winner_tombs:
            t = _dv_frame(spark, d, keys)
            if d.get("per_row"):
                # a winner MOR-delete commit that was ALSO a checkpoint
                # re-emits FULL history in one consolidated per-row
                # sidecar (_consolidate_dvs) — without this filter the
                # semi-join would compare our keys against every key
                # EVER deleted and force a spurious full retry on any
                # overlap with an already-invisible key.  Only rows
                # stamped inside the conflict span are actually fresh.
                # Residual corner (accounting-only): a winner that was
                # itself REBASED keeps its original read-snapshot stamp,
                # which can sit at or below our read_snap — its folded
                # fresh keys then slip this check and an overlapping
                # pair of erasures commutes where the full retry would
                # have de-duplicated the ledger/CDC delete row.
                # Visibility is identical either way (delete∘delete is
                # idempotent per key); plain entries are left unfiltered
                # so their behavior is unchanged.
                t = t.filter(F.col("__dv_v") > F.lit(int(read_snap)))
            t = t.select(*keys)
            wt = t if wt is None else wt.unionByName(t)
        if (
            ours.join(F.broadcast(wt), on=keys, how="leftsemi")
            .limit(1)
            .count()
            > 0
        ):
            return None
    return _rebase_append(
        spark, mdir, txn, planned_cdf, our_schema, checked_constraints,
        our_pcols, our_files, planned_cmap=planned_cmap,
    )


def append_files(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    manifest_path: str | None = None,
    cols: Sequence[str] | None = None,
    txn: tuple[str, int] | None = None,
    keep_versions: int | None = None,
    partition_by: Sequence[str] | None = None,
    enable_cdf: bool | None = None,
    retain_removed: bool | None = None,
) -> dict:
    """Per-table-serialized entry to ``_append_files_unlocked`` (see
    ``_log_lock`` for the writer-concurrency contract)."""
    with _log_lock(_manifest_dir(path, manifest_path)):
        return _append_files_unlocked(
            spark, df, path, manifest_path=manifest_path, cols=cols,
            txn=txn, keep_versions=keep_versions, partition_by=partition_by,
            enable_cdf=enable_cdf, retain_removed=retain_removed,
        )


def _append_files_unlocked(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    manifest_path: str | None = None,
    cols: Sequence[str] | None = None,
    txn: tuple[str, int] | None = None,
    keep_versions: int | None = None,
    partition_by: Sequence[str] | None = None,
    enable_cdf: bool | None = None,
    retain_removed: bool | None = None,
) -> dict:
    """EXACTLY-ONCE append of ``df`` as new data files to a
    manifest-tracked table — the per-micro-batch ingest commit of a
    streaming lake sink.  A plain ``mode("append")`` write is NOT
    replay-safe: a foreachBatch retry after a crash re-appends the same
    rows as fresh files and a directory reader double-counts them.
    Here the batch goes through the snapshot transaction engine
    instead:

    1. the rows are written COMPLETELY to a hidden temp sibling;
    2. the ``_TXN`` intent marker logs the planned file adds;
    3. the files move into the table (invisible — no committed
       manifest references them, and ``_recover_txn`` rolls an
       interrupted attempt back);
    4. the manifest commits atomically, stamped with ``txn =
       (app_id, batch_id)`` — the txn map carries forward across
       commits, so a REPLAYED batch id short-circuits to a no-op
       (checked before any write), which is exactly-once ingest on
       bare parquet (Delta's txn action).

    Snapshot readers (``read_table``) therefore see each batch's rows
    exactly once or not yet — never partially, never twice.  ``cols``
    defaults to the manifest's stats columns (required on the first
    commit).  ``retain_removed=True`` stamps the table (carried flag,
    like ``enable_cdf``) so later rewrites keep replaced data files on
    disk until their snapshot falls out of ``keep_versions`` — the
    retention knob that makes time travel and RESTORE work ACROSS
    rewrite commits (see ``_sweep_removed``), trading disk for
    history exactly like Delta's VACUUM retention window.  Only True
    enables — False is treated as "unspecified": a write must never
    silently strip an established retention flag (that would flatten
    the pending backlog's rm_v stamps and let the next sweep delete
    every retained history file under still-live snapshot dirs).

    Losing the optimistic-concurrency race does NOT re-run the batch:
    two pure appends never logically conflict, so the loser re-commits
    its already-moved-in files at the next version
    (``_rebase_append`` — Delta's conflict-checker shape), restamping
    only the batch-sized CDC sidecar when the feed is on.  Full
    rollback-and-``SnapshotConflict`` remains for the cases the
    rebase cannot prove safe (constraint map changed, CDF flag
    flipped on, partition stamp changed, schema type clash, or a
    cross-process recovery rolled this attempt back), and a winner
    that already committed this txn's batch id turns the loser into
    an exactly-once no-op.  Returns a ledger: rows, files_added,
    version, skipped, rebased (commit re-attempts that reused the
    written files).
    """
    import uuid

    mdir = _manifest_dir(path, manifest_path)
    jvm, hp, fs = _fs_for(spark, path)
    # ONE listing + ONE head-marker read (the protocol gate's) serve
    # the whole transaction: snapshot pin, txn idempotence, stats
    # columns, schema, and the partition layout all ride the same JSON
    # (pre-log flat manifests fall back to the reconstruction read)
    snap_v, head = _check_protocol_head(spark, mdir, f"append_files {path}")
    _recover_txn(spark, mdir)
    _sweep_removed(spark, mdir)
    have_table = snap_v is not None or bool(
        _flat_manifest_files(spark, mdir)
    )

    if txn is not None:
        seen = head.get("txns", {}).get(str(txn[0]))
        if seen is not None and int(txn[1]) <= int(seen):
            return {
                "rows": 0,
                "files_added": 0,
                "version": snap_v,
                "skipped": True,
            }

    if not have_table and cols is None:
        raise ValueError(
            "cols is required for the first commit to a new table"
        )
    if cols is None:
        cols = head.get("stats_cols")
        if cols is None:  # legacy marker / flat manifest
            cols = [
                c[:-4]
                for c in current_manifest(spark, mdir).columns
                if c.endswith("_min")
            ]
    if partition_by is None and head.get("partition_by"):
        # appends to a stamped hive-partitioned table keep its layout
        # without the caller restating it every batch
        partition_by = list(head["partition_by"])

    # ADD-ONLY schema evolution (``_evolved_schema``):
    # resolve the table schema from the committed snapshot (falling
    # back to the directory footers for pre-schema tables), reject
    # type changes, append new columns, null-fill omitted ones; the
    # evolved schema is stamped into this commit so read_table serves
    # old files null-filled under it.
    if have_table:
        sj = head.get("schema")
        stored = (
            T.StructType.fromJson(sj)
            if sj is not None
            else spark.read.parquet(path).schema
        )
        evolved = _evolved_schema(
            stored, df.schema, f"append_files into {path}"
        )
        # on a mapped table, newly-evolved columns get their id +
        # physical name here (retired names excluded)
        cmap = head.get("col_mapping")
        if cmap:
            evolved, cmap = _ensure_mapping(evolved, cmap)
        # a batch that OMITS the table's partition column must fail
        # loudly — null-filling it would land the rows in
        # __HIVE_DEFAULT_PARTITION__, silently migrating data out of
        # its partition (the LakeUpsertSink guard, hoisted to every
        # lake write path)
        _guard_partition_cols(
            spark, path, mdir, stored, df.columns,
            f"append_files into {path}",
            partition_by
            if partition_by is not None
            else head.get("partition_by"),
        )
        df = _aligned(df, evolved)
    else:
        evolved = df.schema
        cmap = None

    from pyspark.sql import Observation

    tmp = path.rstrip("/") + f"._append_{uuid.uuid4().hex[:8]}"
    obs = Observation()
    if partition_by:
        # align one write task per partition value first — otherwise a
        # micro-batch fans into one file per shuffle task per value
        # and every later metadata cost is O(that file count)
        df = df.repartition(*list(partition_by))
    # CHECK-constraint violation counts ride the same CollectMetrics
    # as the row ledger — enforcement costs zero extra scans
    cons = dict(head.get("constraints") or {})
    df = df.observe(
        obs, F.count(F.lit(1)).alias("n"), *_constraint_metrics(cons)
    )
    # mapped tables write PHYSICAL column names (constraints and the
    # observation above already evaluated on the logical projection)
    writer = _to_phys(df, evolved).write.mode("overwrite")
    if partition_by:
        # hive-encode the batch; the move-in preserves the partition
        # directory layout and the stats index derives the partition
        # columns' min=max from the directory values
        writer = writer.partitionBy(*list(partition_by))
    writer.parquet(tmp)
    # row count rides the write (CollectMetrics) — no read-back scan,
    # and an EMPTY batch no longer trips schema inference on a
    # file-less temp dir; the AQE zero-row fallback is verified
    # against the temp output's own footers
    vals = _obs_result(
        obs, verify_rows=lambda: _dir_footer_rows(spark, tmp)
    )
    rows = int(vals["n"] or 0)
    if cons:
        try:
            _raise_constraint_violations(
                vals, cons, f"append_files into {path}"
            )
        except ConstraintViolation:
            # refuse BEFORE the _TXN intent: temp files gone, no
            # snapshot reader ever saw anything
            fs.delete(hp(tmp), True)
            raise

    planned = [
        (tmp + "/" + rel, path.rstrip("/") + "/" + rel)
        for rel, _ln in _leaf_files(spark, tmp)
    ]
    expected = (snap_v if snap_v is not None else -1) + 1
    itok = _write_txn_intent(
        spark,
        mdir,
        {
            "expected_version": expected,
            "added": [dst for _src, dst in planned],
            "removed": [],
        },
    )
    added = _move_files_in(fs, hp, planned)
    fs.delete(hp(tmp), True)

    # change-data feed: on a CDF table, appends ALSO write their rows
    # as insert change files — the zero-retention sweep deletes
    # replaced data files at the next rewrite, so synthesizing inserts
    # from the data files later is not durable; the sidecars are (the
    # explicit trade vs Delta's retained-data-file synthesis).  A
    # crash before the commit leaves them unreferenced — vacuum sweeps
    # those.
    changes_files: list[str] | None = None
    if bool(head.get("cdf", False)) or bool(enable_cdf):
        changes_files = _write_changes(
            spark,
            _read_files(spark, added, evolved, base_path=path)
            .withColumn("_change_type", F.lit("insert"))
            .withColumn(
                "_commit_version", F.lit(expected).cast("long")
            ),
            path,
            expected,
            schema=evolved,
        ) if added else []

    # O(batch) commit: only the new files' stats rows are written (the
    # delta) — driver-side for batch-sized adds (zero Spark jobs),
    # distributed above _LOCAL_STATS_MAX
    pcols_commit = (
        list(partition_by)
        if partition_by is not None
        # detect once (stamped thereafter) so flat tables stamp
        # [] and later transactions skip the directory probe
        else _detect_pcols(spark, path, mdir)
    )
    delta_df = None
    delta_rows = delta_schema = None
    if len(added) <= _LOCAL_STATS_MAX:
        delta_rows, delta_schema = _local_stats_rows(
            added, list(cols), evolved, pcols_commit
        )
    else:
        delta_df = parquet_stats_index(
            spark, path, list(cols), paths=added, schema=evolved
        )
    planned_cdf = bool(head.get("cdf", False)) or bool(enable_cdf)
    rebased = 0
    while True:
        try:
            version = _commit_manifest(
                spark, mdir, delta_df, removed=[], expected_version=expected,
                txn=txn, keep_versions=keep_versions,
                table_schema=evolved.jsonValue(),
                partition_by=pcols_commit,
                col_mapping=cmap,
                # like retain_removed, only True enables — an explicit
                # False must not silently strip the carried CDF flag while
                # this very commit still wrote insert sidecars (the feed
                # would break at the NEXT rewrite with no signal here)
                cdf=enable_cdf or None,
                retain=retain_removed or None,
                added_rows=delta_rows,
                stats_schema=delta_schema,
                changes=changes_files,
                op="append",
                intent_token=itok,
                metrics={
                    "rows_written": int(rows),
                    "files_added": len(added),
                },
            )
            break
        except SnapshotConflict:
            # logical conflict detection: two pure appends never
            # conflict — re-commit the ALREADY-MOVED-IN files at the
            # next version instead of rolling them back and re-running
            # the batch write (Delta re-attempts only the commit).
            # _rebase_append names the cases that DO need a full retry.
            rb = (
                _rebase_append(
                    spark, mdir, txn, planned_cdf, evolved, cons,
                    pcols_commit, added + list(changes_files or []),
                    planned_cmap=cmap,
                )
                if rebased < 20
                else None
            )
            if rb is None or rb == "skip":
                # full retry (retry_on_conflict) — or a winner already
                # committed this txn's batch id (the batch is durable;
                # landing ours too would double it)
                _rollback_conflict(
                    spark, mdir, added + list(changes_files or []),
                    intent_token=itok,
                )
                if rb == "skip":
                    return {
                        "rows": 0,
                        "files_added": 0,
                        "version": manifest_version(spark, mdir),
                        "skipped": True,
                    }
                raise
            expected, evolved = rb
            rebased += 1
            if changes_files:
                # CDC rows carry the commit version INSIDE the sidecar
                # parquet — restamp them for the new version (a
                # batch-sized read/write, never the data files) and
                # drop the orphaned originals
                old_changes = list(changes_files)
                changes_files = _write_changes(
                    spark,
                    spark.read.parquet(*old_changes).withColumn(
                        "_commit_version", F.lit(expected).cast("long")
                    ),
                    path,
                    expected,
                )
                for d in {os.path.dirname(f) for f in old_changes}:
                    fs.delete(hp(d), True)
            # refresh the intent marker so crash recovery rolls this
            # attempt forward/back against the version it now targets
            itok = _write_txn_intent(
                spark,
                mdir,
                {
                    "expected_version": expected,
                    "added": added + list(changes_files or []),
                    "removed": [],
                },
            )
    _clear_txn_intent(spark, mdir, itok)
    return {
        "rows": int(rows),
        "files_added": len(added),
        "version": int(version),
        "skipped": False,
        "rebased": rebased,
    }


def merge_into(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: Sequence[str],
    manifest_path: str | None = None,
    mode: str = "update",
    cols: Sequence[str] | None = None,
    txn: tuple[str, int] | None = None,
    keep_versions: int | None = None,
    target_bytes: int = 128 * 1024 * 1024,
    strategy: str = "copy-on-write",
) -> dict:
    """Per-table-serialized entry to ``_merge_into_unlocked`` (see
    ``_log_lock`` for the writer-concurrency contract).

    Isolation divergence from Delta (``strategy='merge-on-read'``
    only): a collided MOR merge re-commits over pure-append winners in
    exact serial order (the tombstone keeps its read-snapshot stamp,
    so winner appends survive even when they carry a merged key),
    where Delta raises ConcurrentAppendException under
    WriteSerializable; see ``delete_where`` for the full note."""
    with _log_lock(_manifest_dir(path, manifest_path)):
        return _merge_into_unlocked(
            spark, source, path, keys, manifest_path=manifest_path,
            mode=mode, cols=cols, txn=txn, keep_versions=keep_versions,
            target_bytes=target_bytes, strategy=strategy,
        )


def _merge_into_unlocked(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: Sequence[str],
    manifest_path: str | None = None,
    mode: str = "update",
    cols: Sequence[str] | None = None,
    txn: tuple[str, int] | None = None,
    keep_versions: int | None = None,
    target_bytes: int = 128 * 1024 * 1024,
    strategy: str = "copy-on-write",
    op: str | None = None,
) -> dict:
    """Keyed MERGE INTO a manifest-tracked table as ONE snapshot
    transaction — the lakehouse ``MERGE INTO t USING s ON t.k = s.k
    WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *``
    (mode='update'), or insert-if-absent / DO NOTHING (mode='ignore')
    — the reference's blocks upsert (src/types/etl_result.rs:267-281,
    src/dumper/postgres.rs:41-92) re-expressed on the snapshot log, so
    one table gets BOTH exactly-once streaming appends and keyed
    upserts through one commit protocol.

    Plan shape (100 TB): candidate files are manifest-pruned by the
    SOURCE's key range (cluster/sort the table by the merge key and a
    batch touching one key span rewrites the files tiling that span,
    not the table); mode='update' rewrites only those files (matched
    rows replaced by the source row, whole-row semantics) and lands
    unmatched-key source rows as new files in the SAME commit;
    mode='ignore' rewrites NOTHING — candidates are scanned for key
    existence only and just the fresh rows land as new files.

    ``strategy='merge-on-read'`` (mode='update' only) removes the
    write amplification entirely: NO candidate file is read or
    rewritten — the source rows land as new files and the source KEYS
    land as a deletion-vector tombstone file recorded in the commit;
    ``read_table`` suppresses older rows for tombstoned keys at serve
    time (tombstone version > the row's file's added_version), and
    ``materialize_deletes`` folds the suppression back into the data
    files.  A 1-row update to a 128 MB file writes ~1 row, not
    128 MB — Delta/Iceberg's deletion-vector shape on this log.

    Transaction protocol = ``append_files``/``_txn_rewrite``'s:
    temp-sibling write, ``_TXN`` intent, move-in (invisible until
    commit), one atomic manifest commit carrying the evolved schema
    and the optional ``txn=(app_id, batch_id)`` stamp (a replayed
    batch id is a no-op — exactly-once keyed upsert from a stream),
    post-commit sweep of replaced files; ``SnapshotConflict`` rolls
    back the moved-in files so ``retry_on_conflict`` restarts clean.
    Crash-injection tested on both sides of the commit point.  When
    the table's change-data-feed flag is set, the commit also writes
    row-level change files (insert / update_preimage /
    update_postimage) that ``table_changes`` serves across rewrites.

    Source rows must be unique per key (Delta's MERGE contract —
    multiple source matches for one target row raise).  Schema
    evolution is the add-only contract shared with ``append_files``.
    Returns a ledger: files_total, files_rewritten, files_added,
    rows_source, rows_updated, rows_inserted, rows_before, rows_after,
    partitioned, version, mode, skipped (merge-on-read adds dv_files;
    its rows_updated/inserted are None unless the CDF scan computed
    them).
    """
    import uuid

    if mode not in ("update", "ignore"):
        raise ValueError(f"unknown merge mode {mode!r}")
    if strategy not in ("copy-on-write", "merge-on-read"):
        raise ValueError(f"unknown merge strategy {strategy!r}")
    if strategy == "merge-on-read" and mode != "update":
        raise ValueError(
            "merge-on-read needs mode='update' — insert-if-absent "
            "(mode='ignore') must scan candidates for key existence, "
            "which is exactly what merge-on-read avoids"
        )
    keys = list(keys)
    mdir = _manifest_dir(path, manifest_path)
    jvm, hp, fs = _fs_for(spark, path)
    # ONE listing + ONE head-marker read (the protocol gate's) serve
    # the whole transaction: snapshot pin, txn idempotence, schema,
    # partition columns, active deletion vectors, and the cdf flag all
    # ride the same JSON
    snap_v, head = _check_protocol_head(spark, mdir, f"merge_into {path}")
    _recover_txn(spark, mdir)
    _sweep_removed(spark, mdir)

    if txn is not None:
        seen = head.get("txns", {}).get(str(txn[0]))
        if seen is not None and int(txn[1]) <= int(seen):
            return {
                "rows_source": 0,
                "files_rewritten": 0,
                "files_added": 0,
                "version": snap_v,
                "skipped": True,
            }

    manifest = current_manifest(spark, mdir)
    if manifest is None:
        raise ValueError(
            f"no stats manifest at {mdir} — create the table with "
            "append_files / update_stats_index first"
        )
    if cols is None:
        cols = head.get("stats_cols") or [
            c[:-4] for c in manifest.columns if c.endswith("_min")
        ]

    sj = head.get("schema")
    stored = (
        T.StructType.fromJson(sj)
        if sj is not None
        else spark.read.parquet(path).schema
    )
    evolved = _evolved_schema(stored, source.schema, f"merge_into {path}")
    cmap = head.get("col_mapping")
    if cmap:
        evolved, cmap = _ensure_mapping(evolved, cmap)
    missing_keys = [k for k in keys if k not in source.columns]
    if missing_keys:
        raise ValueError(f"merge source lacks key column(s) {missing_keys}")
    _guard_partition_cols(
        spark, path, mdir, stored, source.columns, f"merge_into {path}",
        partition_by=head.get("partition_by"),
    )
    src = _aligned(source, evolved).persist(StorageLevel.MEMORY_AND_DISK)
    caches: list[DataFrame] = [src]
    try:
        agg = src.agg(
            F.count(F.lit(1)).alias("_n"),
            *[F.min(k).alias(f"_lo_{k}") for k in keys],
            *[F.max(k).alias(f"_hi_{k}") for k in keys],
            F.count_distinct(*[F.col(k) for k in keys]).alias("_nk"),
        ).collect()[0]
        n_src = int(agg["_n"])
        ledger = {
            "files_total": None,  # filled by the fused prune collect
            "files_rewritten": 0,
            "files_added": 0,
            "rows_source": n_src,
            "rows_updated": 0,
            "rows_inserted": 0,
            "rows_before": 0,
            "rows_after": 0,
            "partitioned": False,
            "version": snap_v,
            "mode": mode,
            "skipped": False,
        }
        if n_src == 0:
            return ledger
        if int(agg["_nk"]) != n_src:
            raise ValueError(
                "merge source has duplicate rows per key — a target row "
                "would match more than one source row (resolve with "
                "keep-last dedup before merging)"
            )

        # candidate files: every file whose footer span can contain a
        # source key (conservative when the key is not a stats column)
        ranges = {
            k: (agg[f"_lo_{k}"], agg[f"_hi_{k}"])
            for k in keys
            if agg[f"_lo_{k}"] is not None
        }
        # one collect serves both the candidate list and files_total
        cand, files_total = _prune_files_with_total(manifest, ranges)
        ledger["files_total"] = int(files_total)

        pby = head.get("partition_by")
        pcols = (
            list(pby) if pby is not None else _detect_pcols(spark, path, mdir)
        )
        dvs = list(head.get("dvs", []))
        if dvs and list(dvs[0]["keys"]) != keys:
            raise ValueError(
                f"table has active deletion vectors keyed on "
                f"{list(dvs[0]['keys'])} but this merge uses {keys} — "
                "materialize_deletes before merging on a different key"
            )
        cdf_on = bool(head.get("cdf", False))
        expected = (snap_v if snap_v is not None else -1) + 1
        mor = strategy == "merge-on-read"

        def _scan_touched() -> DataFrame:
            if not cand:
                return spark.createDataFrame([], evolved)
            raw = _read_files(spark, cand, evolved, base_path=path)
            # active deletion vectors apply to every candidate read —
            # the merge must neither resurrect a suppressed row
            # (update) nor count one as existing (ignore)
            return _dv_suppress(spark, raw, manifest, dvs)

        changes_df: DataFrame | None = None
        rows_before: int | None = None
        obs_in = None
        touched_base: DataFrame | None = None
        if mor:
            # merge-on-read: NO candidate file is read or rewritten —
            # the source rows land as new files, the source keys as a
            # tombstone; read_table suppresses older rows at serve
            # time.  The CDF scan (below) is the only optional read.
            out = src
            removed = []
        else:
            touched = _scan_touched()
            if cdf_on and mode == "update":
                # ONE suppressed candidate scan serves BOTH the rewrite
                # and the CDC preimages below — without the cache the
                # preimage build re-reads (and re-DV-suppresses) every
                # candidate file a second time per merge
                touched = touched.persist(StorageLevel.MEMORY_AND_DISK)
                caches.append(touched)
            touched_base = touched
            # ignore mode never rewrites candidates, so their row count
            # is ledger-irrelevant; in update mode it rides the write
            # job as CollectMetrics — no separate candidate pre-count
            if mode == "update":
                from pyspark.sql import Observation as _Obs

                obs_in = _Obs()
                touched = touched.observe(
                    obs_in, F.count(F.lit(1)).alias("n")
                )
            if mode == "update":
                survivors = touched.join(
                    src.select(*keys).dropDuplicates(keys), on=keys,
                    how="left_anti",
                )
                out = survivors.unionByName(src)
                removed = list(cand)
            else:
                fresh = src.join(
                    touched.select(*keys), on=keys, how="left_anti"
                )
                out = fresh
                removed = []
                if cdf_on:
                    changes_df = fresh.withColumn(
                        "_change_type", F.lit("insert")
                    )
        if cdf_on and mode == "update":
            # row-level CDC for the upsert: preimages are the CURRENT
            # visible rows for matched keys (merge-on-read pays this
            # one candidate scan only with the feed enabled; the
            # copy-on-write path reuses the rewrite's cached scan)
            pre = (
                touched_base if touched_base is not None else _scan_touched()
            ).join(
                src.select(*keys), on=keys, how="leftsemi"
            ).persist(StorageLevel.MEMORY_AND_DISK)
            caches.append(pre)
            pre_k = pre.select(*keys)
            changes_df = (
                pre.withColumn("_change_type", F.lit("update_preimage"))
                .unionByName(
                    src.join(pre_k, on=keys, how="leftsemi").withColumn(
                        "_change_type", F.lit("update_postimage")
                    )
                )
                .unionByName(
                    src.join(pre_k, on=keys, how="left_anti").withColumn(
                        "_change_type", F.lit("insert")
                    )
                )
            )

        # OPTIMIZED WRITE (Delta's trade): shape the output BEFORE the
        # write so a micro-batch merge lands a handful of right-sized
        # files, not one file per shuffle task per partition value —
        # every downstream cost (footer stats, manifest rows, move-in
        # renames, later prunes) is O(files written).  Partitioned
        # tables align one task per partition value (within-partition
        # size splitting is compact_table's job); flat copy-on-write
        # targets ceil(candidate_bytes / target_bytes) files; flat
        # merge-on-read writes a batch, so one file per ~1M source
        # rows (compact_table consolidates a long-running stream).
        if pcols:
            out = out.repartition(*pcols)
        elif mor:
            out = out.repartition(max(1, -(-n_src // 1_000_000)))
        else:
            cand_bytes = 0
            for f in cand:
                try:
                    cand_bytes += fs.getFileStatus(hp(f)).getLen()
                except Exception:  # pragma: no cover - racing sweep
                    pass
            n_out = max(1, -(-cand_bytes // int(target_bytes)))
            out = out.repartition(int(n_out))

        from pyspark.sql import Observation

        tmp = path.rstrip("/") + f"._merge_{uuid.uuid4().hex[:8]}"
        obs = Observation()
        # CHECK constraints ride the write metrics: in copy-on-write
        # the full rewritten content is checked (survivors re-verify
        # free), in merge-on-read exactly the landing source rows
        cons = dict(head.get("constraints") or {})
        final = out.select(*[f.name for f in evolved.fields]).observe(
            obs, F.count(F.lit(1)).alias("n"), *_constraint_metrics(cons)
        )
        writer = _to_phys(final, evolved).write.mode("overwrite")
        if pcols:
            writer = writer.partitionBy(*pcols)
        writer.parquet(tmp)
        # row counts ride the write itself (CollectMetrics) — no
        # read-back scan of the temp output, no candidate pre-count;
        # the AQE zero-row fallback verifies against the temp footers
        _verify = lambda: _dir_footer_rows(spark, tmp)  # noqa: E731
        vals = _obs_result(obs, verify_rows=_verify)
        rows_after = int(vals["n"] or 0)
        if cons:
            try:
                _raise_constraint_violations(
                    vals, cons, f"merge_into {path}"
                )
            except ConstraintViolation:
                fs.delete(hp(tmp), True)
                raise
        if obs_in is not None:
            # INPUT-side observation: carries only the candidate row
            # count (no constraint metrics ride it), and a lost metrics
            # row here means AQE collapsed the CANDIDATE branch empty —
            # zero is exactly right.  The OUTPUT footers are the WRONG
            # ground truth for this branch: an all-new-keys (or fully
            # DV-suppressed) update merge writes its inserted source
            # rows while the candidate subtree is genuinely empty, so
            # verifying against `tmp` would see actual>0 and re-raise
            # in precisely the scenario the fallback exists for.
            # Candidate FOOTER counts are wrong too (they predate DV
            # suppression) — so no verify_rows on this observation.
            rows_before = int(_obs_result(obs_in)["n"] or 0)
        if mode == "ignore" and rows_after == 0:
            # every source key already exists: nothing to add, nothing
            # to rewrite — no commit needed (a replay re-derives the
            # same no-op, so skipping the txn stamp is still
            # exactly-once)
            fs.delete(hp(tmp), True)
            return ledger

        # merge-on-read tombstone: the source keys, one sidecar file,
        # recorded in the commit's deletion-vector list
        dv_files: list[str] = []
        if mor:
            ddir = (
                path.rstrip("/")
                + f"/_deletes/v{expected}-{uuid.uuid4().hex[:8]}"
            )
            src.select(*keys).coalesce(1).write.mode("overwrite").parquet(
                ddir
            )
            dv_files.extend(_sidecar_files(fs, hp, ddir))

        changes_files: list[str] | None = None
        if cdf_on:
            changes_files = (
                _write_changes(
                    spark,
                    changes_df.withColumn(
                        "_commit_version", F.lit(expected).cast("long")
                    ),
                    path,
                    expected,
                    schema=evolved,
                )
                if changes_df is not None
                else []
            )

        planned = [
            (tmp + "/" + rel, path.rstrip("/") + "/" + rel)
            for rel, _ln in _leaf_files(spark, tmp)
        ]
        itok = _write_txn_intent(
            spark,
            mdir,
            {
                "expected_version": expected,
                "added": [dst for _src_f, dst in planned]
                + dv_files
                + list(changes_files or []),
                "removed": removed,
            },
        )
        added = _move_files_in(fs, hp, planned)
        fs.delete(hp(tmp), True)

        # O(batch) commit: only the new files' stats rows are written;
        # rewritten candidates ride the marker's removed list —
        # driver-side footer reads for batch-sized adds (zero jobs)
        delta_df = None
        delta_rows = delta_schema = None
        if len(added) <= _LOCAL_STATS_MAX:
            delta_rows, delta_schema = _local_stats_rows(
                added, list(cols), evolved, pcols
            )
        else:
            delta_df = parquet_stats_index(
                spark, path, list(cols), paths=added, schema=evolved
            )
        # dv entries keep the ORIGINAL version stamp even across a
        # rebase re-commit — suppression applies exactly to the files
        # the merge actually read (see _rebase_tombstone)
        dv_entries = [
            {
                "file": f,
                "version": expected,
                "keys": list(keys),
                "rows": _footer_num_rows(f),
            }
            for f in dv_files
        ]
        commit_v = expected
        rebased = 0
        while True:
            try:
                version = _commit_manifest(
                    spark, mdir, delta_df, removed=removed,
                    expected_version=commit_v, txn=txn,
                    keep_versions=keep_versions,
                    table_schema=evolved.jsonValue(),
                    partition_by=pcols,
                    col_mapping=cmap,
                    added_files=added,
                    dvs_add=dv_entries,
                    changes=changes_files,
                    added_rows=delta_rows,
                    stats_schema=delta_schema,
                    op=op or f"merge ({mode}, {strategy})",
                    intent_token=itok,
                    metrics={
                        "rows_source": int(n_src),
                        "rows_written": int(rows_after),
                        "files_added": len(added),
                        "files_removed": len(removed),
                    },
                )
                break
            except SnapshotConflict:
                # a merge-on-read loser (tombstone + fresh files, zero
                # removals) re-commits over pure-append winners instead
                # of re-running its scan and write; copy-on-write
                # merges removed candidate files, so only the full
                # retry is sound for them
                rb = (
                    _rebase_tombstone(
                        spark, mdir, txn, cdf_on, evolved,
                        dict(head.get("constraints") or {}), pcols,
                        added + dv_files + list(changes_files or []),
                        cmap, snap_v if snap_v is not None else -1,
                        dv_keys=list(keys), our_dv_files=dv_files,
                    )
                    if mor and rebased < 20
                    else None
                )
                if rb is None or rb == "skip":
                    _rollback_conflict(
                        spark, mdir,
                        added + dv_files + list(changes_files or []),
                        intent_token=itok,
                    )
                    if rb == "skip":
                        return {
                            **ledger,
                            "version": manifest_version(spark, mdir),
                            "skipped": True,
                        }
                    raise
                commit_v, evolved = rb
                rebased += 1
                if changes_files:
                    old_changes = list(changes_files)
                    changes_files = _write_changes(
                        spark,
                        spark.read.parquet(*old_changes).withColumn(
                            "_commit_version",
                            F.lit(commit_v).cast("long"),
                        ),
                        path,
                        commit_v,
                    )
                    for d in {os.path.dirname(f) for f in old_changes}:
                        fs.delete(hp(d), True)
                itok = _write_txn_intent(
                    spark,
                    mdir,
                    {
                        "expected_version": commit_v,
                        "added": added
                        + dv_files
                        + list(changes_files or []),
                        "removed": removed,
                    },
                )
        _post_commit_sweep(spark, mdir)
        _clear_txn_intent(spark, mdir, itok)

        if mor:
            rows_updated = rows_inserted = None
        elif mode == "update":
            rows_updated = int(rows_before - (rows_after - n_src))
            rows_inserted = n_src - rows_updated
        else:
            rows_inserted = int(rows_after)
            rows_updated = 0
        ledger.update(
            {
                "rebased": rebased,
                "files_rewritten": len(removed),
                "files_added": len(added),
                "rows_updated": rows_updated,
                "rows_inserted": rows_inserted,
                "rows_before": (
                    int(rows_before) if rows_before is not None else None
                ),
                "rows_after": int(rows_after),
                "partitioned": bool(pcols),
                "version": int(version),
            }
        )
        if mor:
            ledger["dv_files"] = len(dv_files)
        return ledger
    finally:
        for c in caches:
            c.unpersist()


def retry_on_conflict(fn, attempts: int = 5, base_delay_s: float = 0.05):
    """Bounded retry-from-fresh-snapshot for optimistic-concurrency
    losers (Delta's contract): call ``fn`` (a zero-arg closure over
    ``append_files`` / ``merge_into`` / ``delete_where`` /
    ``update_where`` / ``compact_table`` — each re-reads the snapshot
    at its own head, so calling again IS the retry), backing off
    exponentially on ``SnapshotConflict``; the losing attempt has
    already rolled its moved-in files back, so every retry starts
    clean.  Re-raises after ``attempts`` exhausted."""
    import time as _time

    last: SnapshotConflict | None = None
    for i in range(max(1, int(attempts))):
        try:
            return fn()
        except SnapshotConflict as e:
            last = e
            _time.sleep(base_delay_s * (2 ** i))
    raise last


def compact_table(
    spark: SparkSession,
    path: str,
    manifest_path: str | None = None,
    target_bytes: int = 128 * 1024 * 1024,
    small_bytes: int | None = None,
    cols: Sequence[str] | None = None,
    keep_versions: int | None = None,
) -> dict:
    """OPTIMIZE through the log: small-file compaction of a
    manifest-tracked table as ONE snapshot transaction — the
    maintenance op a continuously-ingesting lake runs without pausing
    readers.  ``append_files`` lands one file set per micro-batch, so a
    long-running stream fragments the table; compacting it by hand
    (``compact_parquet`` + ``update_stats_index``) deletes files before
    the manifest refresh and a concurrent snapshot reader breaks.  Here
    the rewrite rides ``_txn_rewrite``: the fragments are read, rows
    repartitioned into ``ceil(bytes / target_bytes)`` files, the new
    files move in UNREFERENCED, the manifest commits atomically (old
    fragments out, compacted files in), and only then are the fragments
    swept — a reader on the old snapshot finishes against the old
    files, a reader on the new one never sees both.

    ``small_bytes`` compacts only files under that size (the OPTIMIZE
    norm — already-compacted files keep their inodes); None compacts
    everything.  Hive-partitioned tables keep their directory encoding
    (``_txn_rewrite``'s partitionBy round-trip); per-partition file
    budgets for heavily-skewed layouts remain
    ``compact_partitioned_parquet``'s job.  Rows are never changed —
    ``rows_before == rows_after`` is part of the returned ledger and
    the tests.
    """
    mdir = _manifest_dir(path, manifest_path)
    jvm, hp, fs = _fs_for(spark, path)
    sizes = {}
    for rel, ln in _leaf_files(spark, path):
        # qualify through the FS so the candidate list intersects the
        # manifest's file-uri form (hdfs://nn/... fully-qualified;
        # file: stripped to posix) — an unqualified caller path must
        # not make _txn_rewrite's intersection silently empty
        q = fs.getFileStatus(hp(path.rstrip("/") + "/" + rel)).getPath()
        uri = q.toString()
        if uri.startswith("file:"):
            uri = q.toUri().getPath()
        sizes[uri] = ln
    small = [
        f
        for f, ln in sorted(sizes.items())
        if small_bytes is None or ln < int(small_bytes)
    ]
    if len(small) < 2:  # nothing to merge
        return {
            "files_total": len(sizes),
            "files_rewritten": 0,
            "files_added": 0,
            "rows_before": None,
            "rows_after": None,
            "partitioned": False,
            "version": manifest_version(spark, mdir),
        }
    bytes_in = sum(sizes[f] for f in small)
    n_out = max(1, -(-bytes_in // int(target_bytes)))

    ledger = _txn_rewrite(
        spark,
        path,
        manifest_path,
        {},
        lambda touched, _hit: touched.repartition(int(n_out)),
        cols,
        candidates=small,
        keep_versions=keep_versions,
        op="compact",
    )
    ledger.pop("rows_matched", None)
    # like cluster_table: a row-preserving re-pack on a DV table also
    # materializes the touched files' suppression — surface the count
    ledger["rows_suppressed_materialized"] = (
        int(ledger["rows_before"] - ledger["rows_after"])
        if ledger.pop("dvs_active", False)
        and ledger.get("rows_before") is not None
        else 0
    )
    ledger["n_target_files"] = int(n_out)
    ledger["bytes_in"] = int(bytes_in)
    return ledger


def cluster_table(
    spark: SparkSession,
    path: str,
    keys: Sequence[str],
    manifest_path: str | None = None,
    target_bytes: int = 128 * 1024 * 1024,
    zorder: bool = False,
    n_buckets: int = 16,
    rel_err: float = 0.001,
    bloom_cols: Sequence[str] | None = None,
    bloom_ndv: int = 1_000_000,
    cols: Sequence[str] | None = None,
    keep_versions: int | None = None,
) -> dict:
    """OPTIMIZE ORDER/ZORDER BY through the log: re-layout a
    manifest-tracked table CLUSTERED on ``keys`` as ONE snapshot
    transaction — ``cluster_parquet``'s layouts (lexicographic
    range-sort, or quantile-bucketed Morton z-order for multi-key
    workloads, optionally + parquet blooms on other columns) committed
    through the same protocol as compaction, so snapshot readers are
    never paused and a crash leaves exactly one committed version.
    After it, the manifest's per-file spans tile the key range and
    ``read_table`` range predicates prune to the files holding
    matching rows — on a streamed-in (arrival-ordered) 100 TB table
    this is the difference between scanning the table and scanning
    the slice, re-established periodically as ingest un-sorts it.

    VISIBLE rows are never changed.  On a table with active deletion
    vectors the re-layout also MATERIALIZES the touched files'
    tombstone suppression (the rewritten files get a newer
    added_version than every tombstone), so the ledger's physical
    counts differ by exactly that: ``rows_suppressed_materialized =
    rows_before − rows_after`` (0 on a DV-free table, where
    ``rows_before == rows_after`` holds as before).  A CDF table
    records the explicit empty change set, like compaction.  The
    z-order quantile probe runs against the CURRENT snapshot before
    the transaction pins candidates — cut points are a layout
    heuristic, not a correctness input.  Returns the rewrite ledger
    plus the clustering spec."""
    keys = list(keys)
    mdir = _manifest_dir(path, manifest_path)
    manifest = current_manifest(spark, mdir)
    if manifest is None:
        raise ValueError(
            f"no stats manifest at {mdir} — create the table with "
            "append_files / update_stats_index first"
        )
    jvm, hp, fs = _fs_for(spark, path)
    cand = prune_files(manifest, {})  # the full committed file list
    bytes_in = 0
    for f in cand:
        try:
            bytes_in += fs.getFileStatus(hp(f)).getLen()
        except Exception:  # pragma: no cover - racing sweep
            pass
    n_out = max(1, -(-bytes_in // int(target_bytes)))

    if zorder:
        bits = max(1, (int(n_buckets) - 1).bit_length())
        # quantile cuts from the current snapshot (key columns only)
        all_cuts = _quantile_cuts(
            read_table(spark, path, manifest_path=manifest_path).select(
                *keys
            ),
            keys,
            int(n_buckets),
            rel_err,
        )

        def _relayout(touched: DataFrame, _hit) -> DataFrame:
            z = _morton(
                [
                    _bucket_from_cuts(k, c)
                    for k, c in zip(keys, all_cuts)
                ],
                bits,
            )
            return (
                touched.withColumn("_z", z)
                .repartitionByRange(int(n_out), "_z")
                .sortWithinPartitions("_z")
                .drop("_z")
            )
    else:

        def _relayout(touched: DataFrame, _hit) -> DataFrame:
            return touched.repartitionByRange(
                int(n_out), *keys
            ).sortWithinPartitions(*keys)

    ledger = _txn_rewrite(
        spark,
        path,
        manifest_path,
        {},
        _relayout,
        cols,
        candidates=cand,
        keep_versions=keep_versions,
        bloom_cols=bloom_cols,
        bloom_ndv=bloom_ndv,
        # the range partitioner's sampling pass re-executes the input
        # subtree — an input-side Observation would double-count
        observe_input=False,
        op="cluster",
    )
    ledger.pop("rows_matched", None)
    ledger.update(
        {
            "keys": keys,
            "zorder": bool(zorder),
            "n_target_files": int(n_out),
            "bytes_in": int(bytes_in),
            "rows_suppressed_materialized": (
                int(ledger["rows_before"] - ledger["rows_after"])
                if ledger.pop("dvs_active", False)
                and ledger.get("rows_before") is not None
                else 0
            ),
        }
    )
    return ledger


def materialize_deletes(
    spark: SparkSession,
    path: str,
    manifest_path: str | None = None,
    cols: Sequence[str] | None = None,
    keep_versions: int | None = None,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Per-table-serialized entry to ``_materialize_deletes_unlocked``
    (see ``_log_lock`` for the writer-concurrency contract)."""
    with _log_lock(_manifest_dir(path, manifest_path)):
        return _materialize_deletes_unlocked(
            spark, path, manifest_path=manifest_path, cols=cols,
            keep_versions=keep_versions, target_bytes=target_bytes,
        )


def _materialize_deletes_unlocked(
    spark: SparkSession,
    path: str,
    manifest_path: str | None = None,
    cols: Sequence[str] | None = None,
    keep_versions: int | None = None,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Fold the active deletion vectors back into the data files — the
    REORG/PURGE maintenance op paired with merge-on-read
    ``merge_into``: candidate files (manifest-pruned by the tombstone
    key ranges, and only those whose ``added_version`` predates a
    tombstone) are rewritten with the suppression applied, the
    tombstone sidecars retire into the sweep backlog, and the commit
    clears the carried deletion-vector list — one snapshot
    transaction, same crash contract as every other rewrite.  After
    it, ``read_table`` serves the same rows with zero join work.

    Row VISIBILITY does not change (the suppression was already served
    at read time), so on a CDF table this commit records the explicit
    empty change set, like compaction.  Returns a ledger:
    files_rewritten, files_added, rows_suppressed, dv_files_removed,
    version."""
    import uuid

    mdir = _manifest_dir(path, manifest_path)
    jvm, hp, fs = _fs_for(spark, path)
    _check_protocol_head(spark, mdir, f"materialize_deletes {path}")
    _recover_txn(spark, mdir)
    _sweep_removed(spark, mdir)

    snap_v = manifest_version(spark, mdir)
    dvs = _active_dvs(spark, mdir, version=snap_v)
    ledger = {
        "files_rewritten": 0,
        "files_added": 0,
        "rows_suppressed": 0,
        "dv_files_removed": 0,
        "version": snap_v,
    }
    if not dvs:
        return ledger
    manifest = current_manifest(spark, mdir)
    if cols is None:
        cols = [c[:-4] for c in manifest.columns if c.endswith("_min")]
    keys = list(dvs[0]["keys"])
    max_dv_v = max(int(d["version"]) for d in dvs)
    expected = (snap_v if snap_v is not None else -1) + 1

    tomb: DataFrame | None = None
    for d in dvs:
        t = spark.read.parquet(d["file"]).select(*keys)
        tomb = t if tomb is None else tomb.unionByName(t)
    agg = tomb.agg(
        *[F.min(k).alias(f"_lo_{k}") for k in keys],
        *[F.max(k).alias(f"_hi_{k}") for k in keys],
    ).collect()[0]
    ranges = {
        k: (agg[f"_lo_{k}"], agg[f"_hi_{k}"])
        for k in keys
        if agg[f"_lo_{k}"] is not None
    }
    # candidates: key-span overlap AND added before some tombstone —
    # files newer than every tombstone cannot hold suppressed rows
    av = (
        F.coalesce(F.col("added_version"), F.lit(-1))
        if "added_version" in manifest.columns
        else F.lit(-1)
    )
    cand = prune_files(
        manifest.filter(av < F.lit(max_dv_v)), ranges
    )
    dv_files = [d["file"] for d in dvs]

    if not cand:
        # tombstones that never matched a stored row: clear the list
        # with a metadata-only commit
        version = _commit_manifest(
            spark, mdir, None, removed=[], expected_version=expected,
            keep_versions=keep_versions, dvs_clear=True,
            changes=[] if _table_cdf(spark, mdir) else None,
            op="materialize-deletes",
        )
        _post_commit_sweep(spark, mdir)
        ledger.update(
            {"dv_files_removed": len(dv_files), "version": int(version)}
        )
        return ledger

    pcols = _detect_pcols(spark, path, mdir)
    schema = committed_schema(spark, mdir)
    if schema is None:
        schema = spark.read.parquet(path).schema
    from pyspark.sql import Observation

    raw = _read_files(spark, cand, schema, base_path=path)
    obs_in = Observation()
    raw = raw.observe(obs_in, F.count(F.lit(1)).alias("n"))
    out = _dv_suppress(spark, raw, manifest, dvs).select(
        *[f.name for f in schema.fields]
    )

    if pcols:
        out = out.repartition(*pcols)
    else:
        cand_bytes = 0
        for f in cand:
            try:
                cand_bytes += fs.getFileStatus(hp(f)).getLen()
            except Exception:  # pragma: no cover - racing sweep
                pass
        out = out.repartition(
            max(1, -(-cand_bytes // int(target_bytes)))
        )

    tmp = path.rstrip("/") + f"._rewrite_{uuid.uuid4().hex[:8]}"
    obs = Observation()
    final = out.observe(obs, F.count(F.lit(1)).alias("n"))
    writer = _to_phys(final, schema).write.mode("overwrite")
    if pcols:
        writer = writer.partitionBy(*pcols)
    writer.parquet(tmp)
    _verify = lambda: _dir_footer_rows(spark, tmp)  # noqa: E731
    rows_before = int(_obs_result(obs_in, verify_rows=_verify)["n"] or 0)
    rows_after = int(_obs_result(obs, verify_rows=_verify)["n"] or 0)

    planned = [
        (tmp + "/" + rel, path.rstrip("/") + "/" + rel)
        for rel, _ln in _leaf_files(spark, tmp)
    ]
    itok = _write_txn_intent(
        spark,
        mdir,
        {
            "expected_version": expected,
            "added": [dst for _src, dst in planned],
            "removed": list(cand),
        },
    )
    added = _move_files_in(fs, hp, planned)
    fs.delete(hp(tmp), True)

    delta_df = None
    delta_rows = delta_schema = None
    if len(added) <= _LOCAL_STATS_MAX:
        delta_rows, delta_schema = _local_stats_rows(
            added, list(cols), schema, pcols
        )
    else:
        delta_df = parquet_stats_index(
            spark, path, list(cols), paths=added, schema=schema
        )
    try:
        version = _commit_manifest(
            spark, mdir, delta_df, removed=cand, expected_version=expected,
            keep_versions=keep_versions, partition_by=pcols,
            added_files=added, dvs_clear=True,
            changes=[] if _table_cdf(spark, mdir) else None,
            added_rows=delta_rows, stats_schema=delta_schema,
            op="materialize-deletes",
            intent_token=itok,
            metrics={
                "files_added": len(added),
                "files_removed": len(cand),
                "dv_files_removed": len(dv_files),
            },
        )
    except SnapshotConflict:
        _rollback_conflict(spark, mdir, added, intent_token=itok)
        raise
    _post_commit_sweep(spark, mdir)
    _clear_txn_intent(spark, mdir, itok)
    ledger.update(
        {
            "files_rewritten": len(cand),
            "files_added": len(added),
            "rows_suppressed": int(rows_before - rows_after),
            "dv_files_removed": len(dv_files),
            "version": int(version),
        }
    )
    return ledger


def restore_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    manifest_path: str | None = None,
    keep_versions: int | None = None,
    as_of_timestamp: float | None = None,
) -> dict:
    """RESTORE the table to retained snapshot ``version`` as a NEW
    commit (Delta's RESTORE TABLE ... VERSION AS OF): the restored
    state becomes the next version — history moves forward, nothing is
    rewritten in place, and concurrent readers stay on their snapshot.
    The commit's manifest is ``version``'s reconstruction; files the
    later commits added are logically removed (and swept — the
    zero-retention trade: a restore is not itself un-restorable),
    files ``version`` referenced must still exist (always true back
    across append/MOR spans, and across rewrites too on a
    ``retain_removed`` table while the target version is retained;
    on a default table a copy-on-write rewrite in between swept them —
    raises then).  A retained file the restore re-adds leaves the
    sweep backlog — the restored head references it.  The restored commit also pins ``version``'s schema
    and deletion-vector set, while the txn map carries FORWARD from
    the head so streaming writers' replay protection survives the
    restore.  ``as_of_timestamp`` (epoch seconds) is the RESTORE ...
    TIMESTAMP AS OF form — resolved via ``version_at_timestamp``;
    exactly one of ``version``/``as_of_timestamp`` is required.
    Returns a ledger: version, restored_to, files_removed,
    files_readded."""
    mdir = _manifest_dir(path, manifest_path)
    if (version is None) == (as_of_timestamp is None):
        raise ValueError(
            "restore_table: exactly one of version / as_of_timestamp "
            "is required"
        )
    if as_of_timestamp is not None:
        version = version_at_timestamp(
            spark, path, as_of_timestamp, manifest_path
        )
    with _log_lock(mdir):
        jvm, hp, fs = _fs_for(spark, path)
        _check_protocol_head(spark, mdir, f"restore_table {path}")
        _recover_txn(spark, mdir)
        _sweep_removed(spark, mdir)
        versions = _committed_versions(spark, mdir)
        if version not in versions:
            raise ValueError(
                f"version {version} is not committed/retained at {mdir}"
            )
        head = versions[-1]
        snap_v = head
        target_marker = _commit_info(spark, mdir, version)
        target = _reconstruct_manifest(spark, mdir, version)
        target_files = {r["file"] for r in target.select("file").collect()}
        head_files = {
            r["file"]
            for r in _reconstruct_manifest(spark, mdir, head)
            .select("file")
            .collect()
        }
        missing = [
            f
            for f in sorted(target_files - head_files)
            if not fs.exists(hp(f))
        ] + [
            d["file"]
            for d in target_marker.get("dvs", [])
            if not fs.exists(hp(d["file"]))
        ]
        if missing:
            raise ValueError(
                f"cannot restore {path} to v{version}: "
                f"{len(missing)} of its data/tombstone files were swept "
                "by a later rewrite (restore is valid back across "
                "append/merge-on-read spans; rewrites sweep at commit)"
            )
        removed = sorted(head_files - target_files)
        readded = sorted(target_files - head_files)
        version_new = _commit_manifest(
            spark,
            mdir,
            None,
            removed=removed,
            expected_version=head + 1,
            keep_versions=keep_versions,
            table_schema=target_marker.get("schema"),
            partition_by=target_marker.get("partition_by"),
            added_files=readded,
            force_checkpoint=True,
            restore_manifest=target,
            dvs_replace=list(target_marker.get("dvs", [])),
            op=f"restore (to v{version})",
        )
        _post_commit_sweep(spark, mdir)
        return {
            "version": int(version_new),
            "restored_to": int(version),
            "files_removed": len(removed),
            "files_readded": len(readded),
        }


def table_constraints(
    spark: SparkSession, path: str, manifest_path: str | None = None
) -> dict[str, str]:
    """The table's CHECK-constraint map (name → SQL boolean expr) as
    stamped into the current commit — carried forward by every
    transaction, enforced on every write path (append / merge both
    strategies / rewrite)."""
    mdir = _manifest_dir(path, manifest_path)
    v = manifest_version(spark, mdir)
    if v is None:
        return {}
    return dict(_commit_info(spark, mdir, v).get("constraints") or {})


def add_table_constraint(
    spark: SparkSession,
    path: str,
    name: str,
    expr: str,
    manifest_path: str | None = None,
    keep_versions: int | None = None,
) -> dict:
    """ALTER TABLE ... ADD CONSTRAINT ``name`` CHECK (``expr``) on a
    manifest-tracked table (Delta's CHECK constraints): validates the
    EXISTING rows first (one filtered scan through ``read_table`` —
    adding a constraint the data already violates refuses, like
    Delta), then commits the constraint map as a metadata-only
    snapshot transaction; every later write verifies its rows in the
    write job's own CollectMetrics (zero extra scans) and refuses the
    WHOLE transaction on violation.  ANSI semantics: a row violates
    only when the expression is FALSE — enforce presence with an
    explicit ``col IS NOT NULL``.  Returns a ledger: version,
    constraints."""
    mdir = _manifest_dir(path, manifest_path)
    with _log_lock(mdir):
        _check_protocol_head(spark, mdir, f"add_table_constraint {path}")
        _recover_txn(spark, mdir)
        _sweep_removed(spark, mdir)
        snap_v = manifest_version(spark, mdir)
        if snap_v is None:
            raise ValueError(
                f"no committed snapshot at {mdir} — create the table "
                "with append_files first"
            )
        cons = dict(
            _commit_info(spark, mdir, snap_v).get("constraints") or {}
        )
        if name in cons and cons[name] != expr:
            raise ValueError(
                f"constraint {name!r} already exists with a different "
                f"expression ({cons[name]!r}) — drop it first"
            )
        bad = (
            read_table(spark, path, manifest_path=manifest_path)
            .filter(~F.coalesce(F.expr(expr), F.lit(True)))
            .limit(1)
            .count()
        )
        if bad:
            raise ConstraintViolation(
                f"cannot add CHECK constraint {name!r} ({expr}) to "
                f"{path}: existing rows violate it"
            )
        cons[name] = expr
        version = _commit_manifest(
            spark, mdir, None, removed=[],
            expected_version=snap_v + 1,
            keep_versions=keep_versions,
            constraints=cons,
            op=f"add-constraint ({name})",
        )
        return {"version": int(version), "constraints": cons}


def drop_table_constraint(
    spark: SparkSession,
    path: str,
    name: str,
    manifest_path: str | None = None,
    keep_versions: int | None = None,
) -> dict:
    """ALTER TABLE ... DROP CONSTRAINT: removes ``name`` from the
    carried constraint map as a metadata-only commit (missing name is
    a no-op commit-free return, mirroring IF EXISTS)."""
    mdir = _manifest_dir(path, manifest_path)
    with _log_lock(mdir):
        _check_protocol_head(spark, mdir, f"drop_table_constraint {path}")
        _recover_txn(spark, mdir)
        _sweep_removed(spark, mdir)
        snap_v = manifest_version(spark, mdir)
        if snap_v is None:
            raise ValueError(f"no committed snapshot at {mdir}")
        cons = dict(
            _commit_info(spark, mdir, snap_v).get("constraints") or {}
        )
        if name not in cons:
            return {"version": int(snap_v), "constraints": cons}
        del cons[name]
        version = _commit_manifest(
            spark, mdir, None, removed=[],
            expected_version=snap_v + 1,
            keep_versions=keep_versions,
            # an explicit {} (vs None = carry) drops the last one
            constraints=cons,
            op=f"drop-constraint ({name})",
        )
        return {"version": int(version), "constraints": cons}


def _constraint_references(
    spark: SparkSession, expr: str, schema: T.StructType, col: str
) -> bool:
    """Whether a stored CHECK-constraint expression genuinely
    REFERENCES column ``col`` of ``schema`` — resolved STRUCTURALLY by
    Spark's own SQL parser/analyzer, not a text regex: the expression
    is analyzed against an empty frame with the column removed; if it
    still resolves, every token that merely LOOKS like the name (a
    string literal ``'status = \"v\"'``, a word inside a comment) was
    not a reference.  A cheap word-boundary prefilter keeps the common
    no-match case free of analyzer round-trips.  When the expression
    fails to analyze even against the FULL schema (a constraint stored
    before a column it names was dropped by other means), the answer
    falls back to the conservative textual match."""
    if not re.search(rf"(?i)\b{re.escape(col)}\b", expr):
        return False  # not even a token shaped like the name
    low = col.lower()
    without = T.StructType(
        [f for f in schema.fields if f.name.lower() != low]
    )
    try:
        spark.createDataFrame([], without).select(F.expr(expr))
        return False  # analyzes WITHOUT the column → not a reference
    except Exception:
        pass
    try:
        spark.createDataFrame([], schema).select(F.expr(expr))
        return True  # only resolvable WITH it → a genuine reference
    except Exception:
        return True  # unanalyzable either way → conservative textual


def _guard_mapped_ddl(
    spark: SparkSession,
    head: dict,
    schema: T.StructType,
    col: str,
    op: str,
) -> None:
    """Refuse a rename/drop of a column other machinery references by
    NAME: hive partition columns (the directory layout encodes the
    name), active deletion-vector keys (tombstone files and the
    carried dv list store it), and CHECK-constraint expressions (the
    stored SQL would stop resolving — references resolved by the SQL
    analyzer via ``_constraint_references``, so a name inside a string
    literal does not block a legal rename).  Each refusal names the
    unblocking op."""
    pby = head.get("partition_by") or []
    if col in pby:
        raise ValueError(
            f"cannot {op} {col!r}: it is a hive partition column — the "
            "directory layout encodes the name; re-layout the table "
            "first"
        )
    dvs = head.get("dvs") or []
    if dvs and col in list(dvs[0].get("keys", [])):
        raise ValueError(
            f"cannot {op} {col!r}: it is an active deletion-vector "
            "key — run materialize_deletes first"
        )
    for cname, expr in (head.get("constraints") or {}).items():
        if _constraint_references(spark, expr, schema, col):
            raise ValueError(
                f"cannot {op} {col!r}: CHECK constraint {cname!r} "
                f"({expr}) references it (resolved by the SQL "
                "analyzer) — drop the constraint first"
            )


def rename_column(
    spark: SparkSession,
    path: str,
    old: str,
    new: str,
    manifest_path: str | None = None,
    keep_versions: int | None = None,
) -> dict:
    """ALTER TABLE ... RENAME COLUMN as a METADATA-ONLY commit (Delta/
    Iceberg column mapping): the first rename stamps every field with
    a stable id + physical name (= its then-current name — exactly
    what every existing file stores), then the rename changes only the
    LOGICAL name; the physical name, and therefore every data file,
    change-data sidecar, and retained historical file, stays
    byte-untouched.  Readers (``read_table`` / ``table_changes`` /
    the ``lake_changes`` stream) project physical → logical from the
    schema each snapshot stamps, so time travel serves every version
    under ITS OWN column names.  On a 100 TB table this turns a rename
    from a full rewrite into one marker write (plus a metadata-sized
    manifest rewrite when the column carries file-skipping stats).

    Renaming a partition column, an active DV key, or a constraint-
    referenced column refuses with the unblocking op
    (``_guard_mapped_ddl``).  Returns {version, renamed}."""
    mdir = _manifest_dir(path, manifest_path)
    with _log_lock(mdir):
        _check_protocol_head(spark, mdir, f"column DDL {path}")
        _recover_txn(spark, mdir)
        _sweep_removed(spark, mdir)
        snap_v = manifest_version(spark, mdir)
        if snap_v is None:
            raise ValueError(
                f"no committed snapshot at {mdir} — create the table "
                "with append_files first"
            )
        head = _commit_info(spark, mdir, snap_v)
        sj = head.get("schema")
        if sj is None:
            raise ValueError(
                "rename_column needs a schema-stamped table — commit "
                "once through append_files/merge_into first"
            )
        schema = T.StructType.fromJson(sj)
        names = {f.name for f in schema.fields}
        if old not in names:
            raise ValueError(f"no column {old!r} in {path}")
        if new in names:
            raise ValueError(f"column {new!r} already exists in {path}")
        _guard_mapped_ddl(spark, head, schema, old, "rename")
        mapped, cmap = _ensure_mapping(
            schema, head.get("col_mapping") or {}
        )
        renamed = T.StructType(
            [
                T.StructField(
                    new if f.name == old else f.name,
                    f.dataType,
                    f.nullable,
                    f.metadata,
                )
                for f in mapped.fields
            ]
        )
        stats_cols = list(head.get("stats_cols") or [])
        restore = None
        stats_override = None
        if old in stats_cols:
            # the manifest's stats columns are LOGICAL — rewrite the
            # (metadata-sized) manifest once so pruning keeps working
            # under the new name
            restore = (
                current_manifest(spark, mdir)
                .withColumnRenamed(f"{old}_min", f"{new}_min")
                .withColumnRenamed(f"{old}_max", f"{new}_max")
            )
            stats_override = [new if c == old else c for c in stats_cols]
        version = _commit_manifest(
            spark, mdir, None, removed=[],
            expected_version=snap_v + 1,
            keep_versions=keep_versions,
            table_schema=renamed.jsonValue(),
            col_mapping=cmap,
            restore_manifest=restore,
            stats_cols_override=stats_override,
            op=f"rename column ({old} -> {new})",
        )
        return {"version": int(version), "renamed": [old, new]}


def drop_column(
    spark: SparkSession,
    path: str,
    name: str,
    manifest_path: str | None = None,
    keep_versions: int | None = None,
) -> dict:
    """ALTER TABLE ... DROP COLUMN as a METADATA-ONLY commit: the
    field leaves the committed schema and its PHYSICAL name is
    RETIRED (recorded in the carried column-mapping bookkeeping), so
    no data file is touched and a later re-add of the same logical
    name gets a fresh physical name — old files' stale values can
    never resurrect under the new column.  Time travel still serves
    pre-drop snapshots WITH the column (their stamped schemas keep
    it).  Same guards as ``rename_column``.  Returns
    {version, dropped}."""
    mdir = _manifest_dir(path, manifest_path)
    with _log_lock(mdir):
        _check_protocol_head(spark, mdir, f"column DDL {path}")
        _recover_txn(spark, mdir)
        _sweep_removed(spark, mdir)
        snap_v = manifest_version(spark, mdir)
        if snap_v is None:
            raise ValueError(
                f"no committed snapshot at {mdir} — create the table "
                "with append_files first"
            )
        head = _commit_info(spark, mdir, snap_v)
        sj = head.get("schema")
        if sj is None:
            raise ValueError(
                "drop_column needs a schema-stamped table — commit "
                "once through append_files/merge_into first"
            )
        schema = T.StructType.fromJson(sj)
        names = [f.name for f in schema.fields]
        if name not in names:
            raise ValueError(f"no column {name!r} in {path}")
        if len(names) == 1:
            raise ValueError("cannot drop a table's only column")
        _guard_mapped_ddl(spark, head, schema, name, "drop")
        mapped, cmap = _ensure_mapping(
            schema, head.get("col_mapping") or {}
        )
        dropped_field = next(f for f in mapped.fields if f.name == name)
        cmap["retired_phys"] = sorted(
            set(cmap.get("retired_phys", []))
            | {_field_phys(dropped_field)}
        )
        remaining = T.StructType(
            [f for f in mapped.fields if f.name != name]
        )
        stats_cols = list(head.get("stats_cols") or [])
        restore = None
        stats_override = None
        if name in stats_cols:
            restore = current_manifest(spark, mdir).drop(
                f"{name}_min", f"{name}_max"
            )
            stats_override = [c for c in stats_cols if c != name]
        version = _commit_manifest(
            spark, mdir, None, removed=[],
            expected_version=snap_v + 1,
            keep_versions=keep_versions,
            table_schema=remaining.jsonValue(),
            col_mapping=cmap,
            restore_manifest=restore,
            stats_cols_override=stats_override,
            op=f"drop column ({name})",
        )
        return {"version": int(version), "dropped": name}


def maintain_table(
    spark: SparkSession,
    path: str,
    manifest_path: str | None = None,
    target_bytes: int = 128 * 1024 * 1024,
    dv_files_threshold: int = 8,
    dv_rows_threshold: int = 1_000_000,
    compact: bool = True,
    vacuum: bool = True,
    min_age_s: float | None = None,
    cols: Sequence[str] | None = None,
    keep_versions: int | None = None,
) -> dict:
    """THE nightly maintenance entry point — one call composes the
    table's upkeep in dependency order, each step its own snapshot
    transaction (readers never pause, a crash between steps leaves a
    clean committed state the next run resumes from):

    1. **Materialize deletion-vector debt** when it crossed a policy
       threshold — more than ``dv_files_threshold`` active sidecars
       (read-plan branches) or ``dv_rows_threshold`` total tombstone
       rows (suppression-join size) — folding the suppression back
       into data files (Delta's REORG, automated the way Databricks
       auto-compaction automates OPTIMIZE).  Below threshold the
       checkpoint consolidation already bounds the scan count, so the
       expensive rewrite is skipped.
    2. **Compact small files** (< ``target_bytes``) left by streaming
       micro-batches — already-right-sized files keep their inodes, so
       repeated runs converge instead of rewriting the table nightly.
    3. **Vacuum**: intent recovery, the due pending-removal backlog,
       stale temp siblings, orphaned sidecars.

    Returns an action ledger: the observed ``dv_files``/``dv_rows``
    debt, each step's own ledger (or None where skipped/no-op).  All
    knobs pass through to the underlying ops."""
    mdir = _manifest_dir(path, manifest_path)
    if manifest_version(spark, mdir) is None:
        raise ValueError(
            f"no committed snapshot at {mdir} — create the table with "
            "append_files first"
        )
    # fail fast before composing any step (each gated op re-checks)
    _check_protocol_head(spark, mdir, f"maintain_table {path}")
    actions: dict = {}
    dvs = _active_dvs(spark, mdir)
    debt_rows = 0
    for d in dvs:
        r = d.get("rows")
        if r is None:
            r = _footer_num_rows(d["file"]) or 0
        debt_rows += int(r)
    actions["dv_files"] = len(dvs)
    actions["dv_rows"] = debt_rows
    actions["materialize"] = (
        materialize_deletes(
            spark, path, manifest_path, cols=cols,
            keep_versions=keep_versions, target_bytes=target_bytes,
        )
        if dvs
        and (
            len(dvs) > int(dv_files_threshold)
            or debt_rows > int(dv_rows_threshold)
        )
        else None
    )
    actions["compact"] = (
        compact_table(
            spark, path, manifest_path, target_bytes=target_bytes,
            small_bytes=target_bytes, cols=cols,
            keep_versions=keep_versions,
        )
        if compact
        else None
    )
    actions["vacuum"] = (
        vacuum_table(spark, path, manifest_path, min_age_s=min_age_s)
        if vacuum
        else None
    )
    return actions


def upgrade_table_protocol(
    spark: SparkSession,
    path: str,
    min_reader: int | None = None,
    min_writer: int | None = None,
    manifest_path: str | None = None,
    keep_versions: int | None = None,
) -> dict:
    """Explicitly RAISE the table's protocol floor as a metadata-only
    commit (Delta's ALTER TABLE upgrade): an operator locks older
    builds out BEFORE a migration starts using level-N features,
    instead of mid-migration when the first feature commit lands.
    Levels only ever increase (requests at or below the current stamp
    are a commit-free no-op), and a request ABOVE this build's own
    supported level refuses — a writer must understand what it stamps.
    Returns {version, protocol}."""
    want_r = int(min_reader) if min_reader is not None else 1
    want_w = int(min_writer) if min_writer is not None else 1
    if want_r > _SUPPORTED_READER or want_w > _SUPPORTED_WRITER:
        raise ValueError(
            f"cannot upgrade to reader {want_r} / writer {want_w}: this "
            f"build supports {_SUPPORTED_READER}/{_SUPPORTED_WRITER}"
        )
    mdir = _manifest_dir(path, manifest_path)
    with _log_lock(mdir):
        _check_protocol_head(spark, mdir, f"upgrade_table_protocol {path}")
        _recover_txn(spark, mdir)
        _sweep_removed(spark, mdir)
        snap_v = manifest_version(spark, mdir)
        if snap_v is None:
            raise ValueError(
                f"no committed snapshot at {mdir} — create the table "
                "with append_files first"
            )
        cur = dict(
            _commit_info(spark, mdir, snap_v).get("protocol") or {}
        )
        cur_r = int(cur.get("min_reader", 1))
        cur_w = int(cur.get("min_writer", 1))
        if want_r <= cur_r and want_w <= cur_w:
            return {
                "version": int(snap_v),
                "protocol": {"min_reader": cur_r, "min_writer": cur_w},
            }
        version = _commit_manifest(
            spark, mdir, None, removed=[],
            expected_version=snap_v + 1,
            keep_versions=keep_versions,
            protocol_floor=(want_r, want_w),
            op=f"upgrade-protocol ({want_r}/{want_w})",
        )
        return {
            "version": int(version),
            "protocol": {
                "min_reader": max(want_r, cur_r),
                "min_writer": max(want_w, cur_w),
            },
        }


def table_history(spark: SparkSession, path: str, manifest_path: str | None = None) -> list[dict]:
    """Commit history of a manifest-tracked table (DESCRIBE HISTORY
    analog): one dict per RETAINED committed version — version number,
    commit kind (checkpoint/delta), file/row totals from the
    reconstructed snapshot, the commit's added/removed file counts,
    and its txn map (which streaming batch ids are durably ingested).
    Bounded by the retained checkpoint chains (``keep_versions`` floor
    — the delta run since the last checkpoint stays readable); the
    full audit trail a deployment keeps by raising ``keep_versions``."""
    mdir = _manifest_dir(path, manifest_path)
    out = []
    for v in _committed_versions(spark, mdir):
        commit = _commit_info(spark, mdir, v)
        m = _reconstruct_manifest(spark, mdir, v)
        agg = m.agg(
            F.count(F.lit(1)).alias("files"), F.sum("n_rows").alias("rows")
        ).collect()[0]
        # deletion-vector DEBT as of this snapshot: sidecar count (one
        # extra scan branch per read until consolidated/materialized)
        # and total tombstone rows — entries stamp their own row counts
        # at commit; pre-stamp entries fall back to one footer read
        dvs = commit.get("dvs", [])
        dv_rows: int | None = 0
        for d in dvs:
            r = d.get("rows")
            if r is None:
                r = _footer_num_rows(d["file"])
            if r is None:
                dv_rows = None
                break
            dv_rows += int(r)
        out.append(
            {
                "version": v,
                "ts": _commit_wall_ts(spark, mdir, v, marker=commit),
                "op": commit.get("op"),
                "kind": commit.get("kind", "checkpoint"),
                "files": int(agg["files"]),
                "rows": int(agg["rows"] or 0),
                "added": len(commit.get("added", [])),
                "removed_pending": len(
                    commit.get("pending", commit.get("removed", []))
                ),
                "dv_files": len(dvs),
                "dv_rows": dv_rows,
                "protocol": commit.get("protocol"),
                "features": commit.get("features"),
                "txns": commit.get("txns", {}),
                "metrics": commit.get("metrics", {}),
            }
        )
    return out


def vacuum_table(
    spark: SparkSession,
    path: str,
    manifest_path: str | None = None,
    min_age_s: float | None = None,
    dry_run: bool = False,
) -> list[str]:
    """Sweep the table's leftover transaction debris: sibling temp
    directories (``<path>._append_*`` / ``._rewrite_*`` / ``._delete_*``)
    whose transactions are not in flight — a crash between the temp
    write and the ``_TXN`` intent marker leaves one behind (recovery
    can't know about it: nothing was logged yet), invisible to every
    reader but holding disk.  Also runs ``_recover_txn`` +
    ``_sweep_removed`` so one call returns the table to a fully clean
    state.  Returns the removed paths.

    Concurrency: the WHOLE sweep holds the table's write lock — every
    same-driver writer runs its full temp-write → sidecar → intent →
    commit window under the same lock, so vacuum can never eat a live
    transaction's temp dir or its not-yet-committed deletion-vector /
    change-data sidecars.  Files a live ``_TXN`` intent references are
    excluded explicitly, and anything younger than ``min_age_s``
    (default: the cross-process commit lease TTL) is left alone — a
    writer in ANOTHER process may be mid-transaction; its debris
    becomes sweepable after the TTL, the same staleness rule the lease
    itself uses.  Pass ``min_age_s=0`` only when no other process can
    be writing (Delta's RETAIN 0 HOURS caveat).

    ``dry_run=True`` (Delta's VACUUM ... DRY RUN) returns the paths
    the same call would delete — the due pending-removal backlog,
    stale temp siblings, orphaned sidecars — WITHOUT deleting
    anything, and without running intent recovery (recovery mutates;
    a dry run must be a pure listing)."""
    import time as _time

    mdir = _manifest_dir(path, manifest_path)
    age_floor_ms = (
        _LEASE_TTL_S if min_age_s is None else float(min_age_s)
    ) * 1000.0
    removed: list[str] = []
    with _log_lock(mdir):
        jvm, hp, fs = _fs_for(spark, path)
        # a table stamped beyond this build's feature level may
        # reference files in ways this build cannot parse — sweeping
        # by a misread manifest could delete live data, so refuse
        # up front like every other write/maintenance entry point
        _check_protocol_head(spark, mdir, f"vacuum_table {path}")
        now_ms = _time.time() * 1000.0
        young = lambda st: (now_ms - st.getModificationTime()) < age_floor_ms

        def _fresh_tree(st) -> bool:
            # a dir's OWN mtime freezes while a cross-process write
            # streams part files in underneath — any young descendant
            # keeps the whole tree alive (early exit on the first)
            if young(st):
                return True
            if st.isDirectory():
                for child in fs.listStatus(st.getPath()):
                    if _fresh_tree(child):
                        return True
            return False

        # intent recovery is age-guarded too: a LIVE other-process
        # writer sits between its _TXN intent and its commit — rolling
        # that back would delete its just-moved-in files and let its
        # commit reference nothing.  Recovery of a genuinely dead
        # writer happens once the marker crosses the age floor.
        tpath = hp(f"{mdir}/_TXN")
        if not dry_run and (
            not fs.exists(tpath) or not young(fs.getFileStatus(tpath))
        ):
            _recover_txn(spark, mdir)
        removed += _sweep_removed(spark, mdir, dry_run=dry_run)
        parent = hp(path).getParent()
        base = hp(path).getName()
        for st in fs.listStatus(parent):
            name = st.getPath().getName()
            if (
                st.isDirectory()
                and (
                    name.startswith(base + "._append_")
                    or name.startswith(base + "._rewrite_")
                    or name.startswith(base + "._delete_")
                    or name.startswith(base + "._merge_")
                )
                and not _fresh_tree(st)
            ):
                if not dry_run:
                    fs.delete(st.getPath(), True)
                removed.append(st.getPath().toUri().getPath())
        # sidecar orphans: _deletes/_changes files no retained commit
        # (and no in-flight _TXN intent) references — a crash between
        # the sidecar write and the _TXN intent leaves them, invisible
        # to readers, holding disk
        live: set[str] = set()
        for v in _committed_versions(spark, mdir):
            commit = _commit_info(spark, mdir, v)
            live.update(d["file"] for d in commit.get("dvs", []))
            live.update(commit.get("changes", []) or [])
        tpath = hp(f"{mdir}/_TXN")
        if fs.exists(tpath):
            live.update(
                _read_json_marker(spark, f"{mdir}/_TXN").get("added", [])
            )
        for sub in ("_deletes", "_changes"):
            sdir = hp(path.rstrip("/") + "/" + sub)
            if not fs.exists(sdir):
                continue
            for st in fs.listStatus(sdir):
                refd = False
                fresh = young(st)
                for leaf in (
                    fs.listStatus(st.getPath()) if st.isDirectory() else [st]
                ):
                    fresh = fresh or young(leaf)
                    q = leaf.getPath()
                    uri = q.toString()
                    if uri.startswith("file:"):
                        uri = q.toUri().getPath()
                    if uri in live:
                        refd = True
                if not refd and not fresh:
                    if not dry_run:
                        fs.delete(st.getPath(), True)
                    removed.append(st.getPath().toUri().getPath())
    return removed


def _cdf_schema(schema: T.StructType) -> T.StructType:
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


def table_changes(
    spark: SparkSession,
    path: str,
    since_version: int | None = None,
    manifest_path: str | None = None,
    change_feed: bool = False,
    since_timestamp: float | None = None,
) -> DataFrame:
    """Incremental read: what changed AFTER retained snapshot
    ``since_version`` — what a downstream consumer processes per poll
    without re-reading the table (Delta's
    streaming-source-from-a-table).

    Default mode (append-span CDC): the plain new rows.  The diff is
    FILE-level — the current manifest's file set minus
    ``since_version``'s — so the read touches only the delta files,
    never the table.  This is exact because append commits only ADD
    files; if any commit in the span removed files or changed deletion
    vectors (delete/update/merge/compaction rewrote or suppressed
    history), row-level changes are no longer recoverable from file
    arithmetic and this raises — use ``change_feed=True`` on a
    CDF-enabled table, or re-read the snapshot.

    ``change_feed=True`` (row-level CDC): rows carry ``_change_type``
    (insert / update_preimage / update_postimage / delete) and
    ``_commit_version``.  Append commits synthesize inserts from their
    added files (no sidecar needed — Delta does the same); rewrite
    commits are served from the change-data files they wrote when the
    table's CDF flag was set (``append_files(enable_cdf=True)``), and
    raise when a rewrite commit in the span predates the flag.

    ``since_version`` must still be retained (``keep_versions``).
    ``since_timestamp`` (epoch seconds; exactly one of the two) is the
    CDF startingTimestamp form — resolved via ``version_at_timestamp``
    to the snapshot current at that instant, i.e. changes strictly
    AFTER it.  Rows come back under the CURRENT committed schema
    (evolved columns null-fill for pre-evolution files)."""
    mdir = _manifest_dir(path, manifest_path)
    if (since_version is None) == (since_timestamp is None):
        raise ValueError(
            "table_changes: exactly one of since_version / "
            "since_timestamp is required"
        )
    if since_timestamp is not None:
        since_version = version_at_timestamp(
            spark, path, since_timestamp, manifest_path
        )
    versions = _committed_versions(spark, mdir)
    if since_version not in versions:
        raise ValueError(
            f"version {since_version} is not committed/retained at "
            f"{mdir} — raise keep_versions on the maintenance ops for "
            "deeper incremental history"
        )
    head = versions[-1]
    # every per-version read below pins to `head` (the listing's
    # snapshot) — resolving "current" again mid-function would race a
    # concurrent commit
    _check_protocol(
        _commit_info(spark, mdir, head), "read", f"table_changes {path}"
    )
    schema = committed_schema(spark, mdir, version=head)
    if schema is None:
        schema = spark.read.parquet(path).schema

    if change_feed:
        span = [v for v in versions if v > since_version]
        parts: list[DataFrame] = []
        cdf_schema = _cdf_schema(schema)
        for v in span:
            commit = _commit_info(spark, mdir, v)
            changes = commit.get("changes")
            if changes is not None:
                # a rewrite/merge that wrote its change-data files
                # (possibly the explicit empty set — compaction)
                if changes:
                    parts.append(
                        _read_files(spark, changes, cdf_schema)
                    )
                continue
            if commit.get("removed") or commit.get("dvs_delta"):
                raise ValueError(
                    f"commit v{v} rewrote files without change-data "
                    "files — enable the change-data feed "
                    "(append_files(enable_cdf=True)) before rewrites "
                    "to serve row-level CDC across them"
                )
            added = commit.get("added", [])
            if added:
                parts.append(
                    _read_files(spark, added, schema, base_path=path)
                    .withColumn("_change_type", F.lit("insert"))
                    .withColumn(
                        "_commit_version", F.lit(v).cast("long")
                    )
                )
        if not parts:
            return spark.createDataFrame([], cdf_schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    base_files = {
        r["file"]
        for r in current_manifest(spark, mdir, version=since_version)
        .select("file")
        .collect()
    }
    head_files = {
        r["file"]
        for r in current_manifest(spark, mdir, version=head)
        .select("file")
        .collect()
    }
    rewritten = base_files - head_files
    dv_now = {d["file"] for d in _active_dvs(spark, mdir, version=head)}
    dv_then = {d["file"] for d in _active_dvs(spark, mdir, since_version)}
    if rewritten or dv_now != dv_then:
        raise ValueError(
            f"the v{since_version}..v{head} span rewrote "
            f"{len(rewritten)} file(s) or changed deletion vectors "
            "(delete/update/merge/compact) — append-span CDC cannot "
            "reconstruct row-level changes across that; use "
            "change_feed=True on a CDF-enabled table, or re-read the "
            "snapshot"
        )
    new_files = sorted(head_files - base_files)
    if not new_files:
        return spark.createDataFrame([], schema)
    return _read_files(spark, new_files, schema, base_path=path)


def start_lake_merge_stream(
    stream_df: DataFrame,
    path: str,
    keys: Sequence[str],
    checkpoint_dir: str,
    manifest_path: str | None = None,
    mode: str = "update",
    cols: Sequence[str] | None = None,
    app_id: str = "lake_merge",
    available_now: bool = True,
    maintain_every: int | None = None,
    maintain_kwargs: dict | None = None,
    on_maintain: "Callable[[dict], None] | None" = None,
):
    """Streaming keyed upsert through the snapshot log — the streaming
    half of ``merge_into``, completing the unification the reference's
    dumper does per batch (keyed DO NOTHING / DO UPDATE,
    src/dumper/postgres.rs:41-92): a checkpointed ``foreachBatch``
    where every micro-batch lands as ONE txn-stamped merge commit, so
    a checkpoint replay after a crash is a no-op (exactly-once keyed
    upsert on bare parquet) and a snapshot reader sees each batch's
    merge entirely or not yet.

    The first batch on an empty table seeds it (``append_files`` —
    ``cols`` is required then, as the stats columns).  Micro-batches
    must be key-unique (Delta's MERGE contract; dedup upstream with
    keep-last — ``operators/relational.py`` D1/D3 — as the reference's
    in-batch dedup does, etl_result.rs:205-248).

    ``maintain_every``/``maintain_kwargs``: the in-band maintenance
    cadence (see ``start_lake_append_stream``) — for a merge-on-read
    stream this is also what keeps the tombstone debt materialized at
    the thresholds instead of growing until an external REORG.
    ``on_maintain`` (optional) receives each in-band maintenance
    ledger — wire it to the monitoring tier
    (``streaming.monitor.record_maintenance``) so an operator can SEE
    that the stream is bounding its own debt."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():  # e.g. a final watermark-commit batch
            return
        sp = batch.sparkSession
        mdir = _manifest_dir(path, manifest_path)
        if manifest_version(sp, mdir) is None:
            append_files(
                sp, batch, path, manifest_path=manifest_path, cols=cols,
                txn=(app_id, int(batch_id)),
            )
        else:
            merge_into(
                sp, batch, path, keys=list(keys),
                manifest_path=manifest_path, mode=mode, cols=cols,
                txn=(app_id, int(batch_id)),
            )
        if maintain_every and (int(batch_id) + 1) % int(maintain_every) == 0:
            # maintenance losing a race to ANOTHER maintenance actor
            # (the two-actor deployment: an external cron maintain/
            # vacuum on the same table) must not kill the stream —
            # every step is idempotent and converging, so the bounded
            # retry is always the right response here
            actions = retry_on_conflict(
                lambda: maintain_table(
                    sp, path, manifest_path, **(maintain_kwargs or {})
                )
            )
            if on_maintain is not None:
                on_maintain(
                    {
                        "batch_id": int(batch_id),
                        "version": manifest_version(sp, mdir),
                        "actions": actions,
                    }
                )

    writer = (
        stream_df.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_lake_append_stream(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    manifest_path: str | None = None,
    cols: Sequence[str] | None = None,
    app_id: str = "lake_append",
    available_now: bool = True,
    maintain_every: int | None = None,
    maintain_kwargs: dict | None = None,
    on_maintain: "Callable[[dict], None] | None" = None,
):
    """Wire a streaming DataFrame into ``append_files`` — checkpointed
    ``foreachBatch`` where each micro-batch lands as ONE snapshot
    commit stamped with its batch id.  Checkpoint replay after a crash
    re-delivers a batch; the txn stamp makes the re-delivery a no-op,
    so the table + manifest stay exactly-once while remaining plain
    parquet any engine can read (and snapshot readers never see a
    torn batch).  This is the streaming half of the lakehouse tier:
    ingest commits through the same log the maintenance ops
    (compaction, delete, update) commit through.

    ``maintain_every=N`` runs ``maintain_table`` after every Nth batch
    (Databricks auto-compaction's role): a long-running stream lands
    one file set per trigger and fragments the table forever unless
    someone compacts externally — the in-band cadence bounds the file
    count while readers keep serving (each maintenance step is its own
    snapshot transaction).  Idempotent under checkpoint replay: the
    ingest skips on its txn stamp and a re-run maintenance pass
    converges to a no-op.  ``maintain_kwargs`` pass through
    (thresholds, target_bytes, min_age_s).  ``on_maintain`` (optional)
    receives each in-band maintenance ledger
    (``{"batch_id", "version", "actions"}``) — wire it to the
    monitoring tier (``streaming.monitor.record_maintenance``) so the
    T6/T7 health surface shows the stream bounding its own debt
    instead of the ledger dying inside this closure."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        append_files(
            batch.sparkSession,
            batch,
            path,
            manifest_path=manifest_path,
            cols=cols,
            txn=(app_id, int(batch_id)),
        )
        if maintain_every and (int(batch_id) + 1) % int(maintain_every) == 0:
            # see start_lake_merge_stream: a maintenance-vs-maintenance
            # race (external cron actor) retries instead of failing
            # the stream — idempotent, converging
            actions = retry_on_conflict(
                lambda: maintain_table(
                    batch.sparkSession, path, manifest_path,
                    **(maintain_kwargs or {}),
                )
            )
            if on_maintain is not None:
                on_maintain(
                    {
                        "batch_id": int(batch_id),
                        "version": manifest_version(
                            batch.sparkSession,
                            _manifest_dir(path, manifest_path),
                        ),
                        "actions": actions,
                    }
                )

    writer = (
        stream_df.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
