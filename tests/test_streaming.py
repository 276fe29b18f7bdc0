"""Streaming + sink tier: file-source streaming must produce the same
sink contents as the batch pipeline; upserts must be idempotent; the
DBAPI sink must emit reference-parity ON CONFLICT semantics (sqlite and
Postgres share the syntax); decode must round-trip the strict schema."""

from __future__ import annotations

import json
import os
import sqlite3
import urllib.request

import pytest

from evmtrace_etl_spark.plans.pipeline import (
    zk_contracts_deduped,
    zk_transactions,
)
from evmtrace_etl_spark.sinks import (
    DbApiPartitionUpsertSink,
    DbApiUpsertSink,
    LakeUpsertSink,
)
from evmtrace_etl_spark.sources import fixtures
from evmtrace_etl_spark.streaming import monitor, runner, sources

# r15: deep scenario module — full-tier only (see tests/conftest.py)
pytestmark = pytest.mark.slow


def _rows(df):
    return sorted(map(repr, df.collect()))


@pytest.fixture()
def traces_json_dir(spark, tmp_path):
    d = tmp_path / "traces_json"
    fixtures.traces_df(spark).coalesce(1).write.json(str(d))
    return str(d)


def test_stream_matches_batch(spark, traces_json_dir, tmp_path):
    sink = LakeUpsertSink(str(tmp_path / "sink"))
    q = runner.start_zk_stream(
        sources.file_trace_stream(spark, traces_json_dir),
        sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    from evmtrace_etl_spark.functions.evm import (
        CONTRACT_ADDRESS_COLS,
        TRANSACTION_ADDRESS_COLS,
        with_checksummed_addresses,
    )

    traces = fixtures.traces_df(spark)
    tx_batch = zk_transactions(traces)
    c_batch = zk_contracts_deduped(traces)
    tx_batch = with_checksummed_addresses(tx_batch, *TRANSACTION_ADDRESS_COLS)
    c_batch = with_checksummed_addresses(c_batch, *CONTRACT_ADDRESS_COLS)
    assert _rows(sink.read(spark, "transactions")) == _rows(tx_batch)
    assert _rows(sink.read(spark, "contracts")) == _rows(c_batch)


def test_stream_idempotent_replay(spark, traces_json_dir, tmp_path):
    sink = LakeUpsertSink(str(tmp_path / "sink"))
    for i in range(2):  # same data replayed with a fresh checkpoint
        q = runner.start_zk_stream(
            sources.file_trace_stream(spark, traces_json_dir),
            sink,
            checkpoint_dir=str(tmp_path / f"ckpt{i}"),
        )
        q.awaitTermination(120)
    tx_batch = zk_transactions(fixtures.traces_df(spark))
    assert sink.read(spark, "transactions").count() == tx_batch.count()


def test_block_stream_upsert(spark, tmp_path):
    d = tmp_path / "blocks_json"
    fixtures.blocks_df(spark).coalesce(1).write.json(str(d))
    sink = LakeUpsertSink(str(tmp_path / "sink"))
    q = runner.start_block_stream(
        sources.file_block_stream(spark, str(d)),
        sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    from evmtrace_etl_spark.functions.evm import (
        BLOCK_ADDRESS_COLS,
        with_checksummed_addresses,
    )
    from evmtrace_etl_spark.plans.pipeline import blocks_passthrough

    assert _rows(sink.read(spark, "blocks")) == _rows(
        with_checksummed_addresses(
            blocks_passthrough(fixtures.blocks_df(spark)), *BLOCK_ADDRESS_COLS
        )
    )


def test_decode_payloads_roundtrip(spark):
    """S3: JSON payload → strict-schema decode reproduces the fixture
    (chain 1 rows; seq from the simulated offset column)."""
    src = fixtures.traces_df(spark).filter("chain_id = 1")
    payload_cols = [
        f.name for f in sources.TRACE_PAYLOAD_SCHEMA.fields
    ]
    wire = src.selectExpr(
        "to_json(struct(" + ", ".join(payload_cols) + ")) AS value",
        "seq AS offset",
    )
    decoded = sources.decode_payloads(
        wire, fixtures.TRACE_SCHEMA, chain_id=1
    )
    assert _rows(decoded) == _rows(src)


def test_dbapi_sink_on_conflict(spark):
    tx = zk_transactions(fixtures.traces_df(spark))
    conn = sqlite3.connect(":memory:", check_same_thread=False)
    cols = ", ".join(c for c in tx.columns)
    conn.execute(
        f"CREATE TABLE transactions ({cols}, "
        "PRIMARY KEY (chain_id, transaction_hash))"
    )

    sink = DbApiUpsertSink(lambda: _NoCloseConn(conn))
    sink.upsert(tx, "transactions", runner.TX_KEYS, mode="ignore")
    n1 = conn.execute("SELECT count(*) FROM transactions").fetchone()[0]
    sink.upsert(tx, "transactions", runner.TX_KEYS, mode="ignore")
    n2 = conn.execute("SELECT count(*) FROM transactions").fetchone()[0]
    assert n1 == tx.count() and n2 == n1  # DO NOTHING held

    # blocks-style DO UPDATE
    conn.execute(
        "CREATE TABLE blocks (chain_id, number, gas_used, "
        "PRIMARY KEY (chain_id, number))"
    )
    b1 = spark.createDataFrame(
        [(1, 100, 5)], "chain_id long, number long, gas_used long"
    )
    b2 = spark.createDataFrame(
        [(1, 100, 9)], "chain_id long, number long, gas_used long"
    )
    sink.upsert(b1, "blocks", runner.BLOCK_KEYS, mode="update")
    sink.upsert(b2, "blocks", runner.BLOCK_KEYS, mode="update")
    assert conn.execute("SELECT gas_used FROM blocks").fetchall() == [(9,)]


def test_dbapi_sink_on_conflict_duckdb_dialect(spark, tmp_path):
    """Second-dialect verification (r6 verdict ask): the exact
    ``INSERT … ON CONFLICT`` strings `_upsert_sql` generates (mirroring
    etl_result.rs:159,216,269-281) must execute with identical
    semantics on a second engine.  DuckDB speaks Postgres-flavored
    ``ON CONFLICT (…) DO NOTHING / DO UPDATE SET c = excluded.c`` and
    qmark placeholders, so the sink runs against it UNMODIFIED — the
    point of deriving the SQL from the DB-API paramstyle only."""
    import duckdb

    tx = zk_transactions(fixtures.traces_df(spark))
    conn = duckdb.connect()
    col_defs = ", ".join(f"{c} VARCHAR" for c in tx.columns)
    conn.execute(
        f"CREATE TABLE transactions ({col_defs}, "
        "PRIMARY KEY (chain_id, transaction_hash))"
    )
    sink = DbApiUpsertSink(lambda: _NoCloseConn(conn))
    sink.upsert(tx, "transactions", runner.TX_KEYS, mode="ignore")
    n1 = conn.execute("SELECT count(*) FROM transactions").fetchone()[0]
    sink.upsert(tx, "transactions", runner.TX_KEYS, mode="ignore")
    n2 = conn.execute("SELECT count(*) FROM transactions").fetchone()[0]
    assert n1 == tx.count() and n2 == n1  # DO NOTHING held

    conn.execute(
        "CREATE TABLE blocks (chain_id BIGINT, number BIGINT, "
        "gas_used BIGINT, PRIMARY KEY (chain_id, number))"
    )
    b1 = spark.createDataFrame(
        [(1, 100, 5)], "chain_id long, number long, gas_used long"
    )
    b2 = spark.createDataFrame(
        [(1, 100, 9)], "chain_id long, number long, gas_used long"
    )
    sink.upsert(b1, "blocks", runner.BLOCK_KEYS, mode="update")
    sink.upsert(b2, "blocks", runner.BLOCK_KEYS, mode="update")
    assert conn.execute("SELECT gas_used FROM blocks").fetchall() == [(9,)]
    conn.close()


def test_dbapi_partition_sink_duckdb_file(spark, tmp_path):
    """The executor-side partition sink against a DuckDB database file.
    DuckDB is single-writer per file, so write parallelism is capped at
    1 (the ``max_parallelism`` knob exists exactly for engines with
    connection/ingest limits); semantics must match the driver-side
    sink's."""
    import duckdb

    db = str(tmp_path / "part.duckdb")
    with duckdb.connect(db) as c:
        c.execute(
            "CREATE TABLE kv (k BIGINT, v BIGINT, PRIMARY KEY (k))"
        )
    df = spark.createDataFrame(
        [(i, i * 10) for i in range(50)], "k long, v long"
    )
    psink = DbApiPartitionUpsertSink(
        lambda: duckdb.connect(db), max_parallelism=1
    )
    psink.upsert(df, "kv", ["k"], mode="ignore")
    bump = spark.createDataFrame([(7, 999), (50, 500)], "k long, v long")
    psink.upsert(bump, "kv", ["k"], mode="update")
    with duckdb.connect(db) as c:
        assert c.execute("SELECT count(*) FROM kv").fetchone()[0] == 51
        assert c.execute("SELECT v FROM kv WHERE k = 7").fetchone()[0] == 999


class _NoCloseConn:
    """sqlite shim: the sink closes per batch; keep the test DB open."""

    def __init__(self, conn):
        self._conn = conn

    def cursor(self):
        return self._conn.cursor()

    def commit(self):
        self._conn.commit()

    def close(self):
        pass


def test_parquet_upsert_ignore_mode_partitioned(spark, tmp_path):
    """insert-if-absent across partitions: replayed keys are skipped,
    new keys land in their partition."""
    sink = LakeUpsertSink(str(tmp_path / "sink"))
    schema = "chain_id long, transaction_hash string, v long"
    keys = ["chain_id", "transaction_hash"]
    sink.upsert(
        spark.createDataFrame([(1, "a", 1), (2, "b", 2)], schema),
        "tx", keys, mode="ignore",
    )
    sink.upsert(
        spark.createDataFrame([(1, "a", 99), (1, "c", 3)], schema),
        "tx", keys, mode="ignore",
    )
    got = {
        (r.chain_id, r.transaction_hash): r.v
        for r in sink.read(spark, "tx").collect()
    }
    assert got == {(1, "a"): 1, (2, "b"): 2, (1, "c"): 3}


def test_parquet_upsert_schema_evolution_add_only(spark, tmp_path):
    """ADD-ONLY schema evolution: a batch carrying a NEW column evolves
    the table (old rows — including untouched partitions whose parquet
    files never contain the column — read back NULL through the
    committed schema); a batch OMITTING a column null-fills its rows; a
    TYPE change on a shared column is rejected loudly."""
    import pytest as _pytest

    sink = LakeUpsertSink(str(tmp_path / "sink"))
    keys = ["chain_id", "number"]
    sink.upsert(
        spark.createDataFrame(
            [(c, i, c * 100 + i) for c in (1, 2) for i in range(3)],
            "chain_id long, number long, gas_used long",
        ),
        "blocks", keys, mode="update",
    )
    # batch with an added column, touching ONLY chain 1 (chain 2 keeps
    # its files, which lack the column on disk)
    sink.upsert(
        spark.createDataFrame(
            [(1, 0, 111, "0xaa"), (1, 9, 119, "0xbb")],
            "chain_id long, number long, gas_used long, miner string",
        ),
        "blocks", keys, mode="update",
    )
    df = sink.read(spark, "blocks")
    assert df.columns == ["chain_id", "number", "gas_used", "miner"]
    got = {(r.chain_id, r.number): (r.gas_used, r.miner) for r in df.collect()}
    assert got[(1, 0)] == (111, "0xaa") and got[(1, 9)] == (119, "0xbb")
    assert got[(2, 1)] == (201, None)  # untouched partition null-fills
    assert got[(1, 1)] == (101, None)  # merged-partition old row too
    # batch omitting the evolved column still lands (null-filled)
    sink.upsert(
        spark.createDataFrame(
            [(2, 7, 777)], "chain_id long, number long, gas_used long"
        ),
        "blocks", keys, mode="ignore",
    )
    got = {(r.chain_id, r.number): (r.gas_used, r.miner)
           for r in sink.read(spark, "blocks").collect()}
    assert got[(2, 7)] == (777, None)
    # nullability-only differences are NOT type changes: micro-batches
    # of one logical schema legitimately disagree on containsNull (a
    # fully-populated batch infers non-null array elements) — this
    # exact case killed a real stream before the check denulled types
    from pyspark.sql import types as T

    arr_nn = T.StructType([
        T.StructField("chain_id", T.LongType()),
        T.StructField("number", T.LongType()),
        T.StructField("gas_used", T.LongType()),
        T.StructField("tags", T.ArrayType(T.StringType(), False)),
    ])
    sink.upsert(
        spark.createDataFrame([(2, 8, 888, ["a"])], arr_nn),
        "blocks", keys, mode="ignore",
    )
    arr_n = T.StructType(arr_nn.fields[:3] + [
        T.StructField("tags", T.ArrayType(T.StringType(), True)),
    ])
    sink.upsert(
        spark.createDataFrame([(2, 9, 899, ["b", None])], arr_n),
        "blocks", keys, mode="ignore",
    )
    got = {(r.chain_id, r.number): r.tags
           for r in sink.read(spark, "blocks").collect()}
    assert got[(2, 8)] == ["a"] and got[(2, 9)] == ["b", None]
    # type change on a shared column: rejected, table intact
    with _pytest.raises(ValueError, match="add-only"):
        sink.upsert(
            spark.createDataFrame(
                [(1, 2, "oops")],
                "chain_id long, number long, gas_used string",
            ),
            "blocks", keys, mode="update",
        )
    assert sink.read(spark, "blocks").count() == 10
    # a batch OMITTING the PARTITION column is not add-only evolution:
    # silently folding it in would rewrite the table unpartitioned with
    # NULL partition values, defeating every later pruned merge
    with _pytest.raises(ValueError, match="partition"):
        sink.upsert(
            spark.createDataFrame(
                [(77, 7700)], "number long, gas_used long"
            ),
            "blocks", ["number"], mode="ignore",
        )
    assert sink.read(spark, "blocks").count() == 10


def test_dbapi_partition_sink_matches_collect(spark, tmp_path):
    """The foreachPartition writer must produce the same table as the
    driver-collect writer, and stay idempotent under replay."""
    tx = zk_transactions(fixtures.traces_df(spark))
    ddl = ", ".join(tx.columns)
    paths = {}
    for name in ("collect", "part"):
        db = str(tmp_path / f"{name}.db")
        conn = sqlite3.connect(db)
        conn.execute(
            f"CREATE TABLE transactions ({ddl}, "
            "PRIMARY KEY (chain_id, transaction_hash))"
        )
        conn.commit()
        conn.close()
        paths[name] = db

    DbApiUpsertSink(lambda: sqlite3.connect(paths["collect"])).upsert(
        tx, "transactions", runner.TX_KEYS, mode="ignore"
    )
    part_db = paths["part"]
    psink = DbApiPartitionUpsertSink(
        lambda: sqlite3.connect(part_db, timeout=60), max_parallelism=4
    )
    psink.upsert(tx, "transactions", runner.TX_KEYS, mode="ignore")
    psink.upsert(tx, "transactions", runner.TX_KEYS, mode="ignore")  # replay

    def rows(db):
        with sqlite3.connect(db) as c:
            return sorted(c.execute("SELECT * FROM transactions").fetchall())

    assert rows(paths["collect"]) == rows(part_db)
    assert len(rows(part_db)) == tx.count()
    assert os.path.exists(part_db)


def test_kafka_stream_smoke(spark, tmp_path):
    """S1 against a real broker — opt-in via EVMTRACE_KAFKA_BOOTSTRAP.

    The sandbox ships neither a broker nor the spark-sql-kafka connector
    jar, so by default this documents the skip; the file-stream analog
    (test_stream_matches_batch) is the permanent CI stand-in — identical
    decode, plan, and sink semantics, different source format only."""
    bootstrap = os.environ.get("EVMTRACE_KAFKA_BOOTSTRAP")
    if not bootstrap:
        pytest.skip(
            "no Kafka broker/connector in this environment; "
            "file_trace_stream is the documented permanent CI stand-in"
        )
    sink = LakeUpsertSink(str(tmp_path / "sink"))
    q = runner.start_zk_stream(
        sources.kafka_trace_stream(spark, bootstrap, "traces-1", chain_id=1),
        sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(300)
    assert sink.read(spark, "transactions") is not None


def test_monitoring_and_health(spark):
    stats = monitor.EngineStats()
    monitor.record_batch_heads(stats, fixtures.traces_df(spark), "trace")
    snap = stats.snapshot()
    assert snap["latest_trace_block_1"] >= 100

    server = monitor.start_health_server(stats, port=0)
    try:
        port = server.server_port
        assert (
            urllib.request.urlopen(f"http://127.0.0.1:{port}/").read()
            == b"Ok"
        )
        health = json.loads(
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/health"
            ).read()
        )
        assert health["health"] == "ok"
        assert health["stats"]["latest_trace_block_1"] >= 100
    finally:
        server.shutdown()


def test_decode_payloads_split_quarantines_bad_json(spark):
    """S3 bad-record routing: malformed payloads land in the quarantine
    output with their raw bytes; good rows decode exactly as the
    non-split path."""
    src = fixtures.traces_df(spark).filter("chain_id = 1")
    payload_cols = [f.name for f in sources.TRACE_PAYLOAD_SCHEMA.fields]
    wire = src.selectExpr(
        "to_json(struct(" + ", ".join(payload_cols) + ")) AS value",
        "seq AS offset",
    )
    junk = spark.createDataFrame(
        [("{not json", 900), ("", 901)], "value string, offset long"
    )
    good, bad = sources.decode_payloads_split(
        wire.unionByName(junk), fixtures.TRACE_SCHEMA, chain_id=1
    )
    assert _rows(good) == _rows(src)
    bad_rows = {(r.raw_payload, r.seq) for r in bad.collect()}
    assert bad_rows == {("{not json", 900), ("", 901)}
    assert bad.columns == ["chain_id", "raw_payload", "seq"]


def test_watermark_drops_closed_windows_keeps_open_ones(spark, tmp_path):
    """Late-data semantics pinned: after the watermark passes a window's
    end, late rows for it are DROPPED; late rows for a still-open
    window are still aggregated.

    Spark (>= 3.4) runs stateful operators with TWO watermarks: state
    EVICTION uses the watermark computed from all previous batches, but
    late-event FILTERING uses the watermark as of one batch earlier
    (``watermarkForLateEvents``, introduced for multi-stateful-operator
    consistency).  So a late row is only guaranteed dropped starting
    from the SECOND micro-batch after the watermark passed its window's
    end — in the first such batch it may still be aggregated (and its
    window's state evicted right after).  The file layout below
    therefore advances the watermark in batch 1, cycles it into the
    late-events watermark during batch 2, and delivers the very-late
    row in batch 3.  (maxFilesPerTrigger=1 + distinct mtimes force one
    file per micro-batch, oldest first.)"""
    import os as _os
    import time as _time
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    base = 1_700_000_000  # epoch seconds, on the hour boundary? no — use exact hours
    h = 3600
    t0 = (base // h) * h  # align to an hour

    def write_file(name, rows, mtime):
        df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
        d = str(tmp_path / ("stage_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(d)
        part = next(
            p for p in _os.listdir(d) if p.endswith(".parquet")
        )
        dst = str(src / (name + ".parquet"))
        _os.rename(_os.path.join(d, part), dst)
        _os.utime(dst, (mtime, mtime))

    from datetime import datetime, timezone

    def ts(sec):
        return datetime.fromtimestamp(sec, tz=timezone.utc).replace(tzinfo=None)

    # batch 1: events at t0+10:30h and t0+11:30h (relative) → max event
    # time t0+11.5h → watermark after batch 1 = t0+10.5h
    write_file("b1", [("a", ts(t0 + int(10.5 * h)), 1.0),
                      ("a", ts(t0 + int(11.5 * h)), 1.0)], _time.time() - 100)
    # batch 2: a mildly late row (window [10h,11h) still open: end 11h >
    # watermark 10.5h) — aggregated; also cycles the 10.5h watermark
    # into the late-events watermark for batch 3
    write_file("b2", [("a", ts(t0 + int(10.75 * h)), 1.0)], _time.time() - 50)
    # batch 3: one VERY late row (window [9h,10h) closed: end 10h <
    # late-events watermark 10.5h) — dropped before aggregation
    write_file("b3", [("a", ts(t0 + int(9.25 * h)), 1.0)], _time.time() - 25)

    sink = LakeUpsertSink(str(tmp_path / "sink"), partition_cols=())
    stream = (
        spark.readStream.schema("event_type string, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    q = (
        agg.writeStream.foreachBatch(
            lambda b, _i: sink.upsert(
                b, "w", ["window_start", "event_type"], mode="update"
            )
        )
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        (r["window_start"].hour, r["n_events"])
        for r in sink.read(spark, "w").collect()
    }
    hours = {ws for ws, _ in got}
    start_hour = ts(t0 + int(9 * h)).hour
    # the closed 9h window never appears (its only row arrived too late)
    assert start_hour not in hours
    # the open 10h window counts BOTH its on-time row and the late one
    assert (ts(t0 + int(10 * h)).hour, 2) in got
    # the 11h window has its single on-time row
    assert (ts(t0 + int(11 * h)).hour, 1) in got


def test_stream_dedup_state_rejects_replay(spark, tmp_path):
    """The streaming dropDuplicates STATE must reject the replayed
    batch — zero rows may reach the sink in batch 2.  (The sink's own
    insert-if-absent would mask a broken state store in the final
    table, so this pins where the dedup actually happens.)"""
    import os as _os
    import time as _time

    from evmtrace_etl_spark.functions.text import fingerprint

    src = tmp_path / "src"
    src.mkdir()
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "Alpha  Beta")],
        "doc_id long, text string",
    )  # doc 3 normalizes to doc 1's fingerprint → in-batch dup

    def stage(name, mtime):
        d = str(tmp_path / ("stage_" + name))
        docs.coalesce(1).write.mode("overwrite").parquet(d)
        part = next(p for p in _os.listdir(d) if p.endswith(".parquet"))
        dst = str(src / (name + ".parquet"))
        _os.rename(_os.path.join(d, part), dst)
        _os.utime(dst, (mtime, mtime))

    stage("b1", _time.time() - 100)
    stage("b2", _time.time() - 50)  # full replay

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    deduped = stream.select(
        fingerprint("text").alias("fingerprint")
    ).dropDuplicates(["fingerprint"])

    batches = []
    q = (
        deduped.writeStream.foreachBatch(
            lambda b, i: batches.append((i, sorted(r[0] for r in b.collect())))
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    sizes = {i: len(fps) for i, fps in batches}
    assert sizes[0] == 2          # in-batch dup (doc 3) collapsed
    assert sizes.get(1, 0) == 0   # replay fully rejected by state


def test_stream_dedup_within_watermark_expires_state(spark, tmp_path):
    """Pins the documented unbounded-feed variant of the streaming
    dedup: dropDuplicatesWithinWatermark keeps a fingerprint's state
    only within the dedup horizon.  A duplicate inside the horizon is
    dropped; once the watermark moves past the horizon the key's state
    is expired and the same payload is admitted again — bounded state
    in exchange for horizon-scoped (not corpus-wide) dedup.  Like the
    late-drop guarantee in the windowed-aggregate test above, expiry
    lags one micro-batch: state removal runs at the end of the batch
    whose watermark passed the horizon, so a duplicate arriving in that
    SAME batch is still matched against the old state and dropped; from
    the next batch on it is admitted."""
    import os as _os
    import time as _time
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    from evmtrace_etl_spark.functions.text import fingerprint

    src = tmp_path / "src"
    src.mkdir()
    h = 3600
    t0 = (1_700_000_000 // h) * h

    def ts(sec):
        return datetime.fromtimestamp(sec, tz=timezone.utc).replace(
            tzinfo=None
        )

    def stage(name, rows, mtime):
        df = spark.createDataFrame(rows, "ts timestamp, text string")
        d = str(tmp_path / ("stage_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(d)
        part = next(p for p in _os.listdir(d) if p.endswith(".parquet"))
        dst = str(src / (name + ".parquet"))
        _os.rename(_os.path.join(d, part), dst)
        _os.utime(dst, (mtime, mtime))

    now = _time.time()
    # b1: original + in-horizon duplicate 10 min later
    stage("b1", [(ts(t0), "alpha beta"), (ts(t0 + 600), "alpha beta")],
          now - 100)
    # b2: advances the watermark far past the 1h horizon
    stage("b2", [(ts(t0 + 10 * h), "unrelated text")], now - 50)
    # b3: the SAME payload again — the watermark passed the horizon in
    # b2, but removal runs at the END of this batch, so still dropped
    stage("b3", [(ts(t0 + 10 * h + 60), "alpha beta")], now - 25)
    # b4: one batch later the state is gone — admitted again
    stage("b4", [(ts(t0 + 10 * h + 120), "alpha beta")], now - 12)

    stream = (
        spark.readStream.schema("ts timestamp, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    deduped = (
        stream.select("ts", fingerprint("text").alias("fingerprint"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )
    batches = []
    q = (
        deduped.writeStream.foreachBatch(
            lambda b, i: batches.append((i, b.count()))
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    emitted = dict(batches)
    assert emitted.get(0) == 1  # in-horizon duplicate dropped
    assert emitted.get(1) == 1  # unrelated row admitted
    # first post-horizon copy races end-of-batch state removal: dropped
    assert emitted.get(2) == 0
    # state expired → the next copy is admitted again
    assert emitted.get(3) == 1


def test_workdir_reaper_spares_live_nested_writers(tmp_path, monkeypatch):
    """The age-based reap must key off the NEWEST mtime in the tree: a
    long-lived owner (a streaming run) writes into nested checkpoint
    dirs without refreshing the top-level dir's mtime, and must never be
    rmtree'd out from under a live pid."""
    import tempfile
    import time

    from evmtrace_etl_spark.plans import sink_parity as sp

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    old = time.time() - 2 * sp._WORKDIR_MAX_AGE_S

    # dead-pid dir: reaped regardless of mtime
    dead = tmp_path / "evmtrace_dead_999999999"
    dead.mkdir()

    # live pid, stale top-level mtime, FRESH nested write: spared
    busy = tmp_path / "evmtrace_busy_1"
    (busy / "ckpt").mkdir(parents=True)
    (busy / "ckpt" / "offsets").write_text("42")
    os.utime(busy, (old, old))
    os.utime(busy / "ckpt", (old, old))  # fresh leaf keeps it alive

    # live pid, everything stale: pid-reuse case, reaped
    stale = tmp_path / "evmtrace_stale_1"
    (stale / "ckpt").mkdir(parents=True)
    for p in (stale / "ckpt", stale):
        os.utime(p, (old, old))

    sp._reap_stale_workdirs()
    assert not dead.exists()
    assert busy.exists()
    assert not stale.exists()


def test_stream_throughput_probe(spark):
    """The bench's rows/sec probe: paced availableNow drain through the
    full foreachBatch pipeline; pacing must split the backlog into
    ceil(files / files_per_trigger) micro-batches."""
    from evmtrace_etl_spark.plans.sink_parity import stream_throughput

    out = stream_throughput(
        spark, replicate=50, n_files=4, files_per_trigger=2
    )
    assert out["rows"] == 33 * 50
    assert out["micro_batches"] == 2
    assert out["rows_per_sec"] > 0


def test_stream_resumes_from_checkpoint_without_reprocessing(spark, tmp_path):
    """T3 — offset-commit recovery over a SHARED checkpoint (the leg
    the fresh-checkpoint replay test above deliberately does NOT
    cover): run 1 drains file A (chain 1), the query stops, file B
    (chain 10) lands, and the restarted query must read ONLY the new
    file — source offsets recovered from the checkpoint, zero
    reprocessing — while the idempotent sink converges to full batch
    parity across the restart.  This is the reference's Kafka
    offset-commit semantics (T3) expressed as checkpoint recovery."""
    d = tmp_path / "traces_json"
    d.mkdir()
    full = fixtures.traces_df(spark)
    a = full.filter("chain_id = 1")
    b = full.filter("chain_id != 1")
    (d / "a.json").write_text("\n".join(a.toJSON().collect()) + "\n")

    sink = LakeUpsertSink(str(tmp_path / "sink"))
    ckpt = str(tmp_path / "ckpt")

    def drained_batches():
        q = runner.start_zk_stream(
            sources.file_trace_stream(spark, str(d)),
            sink,
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(120)
        out = []
        for p in q.recentProgress:
            pd = p if isinstance(p, dict) else json.loads(p.json())
            if int(pd["numInputRows"]):
                out.append((int(pd["batchId"]), int(pd["numInputRows"])))
        return out

    run1 = drained_batches()
    (d / "b.json").write_text("\n".join(b.toJSON().collect()) + "\n")
    run2 = drained_batches()
    # run 1 drained file A as batch 0; the restarted query recovered the
    # committed offset and continued at batch 1 — it did NOT restart at 0
    assert [bid for bid, _ in run1] == [0]
    assert [bid for bid, _ in run2] == [1]
    # numInputRows counts source scans (the fan-out foreachBatch drives
    # several actions over the batch), so compare PROPORTIONS: run 2's
    # input corresponds to file B's rows only, whatever the multiplier
    n1, n2 = run1[0][1], run2[0][1]
    assert n2 * a.count() == n1 * b.count(), (n1, n2)

    from evmtrace_etl_spark.functions.evm import (
        CONTRACT_ADDRESS_COLS,
        TRANSACTION_ADDRESS_COLS,
        with_checksummed_addresses,
    )

    tx_batch = zk_transactions(full)
    c_batch = zk_contracts_deduped(full)
    tx_batch = with_checksummed_addresses(tx_batch, *TRANSACTION_ADDRESS_COLS)
    c_batch = with_checksummed_addresses(c_batch, *CONTRACT_ADDRESS_COLS)
    assert _rows(sink.read(spark, "transactions")) == _rows(tx_batch)
    assert _rows(sink.read(spark, "contracts")) == _rows(c_batch)


def test_in_band_maintenance_surfaces_on_health(spark, tmp_path):
    """T6/T7 observability for maintain_every (r13 left the ledger
    dying inside the foreachBatch closure): the lake append stream's
    ``on_maintain`` hook wired to ``monitor.record_maintenance`` puts
    the last in-band maintenance — batch id, table version, per-step
    summaries, observed DV debt — into the stats map, and ``/health``
    serves it, so an operator can SEE the stream bounding its own
    debt."""
    import glob as _glob
    import os as _os

    from evmtrace_etl_spark.sinks import (
        read_table,
        start_lake_append_stream,
    )

    src = str(tmp_path / "incoming")
    _os.makedirs(src)
    tbl = str(tmp_path / "lake")
    for lo in range(0, 400, 100):
        spark.range(lo, lo + 100).selectExpr(
            "id AS k", "CAST(id AS DOUBLE) AS v"
        ).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    stats = monitor.EngineStats()
    q = start_lake_append_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        tbl, str(tmp_path / "ckpt"), cols=["k"], app_id="obs",
        maintain_every=2, maintain_kwargs={"min_age_s": 0},
        on_maintain=monitor.record_maintenance(stats),
    )
    q.awaitTermination(180)
    assert q.exception() is None
    assert read_table(spark, tbl).count() == 400

    snap = stats.snapshot()
    assert snap["last_maintain_batch"] >= 1
    assert snap["last_maintain_version"] >= 1
    assert snap["last_maintain_dv_files"] == 0  # append-only stream
    acts = snap["last_maintain_actions"]
    assert set(acts) == {"materialize", "compact", "vacuum"}
    assert acts["materialize"] is None  # no dv debt to fold
    assert acts["compact"] is not None  # fragments really compacted
    assert "files_rewritten" in acts["compact"]

    server = monitor.start_health_server(stats, port=0)
    try:
        health = json.loads(
            urllib.request.urlopen(
                f"http://127.0.0.1:{server.server_port}/health"
            ).read()
        )
        assert health["stats"]["last_maintain_batch"] >= 1
        assert "compact" in health["stats"]["last_maintain_actions"]
    finally:
        server.shutdown()
