"""Keyed MERGE INTO through the snapshot log (``sinks.merge_into``),
add-only schema evolution on the lake path
(``append_files``/``read_table``), and the optimistic-concurrency
retry contract (``SnapshotConflict`` rollback + ``retry_on_conflict``)
— the round-10 unification of the reference's keyed upsert
(src/types/etl_result.rs:267-281, src/dumper/postgres.rs:41-92) with
the R19 transactional manifest tier."""

from __future__ import annotations

import glob
import os
import threading

import pytest
from pyspark.sql import functions as F

from evmtrace_etl_spark import sinks
from evmtrace_etl_spark.sinks import (
    append_files,
    committed_schema,
    merge_into,
    read_table,
    retry_on_conflict,
)

# r15: deep scenario module — full-tier only (see tests/conftest.py)
pytestmark = pytest.mark.slow


def _seed(spark, tmp_path, n: int = 1000, files: int = 8) -> str:
    """Manifest-tracked table of n rows id-clustered into `files`
    files, so merge's key-range pruning is exact."""
    tbl = str(tmp_path / "tbl")
    df = spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
    )
    df.sort("k").coalesce(1).write.parquet(str(tmp_path / "one"))
    # re-split into key-tiling files
    parts = []
    step = n // files
    for i in range(files):
        parts.append(
            spark.read.parquet(str(tmp_path / "one"))
            .filter((F.col("k") >= i * step) & (F.col("k") < (i + 1) * step))
        )
    first, rest = parts[0], parts[1:]
    append_files(spark, first.coalesce(1), tbl, cols=["k"])
    for p in rest:
        append_files(spark, p.coalesce(1), tbl)
    return tbl


def test_merge_update_prunes_and_converges(spark, tmp_path):
    """WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT *: only the
    files whose key span overlaps the source's key range are
    rewritten; matched rows take the source's values wholesale,
    unmatched-key source rows land, and re-merging the same source is
    convergent (same final table)."""
    tbl = _seed(spark, tmp_path)
    src = spark.range(500, 1200).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    led = merge_into(spark, src, tbl, keys=["k"])
    assert led["rows_source"] == 700
    assert led["rows_updated"] == 500 and led["rows_inserted"] == 200
    # keys 500..999 tile the top half of 8 files -> 4 candidates
    assert led["files_rewritten"] == 4
    t = read_table(spark, tbl)
    assert t.count() == 1200
    assert t.filter("v = -1").count() == 700
    assert t.filter("k = 100").select("v").collect()[0][0] == 1000
    # convergence: merging the identical source again changes nothing
    led2 = merge_into(spark, src, tbl, keys=["k"])
    assert led2["rows_updated"] == 700 and led2["rows_inserted"] == 0
    t2 = read_table(spark, tbl)
    assert t2.count() == 1200 and t2.filter("v = -1").count() == 700


def test_merge_txn_replay_is_noop(spark, tmp_path):
    """Exactly-once keyed upsert from a stream: a replayed (app_id,
    batch_id) short-circuits before any write."""
    tbl = _seed(spark, tmp_path, n=200, files=4)
    src = spark.range(100, 300).select(
        F.col("id").alias("k"), F.lit(7).cast("long").alias("v")
    )
    led = merge_into(spark, src, tbl, keys=["k"], txn=("mrg", 3))
    assert not led["skipped"]
    files_before = sorted(glob.glob(tbl + "/*.parquet"))
    led2 = merge_into(spark, src, tbl, keys=["k"], txn=("mrg", 3))
    assert led2["skipped"] and led2["files_added"] == 0
    assert sorted(glob.glob(tbl + "/*.parquet")) == files_before
    assert read_table(spark, tbl).count() == 300


def test_merge_ignore_mode_rewrites_nothing(spark, tmp_path):
    """DO NOTHING: candidate files are scanned for key existence only;
    zero rewrites, only fresh-key rows land as new files."""
    tbl = _seed(spark, tmp_path, n=200, files=4)
    src = spark.range(150, 250).select(
        F.col("id").alias("k"), F.lit(-5).cast("long").alias("v")
    )
    led = merge_into(spark, src, tbl, keys=["k"], mode="ignore")
    assert led["files_rewritten"] == 0
    assert led["rows_inserted"] == 50 and led["rows_updated"] == 0
    t = read_table(spark, tbl)
    assert t.count() == 250
    # existing rows kept their values
    assert t.filter("k = 160").select("v").collect()[0][0] == 1600
    assert t.filter("k = 240").select("v").collect()[0][0] == -5


def test_merge_duplicate_source_keys_raise(spark, tmp_path):
    tbl = _seed(spark, tmp_path, n=100, files=2)
    dup = spark.createDataFrame(
        [(1, 5), (1, 6)], "k long, v long"
    )
    with pytest.raises(ValueError, match="duplicate"):
        merge_into(spark, dup, tbl, keys=["k"])


def test_merge_crash_before_commit_is_invisible_then_replays(
    spark, tmp_path, monkeypatch
):
    """Crash injection between move-in and commit: a snapshot reader
    still sees the pre-merge table; the replayed merge (same txn id)
    then commits exactly once."""
    tbl = _seed(spark, tmp_path, n=200, files=4)
    src = spark.range(100, 260).select(
        F.col("id").alias("k"), F.lit(-9).cast("long").alias("v")
    )
    real = sinks._commit_manifest

    def boom(*a, **kw):
        raise RuntimeError("injected crash before merge commit")

    monkeypatch.setattr(sinks, "_commit_manifest", boom)
    with pytest.raises(RuntimeError, match="injected"):
        merge_into(spark, src, tbl, keys=["k"], txn=("mc", 1))
    monkeypatch.setattr(sinks, "_commit_manifest", real)

    t = read_table(spark, tbl)
    assert t.count() == 200 and t.filter("v = -9").count() == 0
    led = merge_into(spark, src, tbl, keys=["k"], txn=("mc", 1))
    assert not led["skipped"]
    t2 = read_table(spark, tbl)
    assert t2.count() == 260 and t2.filter("v = -9").count() == 160


def test_merge_crash_after_commit_rolls_forward(
    spark, tmp_path, monkeypatch
):
    """Crash injection after the commit point: the new snapshot is
    already current (the merge IS durable); the replaced candidate
    files are swept by the next maintenance op's recovery."""
    tbl = _seed(spark, tmp_path, n=200, files=4)
    src = spark.range(0, 60).select(
        F.col("id").alias("k"), F.lit(-3).cast("long").alias("v")
    )

    def boom(*a, **kw):
        raise RuntimeError("injected crash after merge commit")

    monkeypatch.setattr(sinks, "_post_commit_sweep", boom)
    with pytest.raises(RuntimeError, match="injected"):
        merge_into(spark, src, tbl, keys=["k"], txn=("mc2", 1))
    monkeypatch.undo()

    # durable: reader sees the merged table (replay is a no-op)
    t = read_table(spark, tbl)
    assert t.filter("v = -3").count() == 60
    led = merge_into(spark, src, tbl, keys=["k"], txn=("mc2", 1))
    assert led["skipped"]
    # next op sweeps the replaced files
    sinks.vacuum_table(spark, tbl)
    assert read_table(spark, tbl).filter("v = -3").count() == 60


def test_merge_partitioned_preserves_layout(spark, tmp_path):
    """Hive-partitioned lake table: the merge rewrite round-trips the
    directory encoding; untouched partitions keep their files."""
    tbl = str(tmp_path / "ptbl")
    df = spark.range(0, 300).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("p"),
        (F.col("id") * 10).alias("v"),
    )
    df.write.partitionBy("p").parquet(tbl)
    sinks.update_stats_index(spark, tbl, None, ["k"])
    p2_files = sorted(glob.glob(tbl + "/p=2/*.parquet"))
    # touch only keys congruent 0 mod 3 (partition p=0)
    src = spark.createDataFrame(
        [(k, 0, -1) for k in range(0, 30, 3)], "k long, p int, v long"
    )
    led = merge_into(spark, src, tbl, keys=["k"])
    assert led["partitioned"]
    t = read_table(spark, tbl)
    assert t.filter("v = -1").count() == 10
    assert t.count() == 300
    assert {r["p"] for r in t.filter("v = -1").select("p").collect()} == {0}
    # p=2 never contained a candidate key span? (k ranges overlap all
    # partitions, so p=2's files MAY be rewritten; layout must hold)
    assert sorted(
        os.path.basename(d) for d in glob.glob(tbl + "/p=*")
    ) == ["p=0", "p=1", "p=2"]
    assert p2_files  # sanity


def test_conflict_after_move_in_rolls_back_cleanly(
    spark, tmp_path, monkeypatch
):
    """A writer that loses the optimistic race AFTER moving its files
    in: against a PURE-METADATA winner the append re-commits its
    already-moved files at the next version (logical conflict
    detection — no rollback, no batch re-run); against a winner that
    changed the CHECK-constraint map it must roll back cleanly — the
    table's leaf files return to the pre-attempt set, no _TXN marker
    lingers, a later update_stats_index adopts nothing, and
    retry_on_conflict drives the op through."""
    tbl = _seed(spark, tmp_path, n=100, files=2)
    mdir = tbl + "/_stats_manifest"
    real_marker = sinks._write_json_marker
    state = {"fired": False, "constraints": None}

    def interloping_marker(spark_, dirpath, name, payload, **kw):
        # as the victim writes its _TXN intent, an out-of-process
        # interloper lands a commit first (stealing the version)
        if name == "_TXN" and not state["fired"]:
            state["fired"] = True
            real_marker(spark_, dirpath, name, payload, **kw)
            m = sinks.current_manifest(spark, mdir)
            # an empty delta — commits carry only what THEY add
            sinks._commit_manifest(
                spark, mdir, m.limit(0), removed=[],
                constraints=state["constraints"],
            )
            return
        real_marker(spark_, dirpath, name, payload, **kw)

    src = spark.range(500, 560).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("v")
    )

    # leg 1: pure-metadata winner — the append rebases and lands
    monkeypatch.setattr(sinks, "_write_json_marker", interloping_marker)
    led = append_files(spark, src, tbl)
    monkeypatch.undo()
    assert led["rebased"] == 1 and led["rows"] == 60
    assert read_table(spark, tbl).count() == 160
    assert not os.path.exists(mdir + "/_TXN")

    # leg 2: the winner changed the constraint map — full rollback
    files_before = sorted(glob.glob(tbl + "/*.parquet"))
    state.update(fired=False, constraints={"v_ok": "v >= -100"})
    src2 = spark.range(700, 760).select(
        F.col("id").alias("k"), F.lit(2).cast("long").alias("v")
    )
    monkeypatch.setattr(sinks, "_write_json_marker", interloping_marker)
    with pytest.raises(sinks.SnapshotConflict):
        append_files(spark, src2, tbl)
    monkeypatch.undo()

    assert sorted(glob.glob(tbl + "/*.parquet")) == files_before
    assert not os.path.exists(mdir + "/_TXN")
    led = sinks.update_stats_index(spark, tbl, None)
    assert led["files_new"] == 0  # no orphans adopted
    # and retry_on_conflict drives the same op through on a retry
    state.update(fired=False, constraints=None)
    monkeypatch.setattr(sinks, "_write_json_marker", interloping_marker)
    led2 = retry_on_conflict(lambda: append_files(spark, src2, tbl))
    monkeypatch.undo()
    assert led2["rows"] == 60
    assert read_table(spark, tbl).count() == 220


def test_two_writers_both_land(spark, tmp_path):
    """Two concurrent writers on one table (one driver, two threads):
    both commits land with no lost update — the per-table write lock
    serializes the intent->commit window in-process, and
    retry_on_conflict covers the cross-process contract."""
    tbl = _seed(spark, tmp_path, n=100, files=2)
    errs: list[Exception] = []

    def w(lo: int):
        try:
            src = spark.range(lo, lo + 50).select(
                F.col("id").alias("k"),
                F.lit(-lo).cast("long").alias("v"),
            )
            retry_on_conflict(
                lambda: merge_into(spark, src, tbl, keys=["k"])
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=w, args=(lo,)) for lo in (1000, 2000)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    t = read_table(spark, tbl)
    assert t.count() == 200
    assert t.filter("v = -1000").count() == 50
    assert t.filter("v = -2000").count() == 50


def test_lake_schema_evolution_add_only(spark, tmp_path):
    """append_files/read_table evolution contract: a batch may ADD
    columns (old files read back NULL under the committed schema) or
    OMIT columns (null-filled); a TYPE change raises; the committed
    schema survives maintenance commits and time travel."""
    tbl = str(tmp_path / "evo")
    append_files(
        spark,
        spark.range(0, 10).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        tbl,
        cols=["k"],
    )
    # ADD a column
    append_files(
        spark,
        spark.range(10, 20).select(
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("v"),
            F.lit("en").alias("lang"),
        ),
        tbl,
    )
    t = read_table(spark, tbl)
    assert t.columns == ["k", "v", "lang"]
    assert t.filter("k = 5").select("lang").collect()[0][0] is None
    assert t.filter("k = 15").select("lang").collect()[0][0] == "en"
    # OMIT a column -> null-filled
    append_files(spark, spark.range(20, 25).select(F.col("id").alias("k")), tbl)
    assert read_table(spark, tbl).filter("k = 22").select("v").collect()[
        0
    ][0] is None
    # TYPE change -> rejected loudly
    with pytest.raises(ValueError, match="add-only"):
        append_files(
            spark,
            spark.range(0, 3).select(
                F.col("id").alias("k"), F.lit("oops").alias("v")
            ),
            tbl,
        )
    # the committed schema rides maintenance commits
    sinks.compact_table(spark, tbl, target_bytes=1 << 30)
    sc = committed_schema(spark, tbl + "/_stats_manifest")
    assert [f.name for f in sc.fields] == ["k", "v", "lang"]
    t2 = read_table(spark, tbl)
    assert t2.columns == ["k", "v", "lang"] and t2.count() == 25
    # merge through the evolved schema, omitting the added column
    merge_into(
        spark,
        spark.createDataFrame([(0, 999)], "k long, v long"),
        tbl,
        keys=["k"],
    )
    row = read_table(spark, tbl).filter("k = 0").collect()[0]
    assert row["v"] == 999 and row["lang"] is None


def test_lake_upsert_sink_protocol(spark, tmp_path):
    """LakeUpsertSink's upsert/read protocol on the snapshot log:
    first-write seeds a hive-partitioned manifest-tracked table, reads
    keep the stored column order, insert-if-absent keeps first writes
    on replay,
    DO-UPDATE keeps the later batch, the partition-omitting batch
    raises, and the merge prunes candidates to the touched
    partition's files (directory-derived stats, no caller hint)."""
    from evmtrace_etl_spark.sinks import LakeUpsertSink, read_table

    sink = LakeUpsertSink(str(tmp_path / "lake"), partition_cols=("chain",))
    b1 = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 11), (2, "c", 20)],
        "chain int, h string, v long",
    )
    sink.upsert(b1, "tx", ["chain", "h"], mode="ignore")
    assert sink.read(spark, "tx").count() == 3
    # the partition column keeps its stored place (not moved last)
    assert sink.read(spark, "tx").columns == ["chain", "h", "v"]
    # replay + one new row: first insert of every key wins
    b2 = spark.createDataFrame(
        [(1, "a", 99), (1, "d", 12)], "chain int, h string, v long"
    )
    led_files = sorted(
        glob.glob(str(tmp_path / "lake" / "tx" / "chain=2" / "*.parquet"))
    )
    sink.upsert(b2, "tx", ["chain", "h"], mode="ignore")
    t = sink.read(spark, "tx")
    assert t.count() == 4
    assert t.filter("h = 'a'").select("v").collect()[0][0] == 10
    # untouched partition chain=2 kept its files (no rewrite, no link)
    assert sorted(
        glob.glob(str(tmp_path / "lake" / "tx" / "chain=2" / "*.parquet"))
    ) == led_files
    # DO UPDATE: later batch wins
    sink.upsert(
        spark.createDataFrame([(1, "a", -7)], "chain int, h string, v long"),
        "tx",
        ["chain", "h"],
        mode="update",
    )
    assert sink.read(spark, "tx").filter("h = 'a'").select("v").collect()[
        0
    ][0] == -7
    # partition-omitting batch rejected
    with pytest.raises(ValueError, match="partition"):
        sink.upsert(
            spark.createDataFrame([("z", 1)], "h string, v long"),
            "tx",
            ["h"],
            mode="ignore",
        )
    # and the whole table still reads through the snapshot
    assert read_table(spark, str(tmp_path / "lake" / "tx")).count() == 4


def test_table_changes_incremental_read(spark, tmp_path):
    """Append-span CDC: rows committed after a retained snapshot are
    served from the DELTA FILES only; a rewrite inside the span raises
    (file arithmetic cannot reconstruct row-level changes across it)."""
    from evmtrace_etl_spark.sinks import table_changes

    tbl = str(tmp_path / "tbl")
    append_files(
        spark,
        spark.range(0, 100).select(F.col("id").alias("k")),
        tbl,
        cols=["k"],
    )  # v0
    append_files(
        spark, spark.range(100, 150).select(F.col("id").alias("k")), tbl,
        keep_versions=4,
    )  # v1
    append_files(
        spark, spark.range(150, 160).select(F.col("id").alias("k")), tbl,
        keep_versions=4,
    )  # v2
    ch = table_changes(spark, tbl, since_version=0)
    assert ch.count() == 60
    assert ch.agg(F.min("k"), F.max("k")).collect()[0][0:2] == (100, 159)
    assert table_changes(spark, tbl, since_version=2).count() == 0
    # incremental consumption equivalence: snapshot = base + changes
    base = read_table(spark, tbl, version=0)
    assert base.unionByName(ch).count() == read_table(spark, tbl).count()
    # a rewrite in the span -> loud refusal
    merge_into(
        spark,
        spark.createDataFrame([(5,)], "k long"),
        tbl,
        keys=["k"],
        keep_versions=4,
    )  # v3 rewrites a v0 file
    with pytest.raises(ValueError, match="rewrote"):
        table_changes(spark, tbl, since_version=0)
    # retention guard
    with pytest.raises(ValueError, match="retained"):
        table_changes(spark, tbl, since_version=99)


def test_lake_merge_stream_exactly_once_through_restart(spark, tmp_path):
    """Streaming keyed upsert through the log: staged micro-batches
    with overlapping keys merge exactly once each; restarting the
    stream over the same source (checkpoint replay) changes nothing
    (txn-stamped batch ids)."""
    from evmtrace_etl_spark.sinks import (
        start_lake_merge_stream,
        table_history,
    )

    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    # stage batches as individual files (maxFilesPerTrigger=1)
    b1 = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k long, v long"
    )
    b2 = spark.createDataFrame(
        [(2, -2), (4, 40)], "k long, v long"
    )  # updates k=2, inserts k=4
    b1.coalesce(1).write.parquet(src + "/f0")
    b2.coalesce(1).write.parquet(src + "/f1")
    # flatten: spark file stream needs a flat dir of files
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i, d in enumerate(sorted(glob.glob(src + "/f*"))):
        for j, f in enumerate(sorted(glob.glob(d + "/part-*.parquet"))):
            os.link(f, os.path.join(flat, f"b{i}_{j}.parquet"))

    def run(ck):
        stream = (
            spark.readStream.schema("k long, v long")
            .option("maxFilesPerTrigger", "1")
            .parquet(flat)
        )
        q = start_lake_merge_stream(
            stream, tbl, ["k"], ck, cols=["k"], app_id="ms"
        )
        assert q.awaitTermination(120)

    run(ckpt)
    t = read_table(spark, tbl)
    got = {r["k"]: r["v"] for r in t.collect()}
    # lexicographic file order: b0 seeds, b1's merge updates k=2
    assert set(got) == {1, 2, 3, 4}
    # a FRESH checkpoint re-delivers every batch with the same ids —
    # the txn stamps make each a no-op (exactly-once keyed upsert)
    hist_before = table_history(spark, tbl)
    run(str(tmp_path / "ckpt2"))
    t2 = read_table(spark, tbl)
    assert {r["k"]: r["v"] for r in t2.collect()} == got
    hist_after = table_history(spark, tbl)
    assert hist_after[-1]["version"] == hist_before[-1]["version"]


def test_delete_where_txn_replay_is_noop(spark, tmp_path):
    """Streamed retention deletes are exactly-once too: a replayed
    (app_id, batch_id) on delete_where/update_where short-circuits
    before any rewrite — a foreachBatch GDPR purge that crashes after
    its commit cannot double-rewrite on redelivery."""
    from evmtrace_etl_spark.sinks import delete_where, update_where

    tbl = _seed(spark, tmp_path, n=200, files=4)
    led = delete_where(
        spark, tbl, None, {"k": (0, 49)}, txn=("purge", 1)
    )
    assert led["rows_deleted"] == 50 and not led["skipped"]
    assert read_table(spark, tbl).count() == 150
    led2 = delete_where(
        spark, tbl, None, {"k": (0, 49)}, txn=("purge", 1)
    )
    assert led2["skipped"] and led2["files_rewritten"] == 0
    assert read_table(spark, tbl).count() == 150
    # the next batch id lands; update_where shares the contract
    led3 = update_where(
        spark, tbl, None, {"k": (50, 59)}, {"v": "-1"},
        txn=("purge", 2),
    )
    assert led3["rows_updated"] == 10 and not led3["skipped"]
    led4 = update_where(
        spark, tbl, None, {"k": (50, 59)}, {"v": "-99"},
        txn=("purge", 2),
    )
    assert led4["skipped"]
    t = read_table(spark, tbl)
    assert t.filter("v = -1").count() == 10
    assert t.filter("v = -99").count() == 0


def test_obs_result_input_observation_has_no_output_verify(
    spark, tmp_path, monkeypatch
):
    """The INPUT-side observation (candidate row count) must not be
    verified against the OUTPUT temp dir's footers: an all-new-keys
    update merge writes inserted rows while the candidate subtree is
    genuinely empty, so when AQE collapses the empty candidate branch
    the verify would see actual>0 and re-raise the Py4J assertion in
    exactly the scenario the zero-default fallback was built for.
    Pin: the output observation verifies, the input one does not."""
    tbl = _seed(spark, tmp_path, n=100, files=2)
    calls = []
    real = sinks._obs_result

    def spy(obs, verify_rows=None):
        calls.append(verify_rows is not None)
        return real(obs, verify_rows=verify_rows)

    monkeypatch.setattr(sinks, "_obs_result", spy)
    # update merge with candidates (matched keys) — both observations
    src = spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit(-7).cast("long").alias("v")
    )
    led = sinks.merge_into(spark, src, tbl, keys=["k"])
    assert calls == [True, False]  # output verified, input not
    assert led["rows_updated"] == 10 and led["rows_before"] > 0

    # all-NEW-keys update merge (empty candidate subtree): the exact
    # ADVICE scenario — must succeed with rows_before == 0 even if AQE
    # collapses the candidate branch
    calls.clear()
    src2 = spark.range(5000, 5010).select(
        F.col("id").alias("k"), F.lit(3).cast("long").alias("v")
    )
    led2 = sinks.merge_into(spark, src2, tbl, keys=["k"])
    assert led2["rows_inserted"] == 10 and led2["rows_before"] == 0
    assert read_table(spark, tbl).count() == 110


def test_obs_result_fallback_unit_contract():
    """_obs_result unit contract: a lost metrics row defaults to zeros
    when no ground truth or zero actual rows; re-raises when the
    ground truth proves rows landed; non-AQE Py4J errors re-raise."""
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    class _FakeErr(Py4JJavaError):
        def __init__(self, msg):
            Exception.__init__(self, msg)
            self._msg = msg

        def __str__(self):
            return self._msg

    class _Obs:
        def __init__(self, msg):
            self._msg = msg

        @property
        def get(self):
            raise _FakeErr(self._msg)

    aqe = "assertion failed: toPyRow on empty relation"
    # no ground truth -> zero-default
    vals = sinks._obs_result(_Obs(aqe))
    assert vals["n"] == 0 and vals["anything"] == 0
    # verified-zero ground truth -> zero-default
    vals = sinks._obs_result(_Obs(aqe), verify_rows=lambda: 0)
    assert vals["n"] == 0
    # rows actually landed -> re-raise (constraint counts unknowable)
    with _pytest.raises(Py4JJavaError):
        sinks._obs_result(_Obs(aqe), verify_rows=lambda: 7)
    # unrelated Py4J error -> re-raise regardless
    with _pytest.raises(Py4JJavaError):
        sinks._obs_result(_Obs("java.io.IOException: boom"))
