"""Round-11 lake tier: O(batch) delta-action commits with periodic
checkpoints, merge-on-read deletion vectors (``merge_into
strategy='merge-on-read'`` + ``materialize_deletes``), row-level CDC
(``table_changes(change_feed=True)`` over change-data files), the
cross-driver commit-rename guard, and the partition-column write
guard."""

from __future__ import annotations

import glob
import json
import os
import re

import pytest
from pyspark.sql import functions as F

from evmtrace_etl_spark import sinks
from evmtrace_etl_spark.lake_log import manifest_dir
from evmtrace_etl_spark.sinks import (
    append_files,
    delete_where,
    materialize_deletes,
    merge_into,
    read_table,
    table_changes,
    update_where,
)

# r15: deep scenario module — full-tier only (see tests/conftest.py)
pytestmark = pytest.mark.slow


def _seed(spark, tmp_path, n: int = 1000, files: int = 8) -> str:
    """Key-clustered manifest-tracked table (same shape as
    test_lake_merge's)."""
    tbl = str(tmp_path / "tbl")
    df = spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    step = n // files
    parts = [
        df.filter((F.col("k") >= i * step) & (F.col("k") < (i + 1) * step))
        for i in range(files)
    ]
    append_files(spark, parts[0].coalesce(1), tbl, cols=["k"])
    for p in parts[1:]:
        append_files(spark, p.coalesce(1), tbl)
    return tbl


def _markers(tbl: str) -> dict[int, dict]:
    out = {}
    for mp in glob.glob(manifest_dir(tbl) + "/v*/_COMMIT"):
        with open(mp) as f:
            payload = json.load(f)
        out[payload["version"]] = payload
    return out


# ---------------------------------------------------------------------------
# O(batch) commit protocol
# ---------------------------------------------------------------------------


def test_commit_metadata_is_o_batch(spark, tmp_path):
    """A delta commit's version parquet carries ONLY the files the
    commit added — on a many-file table the written metadata rows stay
    O(batch), with the full manifest materialized only at checkpoint
    commits (every _CHECKPOINT_EVERY)."""
    tbl = _seed(spark, tmp_path)  # v0..v7: 8 files
    batch = spark.range(5000, 5010).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("v")
    )
    led = append_files(spark, batch.coalesce(1), tbl)  # v8: delta
    v = led["version"]
    markers = _markers(tbl)
    assert markers[v]["kind"] == "delta"
    assert len(markers[v]["added"]) == 1
    # the delta parquet holds exactly the added file's stats row, not
    # the table's (9-file) manifest
    rows = spark.read.parquet(f"{manifest_dir(tbl)}/v{v}").count()
    assert rows == 1
    # ... and the snapshot still reconstructs the full file list
    manifest = sinks.current_manifest(tbl)
    assert manifest.num_rows == 9
    assert read_table(spark, tbl).count() == 1010


def test_checkpoint_every_n_commits_bounds_the_chain(spark, tmp_path):
    """Every _CHECKPOINT_EVERY commits a full checkpoint materializes:
    base_ckpt advances, older delta dirs become prunable, and reads
    keep serving the same table."""
    tbl = _seed(spark, tmp_path)  # v0 ckpt (first), v1..v7 deltas
    for i in range(5):  # v8..v12 — v10 must checkpoint
        batch = spark.range(9000 + i, 9001 + i).select(
            F.col("id").alias("k"), F.lit(2).cast("long").alias("v")
        )
        append_files(spark, batch.coalesce(1), tbl)
    markers = _markers(tbl)
    kinds = {v: m["kind"] for v, m in markers.items()}
    assert kinds.get(10) == "checkpoint"
    assert all(k == "delta" for v, k in kinds.items() if 10 < v <= 12)
    # the checkpoint's parquet holds the FULL manifest as of v10
    # (8 seed files + the v8..v10 appends)
    assert spark.read.parquet(f"{manifest_dir(tbl)}/v10").count() == 11
    assert read_table(spark, tbl).count() == 1005
    # chains older than the retained window were pruned
    assert not os.path.isdir(manifest_dir(tbl) + "/v0")
    with pytest.raises(ValueError, match="not committed/retained"):
        read_table(spark, tbl, version=0)


def test_time_travel_across_deltas(spark, tmp_path):
    """Any retained version reconstructs exactly: checkpoint + deltas
    − removed.  Travel holds across APPEND commits always; past a
    rewrite it holds from the rewrite commit forward (the replaced
    files are swept at commit — the documented zero-retention trade)."""
    tbl = _seed(spark, tmp_path, n=100, files=2)  # v0, v1
    src = spark.range(50, 120).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    merge_into(spark, src, tbl, keys=["k"], keep_versions=4)  # v2
    append_files(
        spark,
        spark.range(500, 510).select(
            F.col("id").alias("k"), F.lit(7).cast("long").alias("v")
        ),
        tbl,
        keep_versions=4,
    )  # v3
    assert read_table(spark, tbl, version=2).count() == 120
    assert read_table(spark, tbl, version=3).count() == 130
    assert (
        read_table(spark, tbl, version=2).filter("v = -1").count() == 70
    )
    # merge-on-read rewrites nothing, so travel across IT keeps even
    # the pre-merge snapshot serveable
    merge_into(
        spark,
        spark.range(0, 5).select(
            F.col("id").alias("k"), F.lit(-9).cast("long").alias("v")
        ),
        tbl, keys=["k"], keep_versions=5, strategy="merge-on-read",
    )  # v4
    assert read_table(spark, tbl, version=3).filter("v = -9").count() == 0
    assert read_table(spark, tbl, version=4).filter("v = -9").count() == 5
    assert read_table(spark, tbl, version=3).count() == 130


def test_stale_writer_cannot_overwrite_committed_version(spark, tmp_path):
    """The lost-commit window: a stale writer that passed the version
    check must NOT overwrite a winner's committed v<N> in place — the
    rename-into-place commit fails instead (SnapshotConflict), and the
    winner's marker + manifest survive intact."""
    tbl = _seed(spark, tmp_path, n=100, files=2)
    mdir = manifest_dir(tbl)
    head = sinks.manifest_version(tbl)
    winner_marker = json.load(open(f"{mdir}/v{head}/_COMMIT"))
    m = sinks.current_manifest(tbl)
    # a stale writer believes head+1 is free — but it is already
    # committed by the time its manifest write lands
    with pytest.raises(sinks.SnapshotConflict):
        sinks._commit_manifest(
            spark, mdir, m.slice(0, 0), removed=[], expected_version=head
        )
    assert json.load(open(f"{mdir}/v{head}/_COMMIT")) == winner_marker
    assert read_table(spark, tbl).count() == 100


# ---------------------------------------------------------------------------
# Merge-on-read deletion vectors
# ---------------------------------------------------------------------------


def test_mor_merge_rewrites_zero_files(spark, tmp_path):
    """strategy='merge-on-read': the upsert lands as new files + a key
    tombstone — every pre-existing data file keeps its inode, yet
    read_table serves the updated values and the inserts."""
    tbl = _seed(spark, tmp_path)
    inodes = {
        f: os.stat(f).st_ino for f in glob.glob(tbl + "/part-*.parquet")
    }
    src = spark.range(500, 1200).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    led = merge_into(
        spark, src, tbl, keys=["k"], strategy="merge-on-read"
    )
    assert led["files_rewritten"] == 0 and led["dv_files"] == 1
    assert led["rows_after"] == 700  # the source rows, verbatim
    for f, ino in inodes.items():  # zero write amplification
        assert os.path.exists(f) and os.stat(f).st_ino == ino
    t = read_table(spark, tbl)
    assert t.count() == 1200
    assert t.filter("v = -1").count() == 700
    assert t.filter("k = 600").select("v").collect()[0][0] == -1
    assert t.filter("k = 100").select("v").collect()[0][0] == 1000
    # keys are unique after the merge (old versions suppressed)
    assert t.select("k").distinct().count() == 1200


def test_mor_merges_stack_latest_wins(spark, tmp_path):
    """Two overlapping merge-on-read upserts: the newer tombstone
    suppresses the older merge's rows too — keep-last per key across
    the whole stack; a later APPEND of a tombstoned key survives
    (its file is newer than every tombstone)."""
    tbl = _seed(spark, tmp_path, n=100, files=2)
    m1 = spark.range(40, 60).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    m2 = spark.range(50, 70).select(
        F.col("id").alias("k"), F.lit(-2).cast("long").alias("v")
    )
    merge_into(spark, m1, tbl, keys=["k"], strategy="merge-on-read")
    merge_into(spark, m2, tbl, keys=["k"], strategy="merge-on-read")
    t = read_table(spark, tbl)
    assert t.count() == 100
    got = {r["k"]: r["v"] for r in t.filter("k >= 40 and k < 70").collect()}
    assert all(got[k] == -1 for k in range(40, 50))
    assert all(got[k] == -2 for k in range(50, 70))
    # an append AFTER the tombstones is newer — it must survive
    append_files(
        spark,
        spark.range(55, 56).select(
            F.col("id").alias("k"), F.lit(99).cast("long").alias("v")
        ),
        tbl,
    )
    vs = sorted(
        r["v"] for r in read_table(spark, tbl).filter("k = 55").collect()
    )
    assert vs == [-2, 99]  # append is not keyed; both visible


def test_materialize_deletes_round_trip(spark, tmp_path):
    """materialize_deletes folds the suppression into the data files:
    the served rows are IDENTICAL before and after, the tombstone
    sidecars are swept, the dv list clears, and a second call is a
    no-op."""
    tbl = _seed(spark, tmp_path)
    src = spark.range(500, 1200).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    merge_into(spark, src, tbl, keys=["k"], strategy="merge-on-read")
    before = sorted(
        tuple(r) for r in read_table(spark, tbl).collect()
    )
    led = materialize_deletes(spark, tbl)
    assert led["rows_suppressed"] == 500  # the replaced originals
    assert led["dv_files_removed"] == 1
    assert sorted(tuple(r) for r in read_table(spark, tbl).collect()) == before
    assert glob.glob(tbl + "/_deletes/*/*.parquet") == []
    head = sinks.manifest_version(tbl)
    assert "dvs" not in _markers(tbl)[head]
    led2 = materialize_deletes(spark, tbl)
    assert led2["files_rewritten"] == 0 and led2["dv_files_removed"] == 0


def test_cow_ops_on_dv_table_do_not_resurrect(spark, tmp_path):
    """A copy-on-write rewrite (delete_where / compact / CoW merge) on
    a table with active deletion vectors reads its candidates THROUGH
    the suppression — rewritten files are newer than every tombstone,
    so a suppressed row can never come back."""
    tbl = _seed(spark, tmp_path, n=100, files=2)
    src = spark.range(10, 20).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    merge_into(spark, src, tbl, keys=["k"], strategy="merge-on-read")
    # CoW delete overlapping the suppressed span rewrites those files
    led = delete_where(spark, tbl, {"k": (0, 30)})
    assert led["files_rewritten"] >= 1
    t = read_table(spark, tbl)
    assert t.count() == 100 - 31  # 0..30 gone entirely
    assert t.filter("v = -1").count() == 0  # merged rows deleted too
    assert t.filter("k >= 10 and k <= 19").count() == 0  # NOT resurrected
    # the preserved rows are byte-faithful
    assert t.filter("k = 50").select("v").collect()[0][0] == 500


def test_mor_guards(spark, tmp_path):
    """merge-on-read requires mode='update'; stacked merges must agree
    on the key set until materialized."""
    tbl = _seed(spark, tmp_path, n=100, files=2)
    src = spark.range(5).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
    )
    with pytest.raises(ValueError, match="merge-on-read needs"):
        merge_into(
            spark, src, tbl, keys=["k"], mode="ignore",
            strategy="merge-on-read",
        )
    merge_into(spark, src, tbl, keys=["k"], strategy="merge-on-read")
    with pytest.raises(ValueError, match="deletion vectors keyed"):
        merge_into(
            spark, src.withColumnRenamed("v", "v2").selectExpr(
                "k", "v2 as v", "k as k2"
            ),
            tbl, keys=["k", "k2"], strategy="merge-on-read",
        )


def test_mor_crash_before_commit_rolls_back_tombstone(
    spark, tmp_path, monkeypatch
):
    """Crash injection between the tombstone/data move-in and the
    commit: a snapshot reader sees the pre-merge table WITHOUT any
    suppression (the tombstone is not in any committed marker), the
    next op's recovery deletes the orphan data + tombstone files, and
    the replayed merge commits exactly once."""
    tbl = _seed(spark, tmp_path, n=200, files=4)
    src = spark.range(50, 70).select(
        F.col("id").alias("k"), F.lit(-9).cast("long").alias("v")
    )
    real = sinks._commit_manifest

    def boom(*a, **kw):
        raise RuntimeError("injected crash before mor commit")

    monkeypatch.setattr(sinks, "_commit_manifest", boom)
    with pytest.raises(RuntimeError, match="injected"):
        merge_into(
            spark, src, tbl, keys=["k"], txn=("morc", 1),
            strategy="merge-on-read",
        )
    monkeypatch.setattr(sinks, "_commit_manifest", real)

    t = read_table(spark, tbl)
    assert t.count() == 200 and t.filter("v = -9").count() == 0
    led = merge_into(
        spark, src, tbl, keys=["k"], txn=("morc", 1),
        strategy="merge-on-read",
    )
    assert not led["skipped"]
    # recovery (at the head of the retried merge) removed the crashed
    # attempt's orphan tombstone FILE; vacuum clears its empty dir
    assert len(glob.glob(tbl + "/_deletes/*/*.parquet")) == 1
    sinks.vacuum_table(tbl, min_age_s=0)
    assert len(glob.glob(tbl + "/_deletes/*")) == 1
    t2 = read_table(spark, tbl)
    assert t2.count() == 200 and t2.filter("v = -9").count() == 20


def test_mor_crash_after_commit_is_durable(spark, tmp_path, monkeypatch):
    """Crash injection after the commit point: the tombstone is in the
    committed marker — suppression serves immediately, the replay is a
    no-op."""
    tbl = _seed(spark, tmp_path, n=200, files=4)
    src = spark.range(0, 30).select(
        F.col("id").alias("k"), F.lit(-3).cast("long").alias("v")
    )

    def boom(*a, **kw):
        raise RuntimeError("injected crash after mor commit")

    monkeypatch.setattr(sinks, "_post_commit_sweep", boom)
    with pytest.raises(RuntimeError, match="injected"):
        merge_into(
            spark, src, tbl, keys=["k"], txn=("morc2", 1),
            strategy="merge-on-read",
        )
    monkeypatch.undo()

    t = read_table(spark, tbl)
    assert t.count() == 200 and t.filter("v = -3").count() == 30
    assert merge_into(
        spark, src, tbl, keys=["k"], txn=("morc2", 1),
        strategy="merge-on-read",
    )["skipped"]


# ---------------------------------------------------------------------------
# Row-level CDC (change-data feed)
# ---------------------------------------------------------------------------


def test_change_feed_across_rewrites(spark, tmp_path):
    """With the table's cdf flag set, merge/delete/update commits write
    change-data files and table_changes(change_feed=True) serves exact
    row-level CDC across them; appends synthesize inserts with no
    sidecar; compaction contributes the explicit empty set."""
    tbl = str(tmp_path / "cdf")
    seed = spark.range(20).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("v")
    )
    append_files(spark, seed, tbl, cols=["k"], enable_cdf=True)  # v0
    merge_into(  # v1: 5 updates + 5 inserts
        spark,
        spark.range(15, 25).select(
            F.col("id").alias("k"), F.lit(2).cast("long").alias("v")
        ),
        tbl, keys=["k"],
    )
    delete_where(spark, tbl, {"k": (0, 2)})  # v2: 3 deletes
    update_where(spark, tbl, {"k": (3, 4)}, {"v": "v + 100"})  # v3
    cf = table_changes(spark, tbl, 0, change_feed=True)
    got = {
        (r["_commit_version"], r["_change_type"]): r["count"]
        for r in cf.groupBy("_commit_version", "_change_type")
        .count()
        .collect()
    }
    assert got == {
        (1, "update_preimage"): 5,
        (1, "update_postimage"): 5,
        (1, "insert"): 5,
        (2, "delete"): 3,
        (3, "update_preimage"): 2,
        (3, "update_postimage"): 2,
    }
    # values are exact: the postimages carry the merged/updated values
    post = {
        r["k"]: r["v"]
        for r in cf.filter(
            "_commit_version = 3 AND _change_type = 'update_postimage'"
        ).collect()
    }
    assert post == {3: 101, 4: 101}  # seed v=1, +100
    # appends synthesize inserts — a fresh append shows up with no
    # sidecar written
    append_files(
        spark,
        spark.range(100, 103).select(
            F.col("id").alias("k"), F.lit(9).cast("long").alias("v")
        ),
        tbl,
    )  # v4
    cf2 = table_changes(spark, tbl, 3, change_feed=True)
    assert cf2.count() == 3
    assert set(
        r["_change_type"] for r in cf2.select("_change_type").collect()
    ) == {"insert"}
    # and the plain append-span mode still refuses the rewrite span
    with pytest.raises(ValueError, match="append-span CDC"):
        table_changes(spark, tbl, 0)


def test_default_mode_detects_dv_change(spark, tmp_path):
    """A merge-on-read commit removes no files but changes row
    visibility — append-span CDC must refuse that span too."""
    tbl = _seed(spark, tmp_path, n=100, files=2)
    v0 = sinks.manifest_version(tbl)
    merge_into(
        spark,
        spark.range(5).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
        ),
        tbl, keys=["k"], strategy="merge-on-read",
    )
    with pytest.raises(ValueError, match="deletion vectors"):
        table_changes(spark, tbl, v0)


# ---------------------------------------------------------------------------
# Write guards + lock keys
# ---------------------------------------------------------------------------


def test_partition_column_omission_raises(spark, tmp_path):
    """A merge/append source that omits the table's partition column
    must fail loudly instead of silently landing every row in
    __HIVE_DEFAULT_PARTITION__."""
    tbl = str(tmp_path / "part")
    df = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("p"),
        F.lit(1).cast("long").alias("v"),
    )
    append_files(spark, df, tbl, cols=["k"], partition_by=["p"])
    bad = spark.range(5).select(
        F.col("id").alias("k"), F.lit(2).cast("long").alias("v")
    )
    with pytest.raises(ValueError, match="partition column"):
        merge_into(spark, bad, tbl, keys=["k"])
    with pytest.raises(ValueError, match="partition column"):
        append_files(spark, bad, tbl)
    # and an append WITHOUT restating partition_by keeps the layout
    ok = spark.range(200, 205).select(
        F.col("id").alias("k"),
        F.lit(1).cast("int").alias("p"),
        F.lit(3).cast("long").alias("v"),
    )
    append_files(spark, ok, tbl)
    assert not glob.glob(tbl + "/part-*.parquet")  # no flat leak
    assert read_table(spark, tbl).filter("p = 1 and v = 3").count() == 5


def test_restore_table_rolls_back_as_a_new_commit(spark, tmp_path):
    """RESTORE VERSION AS OF: the restored state lands as the NEXT
    commit — the junk commits' files sweep, the target's schema and
    deletion vectors pin, the txn map carries forward, and a restore
    across a copy-on-write rewrite (whose files are gone) raises."""
    tbl = _seed(spark, tmp_path, n=100, files=2)  # v0, v1
    good_v = sinks.manifest_version(tbl)
    # junk commits to roll back: an append and a MOR merge
    append_files(
        spark,
        spark.range(900, 950).select(
            F.col("id").alias("k"), F.lit(-5).cast("long").alias("v")
        ),
        tbl,
        txn=("w", 7),
    )  # v2
    merge_into(
        spark,
        spark.range(10).select(
            F.col("id").alias("k"), F.lit(-6).cast("long").alias("v")
        ),
        tbl, keys=["k"], strategy="merge-on-read",
    )  # v3
    assert read_table(spark, tbl).count() == 150

    led = sinks.restore_table(spark, tbl, good_v)
    assert led["restored_to"] == good_v and led["version"] == 4
    t = read_table(spark, tbl)
    assert t.count() == 100
    assert t.filter("v < 0").count() == 0  # junk gone, nothing suppressed
    assert sorted(r["k"] for r in t.collect()) == list(range(100))
    # the junk files are physically swept; no tombstones linger
    assert glob.glob(tbl + "/_deletes/*/*.parquet") == []
    # txn map survived the restore: the junk append's id still no-ops
    led2 = append_files(
        spark,
        spark.range(900, 950).select(
            F.col("id").alias("k"), F.lit(-5).cast("long").alias("v")
        ),
        tbl,
        txn=("w", 7),
    )
    assert led2["skipped"]
    # and the table keeps working normally after the restore
    append_files(
        spark,
        spark.range(200, 210).select(
            F.col("id").alias("k"), F.lit(9).cast("long").alias("v")
        ),
        tbl,
    )
    assert read_table(spark, tbl).count() == 110

    # restore ACROSS a rewrite: the rewrite swept the old files — raise
    tbl2 = _seed(spark, tmp_path.joinpath("b"), n=100, files=2)
    v_pre = sinks.manifest_version(tbl2)
    merge_into(
        spark,
        spark.range(5).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
        ),
        tbl2, keys=["k"],  # copy-on-write rewrite
    )
    with pytest.raises(ValueError, match="swept"):
        sinks.restore_table(spark, tbl2, v_pre)


def test_restore_preserves_mor_suppression(spark, tmp_path):
    """Restoring to a version WITH active deletion vectors pins that
    version's tombstone set — the suppression serves again exactly."""
    tbl = _seed(spark, tmp_path, n=100, files=2)
    merge_into(
        spark,
        spark.range(10).select(
            F.col("id").alias("k"), F.lit(-7).cast("long").alias("v")
        ),
        tbl, keys=["k"], strategy="merge-on-read",
    )
    mor_v = sinks.manifest_version(tbl)
    append_files(
        spark,
        spark.range(500, 520).select(
            F.col("id").alias("k"), F.lit(1).cast("long").alias("v")
        ),
        tbl,
    )
    sinks.restore_table(spark, tbl, mor_v)
    t = read_table(spark, tbl)
    assert t.count() == 100
    assert t.filter("v = -7").count() == 10  # suppression restored
    assert t.select("k").distinct().count() == 100


def test_cluster_table_relayouts_through_the_log(spark, tmp_path):
    """OPTIMIZE ORDER/ZORDER through the log: an arrival-ordered table
    (every file spans the full key range) re-lays out in ONE snapshot
    transaction — range predicates then prune to the tiling files,
    values and cardinality are untouched, and the z-order leg keeps
    the same invariants."""
    tbl = str(tmp_path / "t")
    df = spark.range(100_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).alias("g"),
        (F.col("id") * 2).alias("v"),
    ).repartition(8)  # hash layout: zero skipping
    append_files(spark, df, tbl, cols=["k"])
    m0 = sinks.current_manifest(tbl)
    assert len(sinks.prune_files(m0, {"k": (1000, 2000)})) == 8

    led = sinks.cluster_table(spark, tbl, ["k"], target_bytes=1 << 18)
    assert led["rows_before"] == led["rows_after"] == 100_000
    assert led["files_rewritten"] == 8
    m1 = sinks.current_manifest(tbl)
    kept = sinks.prune_files(m1, {"k": (1000, 2000)})
    assert len(kept) < m1.num_rows  # tiling, not table
    t = read_table(spark, tbl, {"k": (1000, 2000)})
    assert t.count() == 1001
    assert t.agg(F.sum("v")).collect()[0][0] == sum(
        2 * k for k in range(1000, 2001)
    )

    led2 = sinks.cluster_table(
        spark, tbl, ["k", "g"], zorder=True, target_bytes=1 << 18
    )
    assert led2["zorder"] and led2["rows_before"] == led2["rows_after"]
    assert read_table(spark, tbl).count() == 100_000


def test_driver_side_stats_handle_timestamp_and_decimal(spark, tmp_path):
    """The O(batch) commit's driver-side footer reader must match the
    distributed builder's semantics: timestamp stats prune exactly
    (session writes TIMESTAMP_MICROS), and types pyarrow cannot
    extract stats for (decimals) degrade to NULL stats — conservative
    'may match', results exact either way."""
    import datetime

    tbl = str(tmp_path / "ts")
    df = spark.range(100).selectExpr(
        "id as k",
        "timestamp'2026-01-01' + make_interval(0,0,0,0,cast(id as int),0,0)"
        " as ts",
        "cast(id as decimal(10,2)) as d",
    )
    append_files(spark, df, tbl, cols=["ts", "d"])
    b2 = spark.range(100, 120).selectExpr(
        "id as k",
        "timestamp'2026-06-01' + make_interval(0,0,0,0,cast(id as int),0,0)"
        " as ts",
        "cast(id as decimal(10,2)) as d",
    )
    append_files(spark, b2, tbl)  # driver-side stats path
    m = sinks.current_manifest(tbl)
    span = (
        datetime.datetime(2026, 5, 1), datetime.datetime(2026, 12, 1)
    )
    assert read_table(spark, tbl, {"ts": span}).count() == 20
    kept = sinks.prune_files(m, {"ts": span})
    assert 0 < len(kept) < m.num_rows  # the June files only
    # decimal stats are NULL (pyarrow limitation) -> no prune, but the
    # exact row filter still holds
    assert read_table(spark, tbl, {"d": (105.0, 110.0)}).count() == 6


def test_lock_key_normalization():
    """Spelling variants of one table path must map to ONE lock, and a
    non-local URI is refused, naming the path."""
    k = sinks._local_path("/a/b")
    assert sinks._local_path("/a/b/") == k
    assert sinks._local_path("file:///a/b") == k
    assert sinks._local_path("/a/./b") == k
    assert sinks._log_lock("/a/b") is sinks._log_lock("file:///a/b/")
    for uri in ("hdfs://nn/a/b", "s3a://bucket/a/b"):
        with pytest.raises(ValueError, match=re.escape(uri)):
            sinks._local_path(uri)


def test_mor_update_merge_matches_cow_twin(spark, tmp_path):
    """merge_into(mode='update', strategy='merge-on-read'): the DO-UPDATE
    upsert lands as a tombstone (zero candidate rewrites) and the table
    reads back identical to its copy-on-write twin."""
    from evmtrace_etl_spark.sinks import LakeUpsertSink

    batches = [
        spark.range(100).select(
            F.lit(1).cast("long").alias("chain_id"),
            F.col("id").alias("k"),
            (F.col("id") * 10).alias("v"),
        ),
        spark.range(50, 150).select(
            F.lit(1).cast("long").alias("chain_id"),
            F.col("id").alias("k"),
            F.lit(-1).cast("long").alias("v"),
        ),
    ]
    keys = ["chain_id", "k"]
    cow = LakeUpsertSink(str(tmp_path / "cow"))
    mor = LakeUpsertSink(str(tmp_path / "mor"))
    for b in batches:
        cow.upsert(b, "t", keys, mode="update")
    mor.upsert(batches[0], "t", keys, mode="update")  # the seed write
    mor_tbl = str(tmp_path / "mor" / "t")
    merge_into(
        spark, batches[1], mor_tbl, keys=keys, mode="update",
        strategy="merge-on-read",
    )
    cols = ["chain_id", "k", "v"]
    want = sorted(
        tuple(r) for r in cow.read(spark, "t").select(*cols).collect()
    )
    got = sorted(
        tuple(r) for r in mor.read(spark, "t").select(*cols).collect()
    )
    assert got == want and len(got) == 150
    markers = _markers(mor_tbl)
    head = max(markers)
    assert markers[head].get("dvs"), "tombstone expected on the log"
    with pytest.raises(ValueError, match="strategy"):
        merge_into(spark, batches[1], mor_tbl, keys=keys, strategy="bogus")


def test_two_processes_both_land(spark, tmp_path):
    """Cross-PROCESS two-writer safety (beyond the in-process
    _log_lock): a child driver in its OWN JVM and this one append to
    the same table concurrently — the commit lease serializes the
    version-compute → rename → marker window, losers retry from a
    fresh snapshot, and every batch lands exactly once."""
    import subprocess
    import sys

    from evmtrace_etl_spark.sinks import retry_on_conflict

    tbl = _seed(spark, tmp_path, n=100, files=2)
    script = os.path.join(os.path.dirname(__file__), "lake_two_process_script.py")
    repo = os.path.dirname(os.path.dirname(__file__))
    env = dict(
        os.environ,
        PYTHONPATH=repo + os.pathsep + os.environ.get("PYTHONPATH", ""),
    )
    child = subprocess.Popen(
        [sys.executable, script, tbl, "10000", "3"],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        cwd=repo,
        env=env,
    )
    parent_files = 0
    try:
        for b in range(3):  # parent's writes race the child's
            batch = spark.range(20000 + b * 100, 20000 + b * 100 + 100).select(
                F.col("id").alias("k"),
                F.lit(-1).cast("long").alias("v"),
            )
            led = retry_on_conflict(
                lambda: append_files(spark, batch, tbl), attempts=10
            )
            parent_files += led["files_added"]
        out, _ = child.communicate(timeout=180)
    finally:
        if child.poll() is None:
            child.kill()
    assert "CHILD_DONE" in out, out
    assert out.count("CHILD_COMMIT") == 3
    t = read_table(spark, tbl)
    assert t.count() == 100 + 6 * 100
    assert t.filter("v = -1").count() == 300  # parent's batches
    assert t.filter("v = -2").count() == 300  # child's batches
    # version numbers are a contiguous serialized history
    mdir = manifest_dir(tbl)
    assert sinks.manifest_version(tbl) == 1 + 6
    assert not os.path.exists(mdir + "/_LOCK")  # lease released
    # a collided append never rewrites or duplicates its data files:
    # the table holds EXACTLY the files each batch's final ledger
    # reported — a loser that re-ran its write after a rebase (or a
    # rollback that missed files) would break this count
    child_files = sum(
        int(ln.split("files=")[1].split()[0])
        for ln in out.splitlines()
        if "CHILD_COMMIT" in ln
    )
    on_disk = len(glob.glob(tbl + "/*.parquet"))
    assert on_disk == 2 + parent_files + child_files  # 2 = seed
    m = sinks.current_manifest(tbl)
    assert m.num_rows == on_disk  # every file committed, none orphaned


def test_vacuum_sweeps_orphan_sidecars(spark, tmp_path):
    """An unreferenced tombstone/change file (crash before the intent
    marker) is invisible to readers but holds disk — vacuum_table
    removes it while keeping every referenced sidecar."""
    tbl = _seed(spark, tmp_path, n=100, files=2)
    merge_into(
        spark,
        spark.range(5).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
        ),
        tbl, keys=["k"], strategy="merge-on-read",
    )
    live = glob.glob(tbl + "/_deletes/*")
    assert len(live) == 1
    os.makedirs(tbl + "/_deletes/v99-orphan")
    open(tbl + "/_deletes/v99-orphan/part-0.parquet", "w").close()
    os.makedirs(tbl + "/_changes/v99-orphan")
    open(tbl + "/_changes/v99-orphan/part-0.parquet", "w").close()
    removed = sinks.vacuum_table(tbl, min_age_s=0)
    assert any("v99-orphan" in r for r in removed)
    assert glob.glob(tbl + "/_deletes/*") == live  # referenced one kept
    assert glob.glob(tbl + "/_changes/*") == []
    assert read_table(spark, tbl).filter("v = -1").count() == 5


def test_mor_suppression_survives_encoded_partition_values(
    spark, tmp_path
):
    """input_file_name() returns the URL-ENCODED URI — on a table
    hive-partitioned by a string value containing a space, the
    provenance join must still match the manifest's decoded path form,
    or every row in that partition mis-dates as oldest and the MOR
    commit's own new rows get suppressed (silent data loss)."""
    tbl = str(tmp_path / "enc")
    df = spark.range(0, 40).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.when(F.col("id") % 2 == 0, "a b").otherwise("c+d").alias("p"),
    )
    append_files(
        spark, df, tbl, cols=["k"], partition_by=["p"], keep_versions=10
    )
    src = spark.range(0, 10).select(
        F.col("id").alias("k"),
        F.lit(-1).cast("long").alias("v"),
        F.when(F.col("id") % 2 == 0, "a b").otherwise("c+d").alias("p"),
    )
    led = merge_into(
        spark, src, tbl, keys=["k"], strategy="merge-on-read",
        keep_versions=10,
    )
    assert led["files_rewritten"] == 0 and led["dv_files"] == 1
    t = read_table(spark, tbl)
    # the merge's own rows survive the suppression...
    assert t.filter("v = -1").count() == 10
    # ...the replaced versions are gone, everything else intact
    assert t.count() == 40
    assert t.filter("k < 10 and v <> -1").count() == 0


def test_lease_release_only_deletes_own_token(spark, tmp_path):
    """The commit lease's ownership token: a slow holder whose stale
    lease was broken and re-acquired by another writer must NOT delete
    the usurper's lease on exit (that would admit a third writer into
    the commit window)."""
    import json as _json
    import os as _os

    mdir = str(tmp_path / "m")
    a = sinks._CommitLease(mdir)
    a.__enter__()
    lock = _os.path.join(mdir, "_LOCK")
    assert _json.loads(open(lock).read())["token"] == a._token

    # simulate A going stale: backdate the lock past the TTL, then B
    # breaks it and acquires its own lease
    old = _os.path.getmtime(lock) - (sinks._LEASE_TTL_S + 5)
    _os.utime(lock, (old, old))
    b = sinks._CommitLease(mdir)
    b.__enter__()
    assert _json.loads(open(lock).read())["token"] == b._token

    # A's release must leave B's lease in place...
    a.__exit__(None, None, None)
    assert _os.path.exists(lock)
    assert _json.loads(open(lock).read())["token"] == b._token
    # ...and B's own release removes it
    b.__exit__(None, None, None)
    assert not _os.path.exists(lock)


# ---------------------------------------------------------------------------
# Merge-on-read DELETE (delete_where strategy='merge-on-read')
# ---------------------------------------------------------------------------


def _seed_scattered(spark, tmp_path, n: int = 1000, files: int = 8) -> str:
    """k-clustered table with a column u = k % 7 that cuts ACROSS the
    clustering — a predicate on u matches a handful of rows in every
    file (the scattered-delete shape)."""
    tbl = str(tmp_path / "scat")
    df = spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        (F.col("id") % 7).alias("u"),
    )
    step = n // files
    for i in range(files):
        p = df.filter(
            (F.col("k") >= i * step) & (F.col("k") < (i + 1) * step)
        )
        append_files(spark, p.coalesce(1), tbl, cols=["k"])
    return tbl


def test_mor_delete_rewrites_zero_files(spark, tmp_path):
    """A scattered delete (predicate across the clustering) through
    merge-on-read: ZERO data files rewritten — every seed file keeps
    its inode and mtime — the matched keys land as one tombstone, the
    serve path excludes exactly the matched rows, and a txn replay is
    a no-op."""
    tbl = _seed_scattered(spark, tmp_path)
    before = {
        p: os.path.getmtime(p) for p in glob.glob(tbl + "/*.parquet")
    }
    led = delete_where(
        spark, tbl, {"u": 3}, strategy="merge-on-read",
        keys=["k"], txn=("gdpr", 1),
    )
    assert led["files_rewritten"] == 0 and led["files_added"] == 0
    assert led["dv_files"] == 1
    assert led["rows_deleted"] == 143  # ceil(1000/7) for residue 3
    after = {
        p: os.path.getmtime(p) for p in glob.glob(tbl + "/*.parquet")
    }
    assert after == before  # byte-untouched data files
    t = read_table(spark, tbl)
    assert t.count() == 1000 - 143
    assert t.filter("u = 3").count() == 0
    assert t.filter("u = 4").count() == 143
    # exactly-once: the replayed batch id short-circuits
    led2 = delete_where(
        spark, tbl, {"u": 3}, strategy="merge-on-read",
        keys=["k"], txn=("gdpr", 1),
    )
    assert led2["skipped"] is True
    assert read_table(spark, tbl).count() == 1000 - 143


def test_mor_delete_materialize_round_trip(spark, tmp_path):
    """materialize_deletes folds the delete tombstone into the data
    files: identical visible content, deletion vectors cleared, and
    the tombstone sidecar retired."""
    tbl = _seed_scattered(spark, tmp_path, n=200, files=4)
    delete_where(
        spark, tbl, {"u": 5}, strategy="merge-on-read", keys=["k"]
    )
    want = sorted(
        tuple(r) for r in read_table(spark, tbl).collect()
    )
    led = materialize_deletes(spark, tbl)
    assert led["rows_suppressed"] == len([k for k in range(200) if k % 7 == 5])
    got = sorted(tuple(r) for r in read_table(spark, tbl).collect())
    assert got == want
    assert not _markers(tbl)[max(_markers(tbl))].get("dvs")


def test_mor_delete_writes_cdc_delete_rows(spark, tmp_path):
    """On a CDF table the merge-on-read delete writes row-level delete
    change rows — the feed serves them across the metadata-only
    commit, and the plain append-span read refuses the span (a DV
    visibility change is not reconstructible from file arithmetic)."""
    tbl = str(tmp_path / "cdf")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("u"),
    )
    append_files(spark, df.coalesce(1), tbl, cols=["k"], enable_cdf=True)
    led = delete_where(
        spark, tbl, {"u": 2}, strategy="merge-on-read", keys=["k"]
    )
    assert led["rows_deleted"] == 20 and led["files_added"] == 0
    feed = table_changes(spark, tbl, 0, change_feed=True)
    dels = feed.filter("_change_type = 'delete'")
    assert dels.count() == 20
    assert dels.filter("u <> 2").count() == 0
    assert {r["_commit_version"] for r in dels.collect()} == {1}
    with pytest.raises(ValueError, match="deletion"):
        table_changes(spark, tbl, 0).count()


def test_mor_delete_then_reinsert_key_survives(spark, tmp_path):
    """The tombstone suppresses only rows OLDER than it: a later
    append re-inserting a deleted key is visible (same stacking rule
    as merge-on-read upserts), and a later MOR upsert of a deleted
    key resurrects it with the new values."""
    tbl = _seed_scattered(spark, tmp_path, n=100, files=2)
    delete_where(
        spark, tbl, {"u": 1}, strategy="merge-on-read", keys=["k"]
    )
    assert read_table(spark, tbl).filter("k = 1").count() == 0
    append_files(
        spark,
        spark.range(1, 2).select(
            F.col("id").alias("k"),
            F.lit(-1).cast("long").alias("v"),
            F.lit(1).cast("long").alias("u"),
        ),
        tbl,
    )
    got = read_table(spark, tbl).filter("k = 1").collect()
    assert len(got) == 1 and got[0]["v"] == -1
    # and a MOR merge over another deleted key resurrects it too
    merge_into(
        spark,
        spark.range(8, 9).select(
            F.col("id").alias("k"),
            F.lit(-2).cast("long").alias("v"),
            F.lit(1).cast("long").alias("u"),
        ),
        tbl, keys=["k"], strategy="merge-on-read",
    )
    got = read_table(spark, tbl).filter("k = 8").collect()
    assert len(got) == 1 and got[0]["v"] == -2


def test_mor_delete_guards(spark, tmp_path):
    """Key-set consistency with active DVs, missing keys, and unknown
    strategies all refuse loudly."""
    tbl = _seed_scattered(spark, tmp_path, n=100, files=2)
    with pytest.raises(ValueError, match="needs keys"):
        delete_where(spark, tbl, {"u": 1}, strategy="merge-on-read")
    with pytest.raises(ValueError, match="strategy"):
        delete_where(spark, tbl, {"u": 1}, strategy="bogus")
    with pytest.raises(ValueError, match="not table columns"):
        delete_where(
            spark, tbl, {"u": 1}, strategy="merge-on-read",
            keys=["nope"],
        )
    merge_into(
        spark,
        spark.range(3).select(
            F.col("id").alias("k"),
            F.lit(-1).cast("long").alias("v"),
            F.lit(0).cast("long").alias("u"),
        ),
        tbl, keys=["k"], strategy="merge-on-read",
    )
    with pytest.raises(ValueError, match="different key"):
        delete_where(
            spark, tbl, {"u": 1}, strategy="merge-on-read",
            keys=["k", "u"],
        )


# ---------------------------------------------------------------------------
# Merge-on-read UPDATE (update_where strategy='merge-on-read')
# ---------------------------------------------------------------------------


def test_mor_update_rewrites_zero_files(spark, tmp_path):
    """A scattered UPDATE through merge-on-read: the matched rows with
    SET applied land as new files + key tombstones, every candidate
    file keeps its inode/mtime, cardinality is preserved, and a txn
    replay is a no-op."""
    tbl = _seed_scattered(spark, tmp_path)  # u = k % 7 across files
    before = {
        p: os.path.getmtime(p) for p in glob.glob(tbl + "/*.parquet")
    }
    led = update_where(
        spark, tbl, {"u": 2}, {"v": "v + 1000000"},
        strategy="merge-on-read", keys=["k"], txn=("rect", 1),
    )
    assert led["files_rewritten"] == 0 and led["dv_files"] == 1
    assert led["rows_updated"] == 143  # residue-2 count in 0..999
    assert led["files_added"] >= 1  # updated rows re-land
    after = {
        p: os.path.getmtime(p) for p in glob.glob(tbl + "/*.parquet")
    }
    for p, mt in before.items():  # candidates byte-untouched
        assert after[p] == mt
    t = read_table(spark, tbl)
    assert t.count() == 1000  # cardinality preserved
    # SET evaluated against the original row: v was k*10
    got = t.filter("u = 2 AND k = 2").collect()
    assert got[0]["v"] == 2 * 10 + 1_000_000
    assert t.filter("v >= 1000000").count() == 143
    # replay short-circuits before any scan
    led2 = update_where(
        spark, tbl, {"u": 2}, {"v": "v + 1000000"},
        strategy="merge-on-read", keys=["k"], txn=("rect", 1),
    )
    assert led2["skipped"] is True
    assert read_table(spark, tbl).filter("v >= 2000000").count() == 0


def test_mor_update_cdc_and_materialize(spark, tmp_path):
    """On a CDF table the MOR update writes update pre/postimages; the
    suppression materializes away round-trip-identical."""
    tbl = str(tmp_path / "cdf")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("u"),
        (F.col("id") * 10).alias("v"),
    )
    append_files(spark, df.coalesce(1), tbl, cols=["k"], enable_cdf=True)
    update_where(
        spark, tbl, {"u": 3}, {"v": "v * -1"},
        strategy="merge-on-read", keys=["k"],
    )
    feed = table_changes(spark, tbl, 0, change_feed=True)
    by = {r["_change_type"]: r["count"] for r in feed.groupBy(
        "_change_type").count().collect()}
    assert by["update_preimage"] == 20 and by["update_postimage"] == 20
    want = sorted(tuple(r) for r in read_table(spark, tbl).collect())
    materialize_deletes(spark, tbl)
    got = sorted(tuple(r) for r in read_table(spark, tbl).collect())
    assert got == want
    assert read_table(spark, tbl).filter("v < 0").count() == 20


def test_mor_update_guards(spark, tmp_path):
    tbl = _seed_scattered(spark, tmp_path, n=100, files=2)
    with pytest.raises(ValueError, match="needs keys"):
        update_where(
            spark, tbl, {"u": 1}, {"v": "0"},
            strategy="merge-on-read",
        )
    with pytest.raises(ValueError, match="strategy"):
        update_where(spark, tbl, {"u": 1}, {"v": "0"}, strategy="x")


def test_zero_match_mor_ops_are_clean_noops(spark, tmp_path):
    """A merge-on-read delete/update whose predicate matches NOTHING:
    AQE replaces the empty shuffle stage (CollectMetrics included)
    with an empty relation — the hardened observation read must treat
    the lost metrics as the zeros they are, refuse to commit, and
    leave the table untouched (found by the model-based random
    programs: the same residue deleted twice)."""
    tbl = _seed_scattered(spark, tmp_path, n=100, files=2)
    head = sinks.manifest_version(tbl)
    led = delete_where(
        spark, tbl, {"u": 99}, strategy="merge-on-read", keys=["k"]
    )
    assert led["rows_deleted"] == 0 and led["dv_files"] == 0
    assert sinks.manifest_version(tbl) == head
    led = update_where(
        spark, tbl, {"u": 99}, {"v": "v + 1"},
        strategy="merge-on-read", keys=["k"],
    )
    assert led["rows_updated"] == 0
    t = read_table(spark, tbl)
    assert t.count() == 100 and t.filter("v > 100000").count() == 0
    # deleting a residue TWICE: the second pass matches nothing
    delete_where(
        spark, tbl, {"u": 3}, strategy="merge-on-read", keys=["k"]
    )
    led = delete_where(
        spark, tbl, {"u": 3}, strategy="merge-on-read", keys=["k"]
    )
    assert led["rows_deleted"] == 0
    assert read_table(spark, tbl).filter("u = 3").count() == 0


def test_empty_batch_append_to_partitioned_table(spark, tmp_path):
    """An EMPTY micro-batch into a hive-partitioned table: the
    partition repartition is a shuffle, so AQE empty-propagation can
    eat the row-count observation — the append must still commit a
    clean zero-row batch (streaming triggers deliver empty batches
    routinely)."""
    tbl = str(tmp_path / "p")
    df = spark.range(0, 30).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("p"),
    )
    append_files(spark, df, tbl, cols=["k"], partition_by=["p"])
    empty = spark.range(0).select(
        F.col("id").alias("k"), F.lit(0).cast("int").alias("p")
    )
    led = append_files(spark, empty, tbl, txn=("e", 1))
    assert led["rows"] == 0
    assert read_table(spark, tbl).count() == 30


# ---------------------------------------------------------------------------
# Deletion-vector debt consolidation at checkpoint commits
# ---------------------------------------------------------------------------


def test_dv_debt_consolidates_at_checkpoint(spark, tmp_path):
    """A steady merge-on-read workload must NOT grow one sidecar scan
    per commit in every read plan forever: checkpoint commits (every
    ``_CHECKPOINT_EVERY``) fold the active tombstone sidecars
    keep-last into ONE consolidated per-row-versioned sidecar.  This
    pins: (a) the active dv list collapses to 1 at the checkpoint and
    stays bounded after, (b) the read plan scans exactly the
    consolidated sidecar(s), (c) suppression results are IDENTICAL
    across the fold — including the per-key version boundary: a key
    re-inserted after its delete survives, (d) table_history reports
    the debt, (e) the retired sidecars sweep."""
    tbl = _seed(spark, tmp_path, n=200, files=4)  # v0..v3
    # v4..v9: six scattered MOR deletes, one key each
    for i, k in enumerate(range(10, 16)):
        delete_where(
            spark, tbl, {"k": (k, k)},
            strategy="merge-on-read", keys=["k"],
            txn=("dvck", i),
        )
    # v9 was not yet a checkpoint; debt = 6 sidecars
    mdir = manifest_dir(tbl)
    assert len(sinks._active_dvs(mdir)) == 6
    # re-insert one deleted key: its NEW row postdates the tombstone
    # and must survive the fold
    append_files(
        spark,
        spark.range(12, 13).select(
            F.col("id").alias("k"), F.lit(-777).cast("long").alias("v")
        ).coalesce(1),
        tbl,
    )  # v10 — the checkpoint commit; consolidation runs HERE
    dvs = sinks._active_dvs(mdir)
    assert len(dvs) == 1 and dvs[0].get("per_row") is True
    assert "consolidated-v10" in dvs[0]["file"]
    assert int(dvs[0]["rows"]) == 6  # keep-last fold of 6 single-key dvs

    t = read_table(spark, tbl)
    # deleted keys gone, the re-inserted key serves its new row
    assert t.filter(F.col("k").between(10, 15)).count() == 1
    assert t.filter("k = 12").collect()[0]["v"] == -777
    assert t.count() == 200 - 6 + 1
    # the plan reads exactly ONE _deletes sidecar file (plan-asserted
    # through the scan's own input-file list)
    scans = [f for f in t.inputFiles() if "/_deletes/" in f]
    assert len(scans) == 1 and "consolidated-v10" in scans[0]

    # more MOR commits after the fold stack on top of it, bounded by
    # the checkpoint cadence
    delete_where(
        spark, tbl, {"k": (20, 20)},
        strategy="merge-on-read", keys=["k"],
    )  # v11
    assert len(sinks._active_dvs(mdir)) == 2
    t2 = read_table(spark, tbl)
    assert t2.count() == 200 - 7 + 1 and t2.filter("k = 12").count() == 1

    # history surfaces the debt per snapshot
    hist = {h["version"]: h for h in sinks.table_history(tbl)}
    assert hist[11]["dv_files"] == 2 and hist[11]["dv_rows"] == 7

    # retired pre-fold sidecars are sweepable debris, not leaks
    sinks.vacuum_table(tbl, min_age_s=0)
    on_disk = {
        p
        for p in glob.glob(tbl + "/_deletes/*/*.parquet")
    }
    live = {d["file"] for d in sinks._active_dvs(mdir)}
    assert on_disk == live

    # materialize_deletes still folds everything back into data files
    led = materialize_deletes(spark, tbl)
    assert led["dv_files_removed"] == 2
    t3 = read_table(spark, tbl)
    assert t3.count() == 194 and t3.filter("k = 12").collect()[0]["v"] == -777
    assert sinks._active_dvs(mdir) == []


def test_dv_consolidation_preserves_time_travel_on_retain(spark, tmp_path):
    """On a RETENTION table the fold retires the old sidecars into the
    pending backlog instead of deleting them, so time travel to a
    pre-fold snapshot still serves its own dv set."""
    tbl = str(tmp_path / "ret")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    append_files(
        spark, df.coalesce(1), tbl, cols=["k"],
        retain_removed=True, keep_versions=30,
    )  # v0
    for i in range(10):  # v1..v10 — v10 checkpoints + consolidates
        delete_where(
            spark, tbl, {"k": (i, i)},
            strategy="merge-on-read", keys=["k"],
        )
    mdir = manifest_dir(tbl)
    assert len(sinks._active_dvs(mdir)) == 1
    assert len(sinks._active_dvs(mdir, version=9)) == 9
    # head = fold applied; v9 = pre-fold sidecars still on disk
    assert read_table(spark, tbl).count() == 90
    assert read_table(spark, tbl, version=9).count() == 91
    assert read_table(spark, tbl, version=5).count() == 95


def test_dv_suppression_broadcast_hint_is_size_gated(
    spark, tmp_path, monkeypatch
):
    """The tombstone join is broadcast-HINTED only while the stamped
    row counts prove the set is broadcast-sized: past the threshold
    the join goes un-hinted (AQE sizes it from runtime stats) — a
    months-old consolidated erasure debt must never be FORCED into
    every executor's memory."""
    tbl = _seed(spark, tmp_path, n=100, files=2)
    merge_into(
        spark,
        spark.range(0, 10).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
        ),
        tbl, keys=["k"], strategy="merge-on-read",
    )

    def _hints(df):
        return df._jdf.queryExecution().analyzed().toString().count(
            "UnresolvedHint broadcast"
        ) + df._jdf.queryExecution().analyzed().toString().count(
            "ResolvedHint (strategy=broadcast)"
        )

    # batch-sized debt: the tombstone join is hinted (the file map is
    # a literal, no join)
    assert _hints(read_table(spark, tbl)) == 1
    # provably-huge debt: no hint; results identical either way
    monkeypatch.setattr(sinks, "_DV_BROADCAST_MAX_ROWS", 1)
    t = read_table(spark, tbl)
    assert _hints(t) == 0
    assert t.count() == 100 and t.filter("v = -1").count() == 10
    monkeypatch.undo()
    # pre-r13 entries (no row stamp) keep the hint — per-commit
    # batch-sized by construction
    mdir = manifest_dir(tbl)
    head_v = sinks.manifest_version(tbl)
    import json as _json
    mp = os.path.join(mdir, f"v{head_v}", "_COMMIT")
    m = _json.loads(open(mp).read())
    for d in m["dvs"]:
        d.pop("rows", None)
    with open(mp, "w") as f:
        f.write(_json.dumps(m))
    monkeypatch.setattr(sinks, "_DV_BROADCAST_MAX_ROWS", 1)
    assert _hints(read_table(spark, tbl)) == 1


def test_two_processes_racing_mor_deletes_land_exactly_once(
    spark, tmp_path
):
    """Cross-PROCESS erasure race (separate JVMs, the in-process lock
    cannot help): a child driver merge-on-read-deletes three key
    slices while this one deletes three DISJOINT slices.  Collisions
    resolve through the commit lease + tombstone rebase (disjoint
    keys commute) or the bounded full retry — either way every slice
    is deleted exactly once, the version history serializes, and the
    suppression join serves the intersection of both erasures."""
    import subprocess
    import sys

    from evmtrace_etl_spark.sinks import delete_where, retry_on_conflict

    tbl = _seed(spark, tmp_path, n=100, files=2)
    script = os.path.join(
        os.path.dirname(__file__), "lake_two_process_script.py"
    )
    repo = os.path.dirname(os.path.dirname(__file__))
    env = dict(
        os.environ,
        PYTHONPATH=repo + os.pathsep + os.environ.get("PYTHONPATH", ""),
    )
    child = subprocess.Popen(
        [sys.executable, script, tbl, "0", "3", "delmor"],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        cwd=repo,
        env=env,
    )
    parent_deleted = 0
    try:
        for b in range(3):  # parent purges 50-59, 60-69, 70-79
            lo = 50 + 10 * b
            led = retry_on_conflict(
                lambda: delete_where(
                    spark, tbl, {"k": (lo, lo + 9)},
                    strategy="merge-on-read", keys=["k"],
                ),
                attempts=10,
            )
            parent_deleted += led["rows_deleted"]
        out, _ = child.communicate(timeout=240)
    finally:
        if child.poll() is None:
            child.kill()
    assert "CHILD_DONE" in out, out
    assert out.count("CHILD_COMMIT") == 3
    child_deleted = sum(
        int(ln.split("deleted=")[1].split()[0])
        for ln in out.splitlines()
        if "CHILD_COMMIT" in ln
    )
    assert parent_deleted == 30 and child_deleted == 30
    t = read_table(spark, tbl)
    assert t.count() == 40
    assert t.filter("k < 30 or (k >= 50 and k < 80)").count() == 0
    mdir = manifest_dir(tbl)
    assert sinks.manifest_version(tbl) == 1 + 6  # serialized
    assert not os.path.exists(mdir + "/_LOCK")  # lease released
    assert not os.path.exists(mdir + "/_TXN")
    # zero data files were rewritten by either process's erasure
    assert len(glob.glob(tbl + "/*.parquet")) == 2


def test_maintain_table_composes_upkeep(spark, tmp_path):
    """The one-call nightly maintenance: materializes DV debt only
    past the policy threshold, compacts streaming fragments toward
    target size (converging — right-sized files keep inodes), vacuums
    debris — and the table serves identical rows throughout."""
    tbl = str(tmp_path / "mt")
    for lo in range(0, 100, 20):  # five tiny fragment files (v0..v4)
        append_files(
            spark,
            spark.range(lo, lo + 20).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("v")
            ).coalesce(1),
            tbl,
            cols=["k"] if lo == 0 else None,
        )
    for i in range(3):  # v5..v7 — three MOR deletes, below threshold
        delete_where(
            spark, tbl, {"k": (i, i)},
            strategy="merge-on-read", keys=["k"],
        )
    led = sinks.maintain_table(spark, tbl, min_age_s=0)
    assert led["dv_files"] == 3 and led["dv_rows"] == 3
    assert led["materialize"] is None  # below both thresholds
    assert led["compact"]["files_rewritten"] == 5
    assert led["compact"]["files_added"] >= 1
    # a compaction pass over a DV table materializes the touched
    # files' suppression as a side effect (row-preserving re-pack)
    t = read_table(spark, tbl)
    assert t.count() == 97 and t.filter("k < 3").count() == 0
    # second run converges: nothing left to rewrite
    led2 = sinks.maintain_table(spark, tbl, min_age_s=0)
    assert led2["compact"]["files_rewritten"] == 0

    # push the debt over the files threshold -> materialize fires
    for i in range(10, 19):
        delete_where(
            spark, tbl, {"k": (i, i)},
            strategy="merge-on-read", keys=["k"],
        )
    led3 = sinks.maintain_table(
        spark, tbl, dv_files_threshold=4, min_age_s=0
    )
    assert led3["dv_files"] > 4
    assert led3["materialize"] is not None
    assert sinks._active_dvs(manifest_dir(tbl)) == []
    t = read_table(spark, tbl)
    assert t.count() == 88 and t.filter("k >= 10 and k < 19").count() == 0
    # rows threshold leg: one fresh tombstone, tiny rows threshold
    delete_where(
        spark, tbl, {"k": (30, 34)},
        strategy="merge-on-read", keys=["k"],
    )
    led4 = sinks.maintain_table(
        spark, tbl, dv_rows_threshold=2, min_age_s=0
    )
    assert led4["dv_rows"] == 5 and led4["materialize"] is not None
    assert read_table(spark, tbl).count() == 83


def test_restore_to_pre_fold_snapshot(spark, tmp_path):
    """RESTORE across a DV consolidation on a retain table: the target
    snapshot's own per-commit sidecars are pinned verbatim
    (dvs_replace), the fold's consolidated entry retires, and the
    restored table serves the target's exact visibility — with later
    MOR deletes (and their next fold) working on top."""
    tbl = str(tmp_path / "rtf")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    append_files(
        spark, df.coalesce(1), tbl, cols=["k"],
        retain_removed=True, keep_versions=30,
    )
    for i in range(10):  # v1..v10; fold at v10
        delete_where(
            spark, tbl, {"k": (i, i)},
            strategy="merge-on-read", keys=["k"],
        )
    mdir = manifest_dir(tbl)
    assert len(sinks._active_dvs(mdir)) == 1  # folded
    led = sinks.restore_table(spark, tbl, version=5)
    assert led["restored_to"] == 5
    dvs = sinks._active_dvs(mdir)
    assert len(dvs) == 5 and not any(d.get("per_row") for d in dvs)
    t = read_table(spark, tbl)
    assert t.count() == 95 and t.filter("k < 5").count() == 0
    assert t.filter("k >= 5 and k < 10").count() == 5  # un-deleted
    for i in range(20, 26):  # more deletes on the restored head
        delete_where(
            spark, tbl, {"k": (i, i)},
            strategy="merge-on-read", keys=["k"],
        )
    assert read_table(spark, tbl).count() == 89


def test_unstamped_consolidated_dv_disables_broadcast_hint(
    spark, tmp_path
):
    """A consolidated ``per_row`` sidecar whose commit-time footer read
    failed carries ``rows=None`` — unlike an unstamped PLAIN entry
    (per-commit batch-sized by construction) its size is unknown and
    can be months of folded tombstones, so the suppression join must
    drop the broadcast hint instead of keeping it (the OOM-forcing
    default the advice flagged)."""
    import json as _json

    tbl = _seed(spark, tmp_path, n=100, files=2)
    for i in range(10):  # v1..v10; v10 checkpoints + consolidates
        delete_where(
            spark, tbl, {"k": (i, i)},
            strategy="merge-on-read", keys=["k"],
        )
    mdir = manifest_dir(tbl)
    head_v = sinks.manifest_version(tbl)
    mp = os.path.join(mdir, f"v{head_v}", "_COMMIT")
    m = _json.loads(open(mp).read())
    assert any(d.get("per_row") for d in m["dvs"])  # fold happened

    def _hints(df):
        s = df._jdf.queryExecution().analyzed().toString()
        return s.count("UnresolvedHint broadcast") + s.count(
            "ResolvedHint (strategy=broadcast)"
        )

    # stamped consolidated entry (small): hint kept
    assert _hints(read_table(spark, tbl)) == 1
    # strip the stamp from the per_row entry only
    for d in m["dvs"]:
        if d.get("per_row"):
            d["rows"] = None
    with open(mp, "w") as f:
        f.write(_json.dumps(m))
    t = read_table(spark, tbl)
    assert _hints(t) == 0  # the tombstone join goes un-hinted
    # visibility unchanged either way
    assert t.count() == 90 and t.filter("k < 10").count() == 0
