"""Removed-file retention (``append_files(retain_removed=True)``):
a rewrite's replaced data files stay on disk until their snapshot
falls out of ``keep_versions``, so time travel (version AND
timestamp) and RESTORE work ACROSS rewrite commits — Delta's VACUUM
retention window, driven by retained versions instead of wall-clock
age.  Default tables keep the zero-retention shape (replaced files
swept at the rewrite's commit) byte-for-byte: their markers still
carry bare-path pending lists."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from evmtrace_etl_spark.lake_log import manifest_dir
from evmtrace_etl_spark.sinks import (
    add_table_constraint,
    append_files,
    commit_timestamp,
    merge_into,
    read_table,
    restore_table,
    table_history,
    update_stats_index,
    vacuum_table,
    version_at_timestamp,
)

# r15: deep scenario module — full-tier only (see tests/conftest.py)
pytestmark = pytest.mark.slow


def _data_files(tbl: str) -> set[str]:
    return {
        p
        for p in glob.glob(os.path.join(tbl, "**", "*.parquet"), recursive=True)
        if "_stats_manifest" not in p and "_changes" not in p
    }


def _seed(spark, tmp_path, retain: bool, keep_versions: int = 10) -> str:
    tbl = str(tmp_path / ("ret" if retain else "plain"))
    for lo in (0, 100):
        df = spark.range(lo, lo + 100).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
        append_files(
            spark, df.coalesce(1), tbl, cols=["k"],
            keep_versions=keep_versions,
            retain_removed=retain if lo == 0 else None,  # stamped once
        )
    return tbl


def test_time_travel_across_rewrite(spark, tmp_path):
    """On a retention table a copy-on-write merge keeps the replaced
    files, so both forms of time travel serve the pre-rewrite state;
    a default table swept them at the rewrite commit and raises."""
    tbl = _seed(spark, tmp_path, retain=True)
    before = _data_files(tbl)
    hist = table_history(tbl)
    pre_v, pre_ts = hist[-1]["version"], hist[-1]["ts"]

    src = spark.range(0, 50).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    led = merge_into(spark, src, tbl, keys=["k"], keep_versions=10)
    assert led["files_rewritten"] >= 1
    # replaced files still on disk
    assert before <= _data_files(tbl)

    old = read_table(spark, tbl, version=pre_v)
    assert old.count() == 200 and old.filter("v = -1").count() == 0
    assert version_at_timestamp(tbl, pre_ts) == pre_v
    old_ts = read_table(spark, tbl, as_of_timestamp=pre_ts)
    assert old_ts.filter("v = -1").count() == 0
    # the head still serves the merged state
    assert read_table(spark, tbl).filter("v = -1").count() == 50

    # default table: same merge sweeps the candidates at commit
    plain = _seed(spark, tmp_path, retain=False)
    pv = table_history(plain)[-1]["version"]
    pre_files = _data_files(plain)
    merge_into(spark, src, plain, keys=["k"], keep_versions=10)
    assert not (pre_files <= _data_files(plain))  # something was swept
    with pytest.raises(Exception):
        read_table(spark, plain, version=pv).filter("v = -1").count()


def test_default_marker_wire_shape(spark, tmp_path):
    """Zero-retention tables write the same ``{file, rm_v}`` pending
    entries as retention tables — ``rm_v`` is the removing commit's
    version — and never stamp the retain flag."""
    plain = _seed(spark, tmp_path, retain=False)
    merge_into(
        spark,
        spark.range(5).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
        ),
        plain,
        keys=["k"],
        keep_versions=10,
    )
    mdir = manifest_dir(plain)
    head = max(
        int(d[1:]) for d in os.listdir(mdir) if d.startswith("v")
    )
    marker = json.loads(
        open(os.path.join(mdir, f"v{head}", "_COMMIT")).read()
    )
    assert "retain" not in marker
    # the merge rewrote files, so this commit's removals are pending
    # (swept from disk but still listed until the next commit)
    assert all(
        e.keys() == {"file", "rm_v"} and e["rm_v"] <= head
        for e in marker["pending"]
    )
    assert any(e["rm_v"] == head for e in marker["pending"])


def test_restore_across_rewrite_readds_and_unpends(spark, tmp_path):
    """RESTORE to a pre-rewrite snapshot on a retention table: the
    replaced files still exist, the restore re-adds them, and they
    LEAVE the sweep backlog — later maintenance must not reclaim files
    the restored head references."""
    tbl = _seed(spark, tmp_path, retain=True)
    pre_v = table_history(tbl)[-1]["version"]
    src = spark.range(0, 50).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    merge_into(spark, src, tbl, keys=["k"], keep_versions=10)

    led = restore_table(spark, tbl, version=pre_v, keep_versions=10)
    assert led["files_readded"] >= 1
    assert read_table(spark, tbl).filter("v = -1").count() == 0
    # maintenance after the restore must not eat the re-added files
    vacuum_table(tbl)
    append_files(
        spark,
        spark.range(200, 210).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ).coalesce(1),
        tbl,
        keep_versions=10,
    )
    t = read_table(spark, tbl)
    assert t.count() == 210 and t.filter("v = -1").count() == 0


def test_stats_index_does_not_adopt_retained_history(spark, tmp_path):
    """The maintenance rebuild's "unknown file on disk == new ingest"
    rule must NOT adopt a retention table's pending backlog — those
    files are known-removed history kept for time travel, and
    re-adopting them would resurrect pre-merge rows into the head."""
    tbl = _seed(spark, tmp_path, retain=True)
    src = spark.range(0, 50).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    merge_into(spark, src, tbl, keys=["k"], keep_versions=10)
    before = read_table(spark, tbl)
    assert before.count() == 200 and before.filter("v = -1").count() == 50

    led = update_stats_index(spark, tbl, keep_versions=10)
    assert led["files_new"] == 0  # the retained file is NOT new ingest
    after = read_table(spark, tbl)
    assert after.count() == 200
    assert after.filter("v = -1").count() == 50  # nothing resurrected


def test_version_at_timestamp_respects_retention_floor(spark, tmp_path):
    """Chain-link version dirs below the stamped retention floor are
    not servable snapshots (their removed files were reclaimed) —
    timestamp resolution refuses them instead of resolving to a
    snapshot that would die mid-read."""
    tbl = _seed(spark, tmp_path, retain=True, keep_versions=2)
    ts_v1 = commit_timestamp(tbl, 1)
    src = spark.range(0, 50).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    merge_into(spark, src, tbl, keys=["k"], keep_versions=2)  # v2
    for lo in (300, 400):  # advance the floor past the rewrite
        append_files(
            spark,
            spark.range(lo, lo + 10).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("v")
            ).coalesce(1),
            tbl,
            keep_versions=2,
        )
    vacuum_table(tbl)
    with pytest.raises(ValueError, match="predates"):
        version_at_timestamp(tbl, ts_v1)


def test_metadata_ddl_carries_retention_window(spark, tmp_path):
    """A metadata-only DDL (add_table_constraint) with no explicit
    keep_versions carries the table's stamped window instead of
    collapsing it to the default — retained history survives."""
    tbl = _seed(spark, tmp_path, retain=True, keep_versions=10)
    pre_v = table_history(tbl)[-1]["version"]
    src = spark.range(0, 50).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    merge_into(spark, src, tbl, keys=["k"], keep_versions=10)
    add_table_constraint(spark, tbl, "v_any", "v IS NOT NULL OR v IS NULL")
    vacuum_table(tbl)
    old = read_table(spark, tbl, version=pre_v)
    assert old.count() == 200 and old.filter("v = -1").count() == 0


def test_retain_false_is_unspecified(spark, tmp_path):
    """retain_removed=False on a later append must NOT strip the
    table's retention flag (or flatten the backlog's rm_v stamps) —
    only True enables, anything else carries."""
    tbl = _seed(spark, tmp_path, retain=True)
    append_files(
        spark,
        spark.range(500, 510).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ).coalesce(1),
        tbl,
        keep_versions=10,
        retain_removed=False,
    )
    pre_v = table_history(tbl)[-1]["version"]
    src = spark.range(0, 50).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    merge_into(spark, src, tbl, keys=["k"], keep_versions=10)
    # the rewrite's replaced files were retained: pre-merge still reads
    old = read_table(spark, tbl, version=pre_v)
    assert old.count() == 210 and old.filter("v = -1").count() == 0


def test_retention_reclaims_past_the_floor(spark, tmp_path):
    """Retention is bounded by keep_versions: once the pre-rewrite
    snapshot falls out of the retained window the next sweep reclaims
    the replaced files, and travel to it refuses (the manifest chain
    itself is gone)."""
    tbl = _seed(spark, tmp_path, retain=True, keep_versions=2)
    src = spark.range(0, 50).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    led = merge_into(spark, src, tbl, keys=["k"], keep_versions=2)
    rewrite_v = led["version"]
    n_after_merge = len(_data_files(tbl))
    # push the floor past the rewrite version
    for lo in (300, 400):
        append_files(
            spark,
            spark.range(lo, lo + 10).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("v")
            ).coalesce(1),
            tbl,
            keep_versions=2,
        )
    vacuum_table(tbl)
    # the replaced files are gone: merge added 1 file and swept >=1,
    # the two appends added one each
    assert len(_data_files(tbl)) < n_after_merge + 2
    with pytest.raises(Exception):
        read_table(spark, tbl, version=rewrite_v - 1).count()
    # the head is intact
    assert read_table(spark, tbl).count() == 220


def test_vacuum_dry_run_lists_without_deleting(spark, tmp_path):
    """VACUUM DRY RUN: the dry run returns exactly the paths the real
    vacuum then deletes — stale temp siblings, orphan sidecars, and
    the due pending backlog — while touching nothing itself (no
    deletes, no intent recovery)."""
    import glob as _glob

    from evmtrace_etl_spark.sinks import merge_into

    tbl = str(tmp_path / "t")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    append_files(spark, df.coalesce(1), tbl, cols=["k"], keep_versions=10)
    # debris: a crashed pre-intent temp sibling + an orphan sidecar
    stale = tbl + "._append_deadbeef"
    os.makedirs(stale)
    open(stale + "/part-zzz.parquet", "wb").write(b"x")
    os.makedirs(tbl + "/_deletes/v99-orphan")
    open(tbl + "/_deletes/v99-orphan/part-0.parquet", "w").close()

    files_before = set(_glob.glob(tbl + "*/**/*", recursive=True))
    listed = vacuum_table(tbl, min_age_s=0, dry_run=True)
    assert any("_append_deadbeef" in p for p in listed)
    assert any("v99-orphan" in p for p in listed)
    # nothing moved: dry run is a pure listing
    assert set(_glob.glob(tbl + "*/**/*", recursive=True)) == files_before
    assert os.path.exists(stale)

    deleted = vacuum_table(tbl, min_age_s=0)
    assert set(listed) == set(deleted)
    assert not os.path.exists(stale)
    # and a second dry run is now clean
    assert vacuum_table(tbl, min_age_s=0, dry_run=True) == []
    # read path unaffected throughout
    assert read_table(spark, tbl).count() == 100
    # keep merge_into imported-use explicit for flake tools
    assert callable(merge_into)


def test_history_rows_carry_operation_metrics(spark, tmp_path):
    """DESCRIBE HISTORY's operationMetrics analog: every write op
    stamps its ledger-grade counts into the commit marker and
    table_history surfaces them."""
    from evmtrace_etl_spark.sinks import (
        delete_where,
        merge_into,
        table_history,
    )

    tbl = str(tmp_path / "m")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    append_files(spark, df.coalesce(1), tbl, cols=["k"], keep_versions=10)
    merge_into(
        spark,
        spark.range(50, 120).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
        ),
        tbl, keys=["k"], keep_versions=10,
    )
    delete_where(
        spark, tbl, {"v": -1}, strategy="merge-on-read",
        keys=["k"], keep_versions=10,
    )
    hist = {h["op"]: h["metrics"] for h in table_history(tbl)}
    assert hist["append"] == {"rows_written": 100, "files_added": 1}
    m = hist["merge (update, copy-on-write)"]
    assert m["rows_source"] == 70 and m["files_removed"] == 1
    assert m["rows_written"] == 120
    d = hist["delete (merge-on-read)"]
    assert d == {"rows_deleted": 70, "dv_files": 1}


# ---------------------------------------------------------------------------
# Sidecar (deletion-vector / change-data) retention audit
# ---------------------------------------------------------------------------


def test_sidecar_census_matches_retained_ledger(spark, tmp_path):
    """Disk census after a rewrite + vacuum cycle: the tombstone and
    change-data sidecar files on disk are EXACTLY the union referenced
    by the retained commit markers — sidecars referenced only by swept
    snapshots are reclaimed, sidecars any retained version references
    are kept (time travel to those versions keeps serving)."""
    from evmtrace_etl_spark import sinks
    from evmtrace_etl_spark.sinks import delete_where, materialize_deletes

    tbl = str(tmp_path / "census")
    df = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    append_files(
        spark, df.coalesce(2), tbl, cols=["k"],
        retain_removed=True, keep_versions=4, enable_cdf=True,
    )  # v0
    # MOR deletes -> dv sidecars + delete change files (v1..v3)
    for i in range(3):
        delete_where(
            spark, tbl, {"k": (i, i)},
            strategy="merge-on-read", keys=["k"],
        )
    # fold everything back -> dv sidecars retire into the backlog (v4)
    materialize_deletes(spark, tbl)
    mdir = manifest_dir(tbl)
    assert sinks._active_dvs(mdir) == []
    # the retired sidecars are still referenced by retained v1..v3 —
    # vacuum must NOT reclaim them yet, and travel still serves
    vacuum_table(tbl, min_age_s=0)
    assert read_table(spark, tbl, version=2).count() == 198
    def _census():
        return {
            p
            for sub in ("_deletes", "_changes")
            for p in glob.glob(
                os.path.join(tbl, sub, "**", "*.parquet"), recursive=True
            )
        }
    def _referenced():
        live: set[str] = set()
        for mp in glob.glob(mdir + "/v*/_COMMIT"):
            m = json.load(open(mp))
            live.update(d["file"] for d in m.get("dvs", []))
            live.update(m.get("changes", []) or [])
        return live
    assert _census() == _referenced() and _census()
    pre_fold_dvs = {
        d["file"]
        for d in sinks._commit_info(mdir, 3).get("dvs", [])
    }
    assert pre_fold_dvs <= _census()

    # push v1..v4 out of the keep_versions=4 window (v5..v8), then
    # vacuum: the retired dv sidecars' rm_v stamp is now at or below
    # the retention floor — the backlog sweep reclaims THEM, while
    # change files stay as long as an on-disk marker (retained window
    # OR checkpoint-chain link) references them
    for lo in (1000, 2000, 3000, 4000):
        append_files(
            spark,
            spark.range(lo, lo + 5).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("v")
            ).coalesce(1),
            tbl,
        )
    vacuum_table(tbl, min_age_s=0)
    census = _census()
    # (a) the retired tombstones are reclaimed — the unbounded-growth
    #     path is closed
    assert not (pre_fold_dvs & census)
    # (b) no orphan leak: everything on disk is referenced by some
    #     on-disk marker...
    assert census <= _referenced()
    # (c) ...and no over-delete: everything the RETAINED window (>=
    #     the head's floor) references is on disk
    versions = sinks._committed_versions(mdir)
    head = sinks._commit_info(mdir, versions[-1])
    floor = int(head.get("floor", versions[0]))
    window: set[str] = set()
    for v in versions:
        if v < floor:
            continue
        m = sinks._commit_info(mdir, v)
        window.update(d["file"] for d in m.get("dvs", []))
        window.update(m.get("changes", []) or [])
    assert window <= census

    # advance past the next CHECKPOINT so housekeeping prunes the old
    # marker-chain links; their change files become orphans and the
    # next vacuum closes the full cycle: disk == referenced, exactly
    for lo in (5000, 6000, 7000, 8000, 9000, 10000):
        append_files(
            spark,
            spark.range(lo, lo + 5).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("v")
            ).coalesce(1),
            tbl,
        )
    vacuum_table(tbl, min_age_s=0)
    assert _census() == _referenced()


def test_vacuum_reclaims_crash_orphan_sidecars_only(spark, tmp_path):
    """Crash leg: a sidecar dir left by a crash BETWEEN the sidecar
    write and the ``_TXN`` intent (nothing logged — recovery cannot
    know it) is invisible debris vacuum reclaims once it crosses the
    age floor; a YOUNG sidecar written by a possibly-live writer in
    another process survives the same sweep (the lease-TTL staleness
    rule), as does everything a committed marker references."""
    import shutil
    import time as _time

    from evmtrace_etl_spark import sinks
    from evmtrace_etl_spark.sinks import delete_where

    tbl = str(tmp_path / "orphans")
    df = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    append_files(spark, df.coalesce(1), tbl, cols=["k"], keep_versions=10)
    delete_where(
        spark, tbl, {"k": (0, 0)},
        strategy="merge-on-read", keys=["k"],
    )
    mdir = manifest_dir(tbl)
    live_dv = sinks._active_dvs(mdir)[0]["file"]
    # forge STALE crash debris: an unreferenced sidecar dir backdated
    # past the age floor (crash happened long ago)
    orphan_dir = os.path.join(tbl, "_deletes", "v99-deadbeef")
    shutil.copytree(os.path.dirname(live_dv), orphan_dir)
    old = _time.time() - 3600
    for p in [orphan_dir] + glob.glob(orphan_dir + "/*"):
        os.utime(p, (old, old))
    orphan_file = glob.glob(orphan_dir + "/*.parquet")[0]
    # ...and FRESH debris: another process may be mid-transaction
    # between its sidecar write and its intent — must survive
    fresh_dir = os.path.join(tbl, "_deletes", "v98-cafebabe")
    shutil.copytree(os.path.dirname(live_dv), fresh_dir)
    fresh_file = glob.glob(fresh_dir + "/*.parquet")[0]

    removed = vacuum_table(tbl)  # default age floor (lease TTL)
    assert any("v99-deadbeef" in p for p in removed)
    assert not os.path.exists(orphan_file)
    assert os.path.exists(fresh_file)  # young: possibly live — kept
    assert os.path.exists(live_dv)     # committed: kept
    assert read_table(spark, tbl).count() == 49

    # a stale _TXN intent IS a crashed writer: min_age_s=0 (the
    # no-other-writers assertion) rolls it back — its referenced
    # files go too, and the table serves unchanged
    with open(os.path.join(mdir, "_TXN"), "w") as f:
        json.dump(
            {"expected_version": 99, "added": [fresh_file], "removed": []},
            f,
        )
    vacuum_table(tbl, min_age_s=0)
    assert not os.path.exists(fresh_file)
    assert not os.path.exists(os.path.join(mdir, "_TXN"))
    assert os.path.exists(live_dv)
    assert read_table(spark, tbl).count() == 49
