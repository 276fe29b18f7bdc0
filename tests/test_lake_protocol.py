"""Protocol feature-level stamps on the commit marker (Delta's
protocol action re-expressed): commits that first use column mapping,
type widening, or consolidated per-row deletion vectors stamp
``features`` + ``protocol`` (min_reader/min_writer), the stamp carries
forward monotonically, and every read/write entry point REFUSES a
table stamped above this build's supported level instead of silently
misreading physical names / narrow types / per-row tombstones."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from evmtrace_etl_spark import sinks
from evmtrace_etl_spark.lake_log import manifest_dir
from evmtrace_etl_spark.sinks import (
    ConstraintViolation,
    LakeUpsertSink,
    ProtocolUnsupported,
    append_files,
    compact_table,
    delete_where,
    merge_into,
    read_table,
    rename_column,
    restore_table,
    table_changes,
    update_stats_index,
)
from evmtrace_etl_spark.sources.lake_changes import start_lake_changes_stream

# r15: the deep protocol scenarios are full-tier only (see
# tests/conftest.py); the log-shape pin below runs in the default tier


def _seed(spark, tmp_path, name="tbl") -> str:
    tbl = str(tmp_path / name)
    df = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 10).cast("int").alias("v")
    )
    append_files(spark, df.coalesce(1), tbl, cols=["k"], keep_versions=10)
    return tbl


def _head_marker(tbl: str) -> dict:
    mdir = manifest_dir(tbl)
    vs = sorted(
        int(n[1:])
        for n in os.listdir(mdir)
        if n.startswith("v")
        and os.path.exists(os.path.join(mdir, n, "_COMMIT"))
    )
    with open(os.path.join(mdir, f"v{vs[-1]}", "_COMMIT")) as f:
        return json.load(f)


def _restamp_head(tbl: str, **stamps) -> dict:
    """Hand-edit the head marker: set ``stamps`` on it, every other key
    kept.  Returns the edited marker."""
    m = {**_head_marker(tbl), **stamps}
    vdir = os.path.join(manifest_dir(tbl), f"v{m['version']}")
    with open(os.path.join(vdir, "_COMMIT"), "w") as f:
        f.write(json.dumps(m))
    return m


def _stamp_protocol(tbl: str, min_reader: int, min_writer: int) -> None:
    """Hand-edit the head marker to a future protocol level — the
    older-build-meets-newer-table simulation."""
    _restamp_head(
        tbl,
        protocol={"min_reader": min_reader, "min_writer": min_writer},
        features=["from-the-future"],
    )


@pytest.mark.slow
def test_plain_table_stamps_no_protocol(spark, tmp_path):
    """Level-1 tables keep the pre-protocol wire shape byte-stable:
    no ``protocol``/``features`` keys at all."""
    tbl = _seed(spark, tmp_path)
    m = _head_marker(tbl)
    assert "protocol" not in m and "features" not in m


@pytest.mark.slow
def test_feature_commits_stamp_and_carry_protocol(spark, tmp_path):
    """Column mapping and type widening each bump the stamp, the
    feature set accumulates, and a later plain append CARRIES it —
    protocol never downgrades."""
    tbl = _seed(spark, tmp_path)
    rename_column(spark, tbl, "v", "amount")
    m = _head_marker(tbl)
    assert m["protocol"] == {"min_reader": 2, "min_writer": 2}
    assert m["features"] == ["column-mapping"]
    # widening append: int -> long
    append_files(
        spark,
        spark.range(100, 103).select(
            F.col("id").alias("k"),
            (F.lit(5_000_000_000) + F.col("id")).alias("amount"),
        ).coalesce(1),
        tbl,
    )
    m = _head_marker(tbl)
    assert set(m["features"]) == {"column-mapping", "type-widening"}
    # plain append afterwards: stamp carries forward unchanged
    append_files(
        spark,
        spark.range(200, 203).select(
            F.col("id").alias("k"), F.col("id").cast("long").alias("amount")
        ).coalesce(1),
        tbl,
    )
    m = _head_marker(tbl)
    assert m["protocol"] == {"min_reader": 2, "min_writer": 2}
    assert set(m["features"]) == {"column-mapping", "type-widening"}
    # the table still reads fine at this build's level
    assert read_table(spark, tbl).count() == 56


@pytest.mark.slow
def test_dv_consolidation_stamps_per_row_feature(spark, tmp_path):
    """The checkpoint DV fold writes per-row-versioned sidecars — a
    pre-fold build would ignore __dv_v — so the folding commit stamps
    the dv-per-row feature."""
    tbl = _seed(spark, tmp_path)
    for i in range(10):  # v1..v10; v10 checkpoints + consolidates
        delete_where(
            spark, tbl, {"k": (i, i)},
            strategy="merge-on-read", keys=["k"],
        )
    m = _head_marker(tbl)
    assert any(d.get("per_row") for d in m["dvs"])
    assert "dv-per-row" in m["features"]
    assert m["protocol"]["min_reader"] == 2


@pytest.mark.slow
def test_future_protocol_refuses_reads_and_writes(spark, tmp_path):
    """A marker stamped above this build's level raises a NAMED error
    on every entry point — read_table, table_changes, the lake_changes
    stream source, and (through the one commit choke point) every
    write path."""
    tbl = _seed(spark, tmp_path)
    _stamp_protocol(tbl, min_reader=99, min_writer=99)
    with pytest.raises(ProtocolUnsupported, match="reader feature level"):
        read_table(spark, tbl)
    with pytest.raises(ProtocolUnsupported, match="reader feature level"):
        table_changes(spark, tbl, since_version=0).collect()
    from evmtrace_etl_spark.sources.lake_changes import lake_changes_stream

    with pytest.raises(Exception, match="feature level"):
        lake_changes_stream(spark, tbl).schema
    batch = spark.range(500, 510).select(
        F.col("id").alias("k"), F.lit(1).cast("int").alias("v")
    )
    with pytest.raises(ProtocolUnsupported, match="writer feature level"):
        append_files(spark, batch.coalesce(1), tbl)
    with pytest.raises(ProtocolUnsupported, match="writer feature level"):
        merge_into(spark, batch, tbl, keys=["k"])
    with pytest.raises(ProtocolUnsupported, match="writer feature level"):
        delete_where(spark, tbl, {"k": (0, 5)})
    with pytest.raises(ProtocolUnsupported, match="writer feature level"):
        rename_column(spark, tbl, "v", "vv")


@pytest.mark.slow
def test_writer_only_future_level_still_reads(spark, tmp_path):
    """min_writer above the build with min_reader within it: reads
    keep working (forward-compatible readers — Delta's split levels),
    writes refuse."""
    tbl = _seed(spark, tmp_path)
    _stamp_protocol(tbl, min_reader=1, min_writer=99)
    assert read_table(spark, tbl).count() == 50
    with pytest.raises(ProtocolUnsupported, match="writer feature level"):
        append_files(
            spark,
            spark.range(2).select(
                F.col("id").alias("k"), F.lit(1).cast("int").alias("v")
            ).coalesce(1),
            tbl,
        )


@pytest.mark.slow
def test_future_protocol_refuses_before_any_data_work(spark, tmp_path):
    """The writer-side gate fires at the HEAD of every locked
    write/maintenance entry point, not just at the commit choke point:
    a lower-level build running compact/materialize/vacuum/maintain on
    an upgraded table must refuse BEFORE scanning, rewriting, or moving
    any file in — no live ``_TXN`` intent, no moved-in files, every
    data file byte-untouched (the late commit-time refusal left debris
    for the next op's recovery to clean)."""
    import glob

    tbl = _seed(spark, tmp_path)
    # a second small file so compact_table has real work to refuse
    append_files(
        spark,
        spark.range(100, 120).select(
            F.col("id").alias("k"), F.lit(1).cast("int").alias("v")
        ).coalesce(1),
        tbl,
    )
    # a little DV debt so materialize/maintain would have real work
    delete_where(
        spark, tbl, {"k": (0, 4)},
        strategy="merge-on-read", keys=["k"],
    )
    _stamp_protocol(tbl, min_reader=1, min_writer=99)
    mdir = manifest_dir(tbl)
    before = {
        p: os.path.getmtime(p)
        for p in glob.glob(tbl + "/**/*.parquet", recursive=True)
    }

    # a crashed (future-build) writer's intent: the gate must refuse
    # BEFORE intent recovery — adjudicating a newer build's intent or
    # sweeping its backlog under this build's stale semantics could
    # destroy files a higher-level snapshot references
    orphan = os.path.join(tbl, "part-99999-feedface.c000.snappy.parquet")
    import shutil as _shutil

    _shutil.copy(glob.glob(tbl + "/*.parquet")[0], orphan)
    import json as _json

    with open(os.path.join(mdir, "_TXN"), "w") as f:
        _json.dump(
            {"expected_version": 99, "added": [orphan], "removed": []},
            f,
        )

    ops = [
        lambda: sinks.compact_table(spark, tbl, target_bytes=1 << 20),
        lambda: sinks.materialize_deletes(spark, tbl),
        lambda: sinks.vacuum_table(tbl, min_age_s=0),
        lambda: sinks.maintain_table(spark, tbl, min_age_s=0),
        lambda: sinks.update_stats_index(spark, tbl),
        lambda: sinks.restore_table(spark, tbl, version=0),
        lambda: sinks.add_table_constraint(spark, tbl, "v_ok", "v >= 0"),
        lambda: delete_where(spark, tbl, {"k": (5, 9)}),
        lambda: delete_where(
            spark, tbl, {"k": (5, 9)},
            strategy="merge-on-read", keys=["k"],
        ),
        lambda: append_files(
            spark,
            spark.range(900, 910).select(
                F.col("id").alias("k"), F.lit(1).cast("int").alias("v")
            ).coalesce(1),
            tbl,
        ),
        lambda: merge_into(
            spark,
            spark.range(900, 910).select(
                F.col("id").alias("k"), F.lit(1).cast("int").alias("v")
            ),
            tbl, keys=["k"],
        ),
        lambda: rename_column(spark, tbl, "v", "vv"),
    ]
    for op in ops:
        with pytest.raises(ProtocolUnsupported, match="feature level"):
            op()
        # the future writer's intent was NOT adjudicated: marker and
        # its referenced file both survive every refused entry point
        assert os.path.exists(os.path.join(mdir, "_TXN"))
        assert os.path.exists(orphan)

    after = {
        p: os.path.getmtime(p)
        for p in glob.glob(tbl + "/**/*.parquet", recursive=True)
        if p != orphan
    }
    assert after == before  # zero data work happened


def _markers(tbl: str) -> dict[int, dict]:
    """Every committed marker currently in ``tbl``'s log, by version."""
    mdir = manifest_dir(tbl)
    out = {}
    for n in os.listdir(mdir):
        mp = os.path.join(mdir, n, "_COMMIT")
        if n.startswith("v") and os.path.exists(mp):
            with open(mp) as f:
                out[int(n[1:])] = json.load(f)
    return out


def test_log_records_have_one_shape(spark, tmp_path):
    """The lake log has one wire format.  A scripted history over every
    kind of writer — the stats-index first build over a plain parquet
    directory, an append, the upsert sink's ignore and update, a
    merge-on-read delete, a compaction, a restore — leaves markers
    that all carry ``schema``/``stats_cols``/``kind``/``ts`` and
    ``{file, rm_v}`` pending entries (on a zero-retention table), and a
    ``lake_changes`` drain split mid-commit checkpoints only
    ``{version, index}`` offsets."""
    base = str(tmp_path / "lake")
    tbl = os.path.join(base, "t")

    def rows(lo, hi, v):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), F.lit(v).cast("long").alias("v")
        )

    seen: dict[int, dict] = {}
    rows(0, 40, 0).repartition(2).write.parquet(tbl)
    update_stats_index(spark, tbl, ["k"])
    seen.update(_markers(tbl))
    append_files(spark, rows(40, 60, 1).coalesce(1), tbl)
    seen.update(_markers(tbl))
    sink = LakeUpsertSink(base, partition_cols=())
    sink.upsert(rows(50, 70, 2).coalesce(1), "t", ["k"], mode="ignore")
    seen.update(_markers(tbl))
    sink.upsert(rows(0, 10, 3).coalesce(1), "t", ["k"], mode="update")
    seen.update(_markers(tbl))
    delete_where(
        spark, tbl, {"k": (20, 24)},
        strategy="merge-on-read", keys=["k"],
    )
    seen.update(_markers(tbl))
    compacted = compact_table(spark, tbl)["version"]
    seen.update(_markers(tbl))
    append_files(spark, rows(100, 110, 4).coalesce(1), tbl)
    seen.update(_markers(tbl))
    restore_table(spark, tbl, version=compacted)
    seen.update(_markers(tbl))
    assert sorted(seen) == list(range(8))
    assert read_table(spark, tbl).count() == 70 - 5

    src = str(tmp_path / "src")
    append_files(spark, rows(0, 40, 0).repartition(4), src, cols=["k"])
    seen_src = _markers(src)
    ckpt = str(tmp_path / "ck")
    delivered = []
    for _run in range(4):
        before = len(delivered)
        q = start_lake_changes_stream(
            spark, src, lambda b, bid: delivered.append(b.count()), ckpt,
            max_files_per_trigger=3,
        )
        q.awaitTermination(120)
        if sum(delivered[before:]) == 0:
            break
    assert sum(delivered) == 40

    for m in list(seen.values()) + list(seen_src.values()):
        for key in ("schema", "stats_cols", "kind", "ts"):
            assert key in m, (m["version"], key)
        assert all(
            isinstance(e, dict) and e.keys() == {"file", "rm_v"}
            for e in m["pending"]
        ), m["pending"]
    # the update, the restore and the compaction each removed files
    assert any(m["pending"] for m in seen.values())

    offs = []
    odir = os.path.join(ckpt, "offsets")
    for n in sorted(os.listdir(odir)):
        if n.isdigit():
            with open(os.path.join(odir, n)) as f:
                lines = [ln.strip() for ln in f if ln.strip()]
            offs += [json.loads(ln) for ln in lines[2:]]
    assert offs and all(o.keys() == {"version", "index"} for o in offs), offs
    assert {"version": 0, "index": 3} in offs  # split inside v0


def test_snapshot_replays_the_markers(spark, tmp_path):
    """The driver-side snapshot (``current_manifest``, a pyarrow table)
    at EVERY retained version holds exactly the file set a plain replay
    of the markers' ``added``/``removed`` lists gives, across a hive
    partition column, an ``update`` merge that removes files, a stats
    column added by schema evolution and a ``rename_column`` of a
    stats column; and the head prunes on the partition column, on the
    evolved column (older files' stats are NULL, so they stay
    candidates), on a ``date`` and on naive ``datetime`` bounds taken
    from a Spark ``collect()`` — each pruned read equal to the plain
    filtered scan."""
    import calendar
    import datetime

    tbl = str(tmp_path / "t")

    def batch(lo: int, hi: int, month: int, e: bool = False):
        day0 = datetime.date(2024, month, 1)
        epoch0 = calendar.timegm(day0.timetuple())
        cols = [
            (F.col("id") % 2).cast("int").alias("p"),
            F.col("id").alias("k"),
            F.date_add(F.lit(day0), F.col("id").cast("int")).alias("d"),
            F.timestamp_seconds(F.lit(epoch0) + F.col("id") * 3600).alias("ts"),
        ]
        if e:
            cols.append((F.col("id") + 100).alias("e"))
        return spark.range(lo, hi).select(*cols).coalesce(1)

    stats = ["p", "k", "d", "ts"]
    append_files(
        spark, batch(0, 20, 1), tbl, cols=stats, partition_by=["p"],
        keep_versions=50,
    )  # v0: January
    append_files(spark, batch(20, 40, 3), tbl)  # v1: March
    merge_into(spark, batch(0, 5, 1), tbl, keys=["p", "k"])  # v2: removes
    append_files(spark, batch(40, 50, 5, e=True), tbl, cols=stats + ["e"])
    rename_column(spark, tbl, "k", "key")  # v4: stats column renamed
    append_files(
        spark, batch(50, 60, 7, e=True).withColumnRenamed("k", "key"), tbl
    )

    markers = _markers(tbl)
    assert sorted(markers) == list(range(6))
    replay: set[str] = set()
    for v in sorted(markers):
        replay = (replay - set(markers[v]["removed"])) | set(
            markers[v]["added"]
        )
        snap = sinks.current_manifest(tbl, version=v)
        assert set(snap["file"].to_pylist()) == replay, v
        assert snap.num_rows == len(replay), v

    head = sinks.current_manifest(tbl)
    files = set(head["file"].to_pylist())
    assert "key_min" in head.column_names and "k_min" not in head.column_names
    evolved = set(markers[3]["added"]) | set(markers[5]["added"])

    def kept(pred) -> set[str]:
        return set(sinks.prune_files(head, pred))

    # hive partition column: directory-derived stats
    assert kept({"p": 1}) == {f for f in files if "/p=1/" in f}
    # the evolved column: older files carry NULL stats and stay
    assert kept({"e": (500, 600)}) == files - evolved
    assert kept({"e": (140, 145)}) == (files - evolved) | set(
        markers[3]["added"]
    )
    # the old name is no longer indexed: every file may match
    assert kept({"k": (0, 1)}) == files
    # a date predicate meets date32 stats: only January's files
    jan3 = datetime.date(2024, 1, 3)
    assert kept({"d": jan3}) == set(markers[2]["added"]) | {
        f for f in markers[0]["added"] if f in files
    }
    assert read_table(spark, tbl, {"d": jan3}).count() == 1
    # naive datetime bounds from a Spark collect meet timestamp[us, UTC]
    lo, hi = (
        read_table(spark, tbl)
        .filter("key BETWEEN 20 AND 22")
        .agg(F.min("ts"), F.max("ts"))
        .collect()[0]
    )
    assert lo.tzinfo is None
    assert kept({"ts": (lo, hi)}) == set(markers[1]["added"])
    assert read_table(spark, tbl, {"ts": (lo, hi)}).count() == 3
    assert read_table(spark, tbl).count() == 60


def test_older_stamps_keep_working(spark, tmp_path):
    """A head marker carrying a protocol floor, a CHECK-constraint map
    and column-mapping bookkeeping with a retired physical name — the
    stamps an older build's protocol-upgrade, drop-column and
    drop-constraint DDL left behind — keeps working through
    ``append_files``, ``merge_into``, ``rename_column`` and
    ``read_table``: every later commit carries the floor and the
    constraints, a violating append is refused, and neither a rename
    nor a re-added column takes the retired physical name, so the
    retained files' stale values never resurrect."""
    floor = {"min_reader": 1, "min_writer": 2}
    cons = {"v_ok": "v >= 0"}

    def batch(lo: int, hi: int, v: int = 1, w: int | None = None):
        cols = [
            F.col("id").alias("k"),
            F.lit(v).cast("int").alias("v"),
            F.lit(7).cast("int").alias("u"),
        ]
        if w is not None:
            cols.append(F.lit(w).cast("long").alias("w"))
        return spark.range(lo, hi).select(*cols).coalesce(1)

    def later(tbl: str, v0: int) -> list[dict]:
        return [m for v, m in sorted(_markers(tbl).items()) if v > v0]

    # the floor and the constraints alone: carried exactly
    flat = str(tmp_path / "flat")
    append_files(spark, batch(0, 10), flat, cols=["k"], keep_versions=10)
    v0 = _restamp_head(flat, protocol=floor, constraints=cons)["version"]
    append_files(spark, batch(10, 20), flat)
    merge_into(spark, batch(5, 15, v=2), flat, keys=["k"])
    with pytest.raises(ConstraintViolation, match="v_ok"):
        append_files(spark, batch(20, 21, v=-1), flat)
    assert [(m["protocol"], m["constraints"]) for m in later(flat, v0)] == [
        (floor, cons)
    ] * 2
    assert read_table(spark, flat).count() == 20

    # all three, as an older build's drop of column ``w`` left them:
    # the surviving fields mapped, ``w``'s physical name retired.  The
    # k 0..4 file still stores w = 99 and no later commit rewrites it.
    mapped = str(tmp_path / "mapped")
    append_files(
        spark, batch(0, 5, w=99), mapped, cols=["k"], keep_versions=10
    )
    append_files(spark, batch(5, 10, w=99), mapped)
    schema = _head_marker(mapped)["schema"]
    fields = [
        {**f, "metadata": {"lake.id": i, "lake.phys": f["name"]}}
        for i, f in enumerate(schema["fields"], start=1)
    ]
    v0 = _restamp_head(
        mapped,
        protocol=floor,
        constraints=cons,
        features=["column-mapping"],
        col_mapping={"max_id": len(fields), "retired_phys": ["w"]},
        schema={**schema, "fields": [f for f in fields if f["name"] != "w"]},
    )["version"]
    merge_into(spark, batch(5, 15, v=2), mapped, keys=["k"])
    rename_column(spark, mapped, "u", "u2")
    append_files(  # re-adds w
        spark, batch(20, 25, w=5).withColumnRenamed("u", "u2"), mapped
    )
    with pytest.raises(ConstraintViolation, match="v_ok"):
        append_files(
            spark, batch(30, 31, v=-1).withColumnRenamed("u", "u2"), mapped
        )
    commits = later(mapped, v0)
    assert len(commits) == 3
    for m in commits:
        assert m["constraints"] == cons
        assert m["protocol"]["min_writer"] >= floor["min_writer"]
        assert m["col_mapping"]["retired_phys"] == ["w"]
        assert "w" not in [
            f["metadata"].get("lake.phys", f["name"])
            for f in m["schema"]["fields"]
        ]
    out = read_table(spark, mapped)
    assert out.columns == ["k", "v", "u2", "w"]
    w_of = {r["k"]: r["w"] for r in out.collect()}
    assert sorted(w_of) == list(range(15)) + list(range(20, 25))
    assert all(w_of[k] is None for k in range(15))  # no stale 99
    assert all(w_of[k] == 5 for k in range(20, 25))
