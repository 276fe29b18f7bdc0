"""Streaming consumption of a lake table's commit log
(``sources.lake_changes``): version offsets ride the stream
checkpoint, each micro-batch serves the commits in (start, end], and
txn-stamped downstream writes make source→sink exactly-once across
restarts and replays."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from evmtrace_etl_spark import sinks
from evmtrace_etl_spark.sinks import append_files, merge_into, read_table
from evmtrace_etl_spark.sources.lake_changes import (
    lake_changes_stream,
    start_lake_changes_stream,
)

# r15: deep scenario module — full-tier only (see tests/conftest.py)
pytestmark = pytest.mark.slow


def _src(spark, tmp_path, n_commits: int = 3) -> str:
    tbl = str(tmp_path / "src")
    for i in range(n_commits):
        batch = spark.range(i * 10, i * 10 + 10).select(
            F.col("id").alias("k"), F.lit(i).cast("long").alias("b")
        )
        append_files(spark, batch, tbl, cols=["k"])
    return tbl


def test_stream_serves_commits_exactly_once_across_restart(
    spark, tmp_path
):
    """Three source commits stream into a downstream lake table; a new
    commit + restart from the SAME checkpoint serves only the new
    span; a full replay re-run is a no-op (txn stamps)."""
    src = _src(spark, tmp_path)
    dst = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt")

    def proc(batch, bid):
        append_files(
            batch.sparkSession, batch, dst, cols=["k"],
            txn=("repl", int(bid)),
        )

    q = start_lake_changes_stream(spark, src, proc, ckpt)
    q.awaitTermination(120)
    assert read_table(spark, dst).count() == 30
    assert read_table(spark, dst).select("k").distinct().count() == 30

    append_files(
        spark,
        spark.range(100, 105).select(
            F.col("id").alias("k"), F.lit(9).cast("long").alias("b")
        ),
        src,
    )
    q2 = start_lake_changes_stream(spark, src, proc, ckpt)
    q2.awaitTermination(120)
    t = read_table(spark, dst)
    assert t.count() == 35
    assert t.select("k").distinct().count() == 35  # no double-serve
    # an idle restart moves nothing
    q3 = start_lake_changes_stream(spark, src, proc, ckpt)
    q3.awaitTermination(120)
    assert read_table(spark, dst).count() == 35


def test_stream_replay_of_a_batch_is_noop(spark, tmp_path):
    """If the downstream crashed after committing but before the
    stream checkpointed, the batch is re-delivered — the txn stamp
    short-circuits it (exactly-once end to end)."""
    src = _src(spark, tmp_path)
    dst = str(tmp_path / "dst")
    seen: list[int] = []

    def proc(batch, bid):
        seen.append(int(bid))
        append_files(
            batch.sparkSession, batch, dst, cols=["k"],
            txn=("repl", int(bid)),
        )

    q = start_lake_changes_stream(spark, src, proc, str(tmp_path / "c1"))
    q.awaitTermination(120)
    n0 = read_table(spark, dst).count()
    # a FRESH checkpoint replays everything from v0 — every append is
    # re-delivered with the same batch ids and must no-op
    q2 = start_lake_changes_stream(spark, src, proc, str(tmp_path / "c2"))
    q2.awaitTermination(120)
    assert read_table(spark, dst).count() == n0 == 30
    assert len(seen) >= 2


def test_stream_refuses_rewrites_without_cdf(spark, tmp_path):
    """A rewrite commit in the span fails the plain-rows stream with a
    clear error instead of silently double-serving rows."""
    src = _src(spark, tmp_path)
    merge_into(
        spark,
        spark.range(5).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("b")
        ),
        src, keys=["k"],
    )
    q = start_lake_changes_stream(
        spark, src, lambda b, i: None, str(tmp_path / "c")
    )
    with pytest.raises(Exception, match="rewrote|change_feed"):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()


def test_change_feed_stream_serves_cdc_rows(spark, tmp_path):
    """change_feed=true: the stream serves row-level CDC — appends
    synthesize inserts, a merge's change files arrive typed with
    their commit version."""
    src = str(tmp_path / "src")
    append_files(
        spark,
        spark.range(20).select(
            F.col("id").alias("k"), F.lit(1).cast("long").alias("b")
        ),
        src, cols=["k"], enable_cdf=True,
    )
    merge_into(
        spark,
        spark.range(15, 25).select(
            F.col("id").alias("k"), F.lit(2).cast("long").alias("b")
        ),
        src, keys=["k"],
    )
    got: list = []

    def proc(batch, bid):
        got.extend(
            (r["_commit_version"], r["_change_type"], r["k"], r["b"])
            for r in batch.collect()
        )

    q = start_lake_changes_stream(
        spark, src, proc, str(tmp_path / "c"), change_feed=True
    )
    q.awaitTermination(120)
    by_type: dict = {}
    for v, ct, k, b in got:
        by_type[(v, ct)] = by_type.get((v, ct), 0) + 1
    assert by_type == {
        (0, "insert"): 20,
        (1, "update_preimage"): 5,
        (1, "update_postimage"): 5,
        (1, "insert"): 5,
    }
    # postimage values are the merged ones
    assert all(
        b == 2 for v, ct, k, b in got if ct == "update_postimage"
    )


def test_stream_over_partitioned_table_keeps_partition_values(
    spark, tmp_path
):
    """Hive partition values are directory-encoded — the executor-side
    pyarrow read must reinject them from the path."""
    src = str(tmp_path / "src")
    df = spark.range(30).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("p"),
        F.lit(1).cast("long").alias("b"),
    )
    append_files(spark, df, src, cols=["k"], partition_by=["p"])
    rows: list = []

    def proc(batch, bid):
        rows.extend((r["k"], r["p"]) for r in batch.collect())

    q = start_lake_changes_stream(spark, src, proc, str(tmp_path / "c"))
    q.awaitTermination(120)
    assert len(rows) == 30
    assert all(p == k % 3 for k, p in rows)


def test_stream_starting_timestamp(spark, tmp_path):
    """Delta's startingTimestamp stream option: the stream starts
    strictly AFTER the snapshot current at the instant — v0's commit
    time serves commits 1..head; an instant before the first retained
    commit refuses (same contract as table_changes(since_timestamp))."""
    src = _src(spark, tmp_path)  # v0, v1, v2
    ts_v0 = sinks.table_history(src)[0]["ts"]
    dst = str(tmp_path / "dst_ts")
    ckpt = str(tmp_path / "ckpt_ts")

    def proc(batch, bid):
        append_files(
            batch.sparkSession, batch, dst, cols=["k"],
            txn=("ts_repl", int(bid)),
        )

    q = start_lake_changes_stream(
        spark, src, proc, ckpt, starting_timestamp=ts_v0
    )
    q.awaitTermination(120)
    t = read_table(spark, dst)
    # v0's 10 rows excluded; v1+v2's 20 served
    assert t.count() == 20
    assert t.agg(F.min("k")).collect()[0][0] == 10
    with pytest.raises(ValueError, match="predates"):
        lake_changes_stream(spark, src, starting_timestamp=ts_v0 - 10.0)


def test_plain_stream_serves_cdf_table_appends(spark, tmp_path):
    """A CDF-enabled table's appends ALWAYS carry change sidecars — a
    plain (non-CDF) stream must still serve the appended data files
    instead of raising on the mere presence of a changes list; it
    raises only on a genuine rewrite / deletion-vector change."""
    src = str(tmp_path / "cdfsrc")
    for i in range(3):
        append_files(
            spark,
            spark.range(i * 10, i * 10 + 10).select(
                F.col("id").alias("k"), F.lit(i).cast("long").alias("b")
            ),
            src,
            cols=["k"],
            enable_cdf=True,
        )
    dst = str(tmp_path / "cdfdst")
    ckpt = str(tmp_path / "cdfckpt")

    def proc(batch, bid):
        append_files(
            batch.sparkSession, batch, dst, cols=["k"],
            txn=("cdfp", int(bid)),
        )

    q = start_lake_changes_stream(spark, src, proc, ckpt)  # plain mode
    q.awaitTermination(120)
    assert read_table(spark, dst).count() == 30
    # a rewrite still refuses in plain mode
    merge_into(
        spark,
        spark.range(5).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("b")
        ),
        src,
        keys=["k"],
    )
    q2 = start_lake_changes_stream(spark, src, proc, ckpt)
    with pytest.raises(Exception, match="rewrote|deletion"):
        q2.awaitTermination(120)
        q2.processAllAvailable()


def _drain_runs(spark, src, dst, ckpt, app, max_runs=10, **opts):
    """Run availableNow passes until a run delivers nothing; each run
    is ONE budgeted micro-batch (the availableNow wrapper stops at the
    offset captured when the run starts).  Returns [(batch_id, rows)]
    for every non-empty batch, in delivery order."""
    batches: list[tuple[int, int]] = []

    def proc(batch, bid):
        n = batch.count()
        if n:
            batches.append((int(bid), n))
        append_files(
            batch.sparkSession, batch, dst, cols=["k"],
            txn=(app, int(bid)),
        )

    for _run in range(max_runs):
        before = len(batches)
        q = start_lake_changes_stream(spark, src, proc, ckpt, **opts)
        q.awaitTermination(120)
        if len(batches) == before:  # caught up — no data moved
            break
    return batches


def test_backlog_drains_in_bounded_micro_batches(spark, tmp_path):
    """Admission control (maxFilesPerTrigger): a 5-commit backlog with
    a 2-file budget drains as >=3 bounded micro-batches — never one
    batch the size of the outage — and the drained table is still
    exactly-once (every row once, txn stamps intact)."""
    src = str(tmp_path / "src")
    for i in range(5):  # one file per commit
        batch = spark.range(i * 10, i * 10 + 10).select(
            F.col("id").alias("k"), F.lit(i).cast("long").alias("b")
        )
        append_files(spark, batch.coalesce(1), src, cols=["k"])
    dst = str(tmp_path / "dst")
    batches = _drain_runs(
        spark, src, dst, str(tmp_path / "ck"), "bk",
        max_files_per_trigger=2,
    )
    # 5 files / budget 2 -> 2+2+1: three bounded batches
    assert [n for _b, n in batches] == [20, 20, 10]
    t = read_table(spark, dst)
    assert t.count() == 50
    assert t.select("k").distinct().count() == 50  # exactly-once


def test_over_budget_single_commit_splits_on_file_index(spark, tmp_path):
    """A single commit larger than the budget splits MID-COMMIT on a
    (version, index) offset: 6 files in one commit, budget 2 -> three
    batches, and the checkpointed offsets carry the index form."""
    src = str(tmp_path / "src")
    df = spark.range(60).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("b")
    )
    append_files(spark, df.repartition(6), src, cols=["k"])
    dst = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ck")
    batches = _drain_runs(
        spark, src, dst, ckpt, "sp", max_files_per_trigger=2
    )
    # three 2-file batches (row counts vary with round-robin skew)
    assert len(batches) == 3 and sum(n for _b, n in batches) == 60
    assert max(n for _b, n in batches) <= 25  # never >2 files' worth
    assert read_table(spark, dst).select("k").distinct().count() == 60
    # the intermediate offsets split v0 on a file index
    import json as _json

    offs = []
    for f in sorted(glob.glob(os.path.join(ckpt, "offsets", "*"))):
        if os.path.basename(f).isdigit():
            with open(f) as fh:
                lines = [ln.strip() for ln in fh if ln.strip()]
            offs += [
                _json.loads(ln) for ln in lines[2:] if ln.startswith("{")
            ]
    # every offset carries the index; the split ones stop inside v0
    assert all(o.keys() == {"version", "index"} for o in offs), offs
    assert {"version": 0, "index": 2} in offs
    # the final offset lands on the boundary: v0 fully consumed
    assert {"version": 1, "index": 0} in offs


def test_bytes_budget_admits_at_least_one_file(spark, tmp_path):
    """maxBytesPerTrigger smaller than any file still makes progress —
    one file per batch, never a stall."""
    src = str(tmp_path / "src")
    for i in range(3):  # one file per commit
        batch = spark.range(i * 10, i * 10 + 10).select(
            F.col("id").alias("k"), F.lit(i).cast("long").alias("b")
        )
        append_files(spark, batch.coalesce(1), src, cols=["k"])
    dst = str(tmp_path / "dst")
    batches = _drain_runs(
        spark, src, dst, str(tmp_path / "ck"), "by",
        max_bytes_per_trigger=1, max_files_per_trigger=0,
    )
    # every batch carries exactly one file's rows
    assert [n for _b, n in batches] == [10, 10, 10]
    assert read_table(spark, dst).select("k").distinct().count() == 30


def test_offset_wire_shapes_round_trip():
    """Offsets have one wire shape, {'version': v, 'index': i}: boundary
    and split positions both round-trip through the linear position,
    and an offset in any other shape (the index-less boundary form
    included) raises, naming the offset."""
    from evmtrace_etl_spark.sources.lake_changes import (
        _emit_pos,
        _norm_pos,
    )

    assert _emit_pos((3, 0)) == {"version": 3, "index": 0}
    assert _emit_pos(_norm_pos({"version": 3, "index": 4})) == {
        "version": 3,
        "index": 4,
    }
    assert _norm_pos({"version": 0, "index": 1}) < _norm_pos(
        {"version": 0, "index": 2}
    ) < _norm_pos({"version": 1, "index": 0}) == (1, 0)
    for bad in (
        {"version": 2},
        {"index": 0},
        {"version": 2, "index": 0, "x": 1},
    ):
        with pytest.raises(ValueError, match="lake_changes offset"):
            _norm_pos(bad)


def test_recover_pos_corrupt_offsets_falls_back_to_none(tmp_path):
    """An offsets dir that EXISTS but yields no parseable offset
    (corrupt/in-flight file, or a checkpoint_location that is not this
    query's checkpoint) recovers to None — the regression-safe
    unbounded-first-batch fallback — NOT to (start, 0), which would
    emit a latestOffset BEHIND the checkpointed position and re-serve
    consumed commits as duplicates.  (start, 0) is reserved for the
    genuinely-fresh no-offsets-dir checkpoint."""
    from pyspark.sql import types as T

    from evmtrace_etl_spark.sources.lake_changes import (
        LakeChangesStreamReader,
    )

    schema = T.StructType([T.StructField("k", T.LongType())])

    ck = tmp_path / "ck"
    (ck / "offsets").mkdir(parents=True)
    (ck / "offsets" / "0").write_text("v1\n{}\nnot json at all\n")
    rdr = LakeChangesStreamReader(
        schema,
        {
            "path": str(tmp_path / "tbl"),
            "checkpoint_location": str(ck),
            "starting_version": "0",
        },
    )
    assert rdr._recover_pos() is None

    ck2 = tmp_path / "ck2"
    ck2.mkdir()
    rdr2 = LakeChangesStreamReader(
        schema,
        {
            "path": str(tmp_path / "tbl"),
            "checkpoint_location": str(ck2),
            "starting_version": "0",
        },
    )
    assert rdr2._recover_pos() == (0, 0)

    # Spark pre-creates an EMPTY offsets dir before the first
    # latestOffset — still genuinely fresh: the admission budget must
    # apply from the very first trigger
    ck3 = tmp_path / "ck3"
    (ck3 / "offsets").mkdir(parents=True)
    rdr3 = LakeChangesStreamReader(
        schema,
        {
            "path": str(tmp_path / "tbl"),
            "checkpoint_location": str(ck3),
            "starting_version": "0",
        },
    )
    assert rdr3._recover_pos() == (0, 0)
