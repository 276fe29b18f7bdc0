"""TIMESTAMP AS OF time travel over the snapshot log: commit markers
carry a monotone wall-clock ``ts`` stamp, ``version_at_timestamp``
resolves an instant to the snapshot that was current then, and
``read_table(as_of_timestamp=...)`` / ``restore_table(
as_of_timestamp=...)`` ride the same resolution — Delta's
``TIMESTAMP AS OF`` / ``RESTORE ... TIMESTAMP AS OF`` analogs over
bare parquet."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from evmtrace_etl_spark.lake_log import manifest_dir
from evmtrace_etl_spark.sinks import (
    append_files,
    delete_where,
    merge_into,
    read_table,
    restore_table,
    table_changes,
    table_history,
    version_at_timestamp,
)


def _three_commits(spark, tmp_path) -> str:
    tbl = str(tmp_path / "tbl")
    for lo in (0, 100, 200):
        df = spark.range(lo, lo + 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        append_files(spark, df.coalesce(1), tbl, cols=["k"], keep_versions=10)
    return tbl


def test_history_ts_strictly_increasing(spark, tmp_path):
    """Every commit stamps a wall-clock ts strictly above its
    predecessor's (clock-skew clamp), and table_history surfaces it."""
    tbl = _three_commits(spark, tmp_path)
    hist = table_history(tbl)
    assert [h["version"] for h in hist] == [0, 1, 2]
    ts = [h["ts"] for h in hist]
    assert ts[0] < ts[1] < ts[2]
    # sane wall-clock values, not counters
    assert all(t > 1.5e9 for t in ts)


def test_read_table_timestamp_as_of(spark, tmp_path):
    """as_of_timestamp serves the snapshot that was current at the
    instant: exact commit times hit their version, midpoints resolve
    DOWN, the far future resolves to head, and an instant before the
    first retained commit refuses rather than serving a newer lie."""
    tbl = _three_commits(spark, tmp_path)
    hist = table_history(tbl)
    by_v = {h["version"]: h["ts"] for h in hist}

    for v, expect_rows in ((0, 100), (1, 200), (2, 300)):
        got = read_table(spark, tbl, as_of_timestamp=by_v[v])
        assert got.count() == expect_rows
    # midpoint between v0 and v1 -> still v0
    mid = (by_v[0] + by_v[1]) / 2.0
    assert version_at_timestamp(tbl, mid) == 0
    assert read_table(spark, tbl, as_of_timestamp=mid).count() == 100
    # far future -> head
    assert version_at_timestamp(tbl, by_v[2] + 3600) == 2
    # before the oldest retained commit -> refuse
    with pytest.raises(ValueError, match="predates"):
        version_at_timestamp(tbl, by_v[0] - 1.0)
    # version= and as_of_timestamp= are mutually exclusive
    with pytest.raises(ValueError, match="mutually exclusive"):
        read_table(spark, tbl, version=1, as_of_timestamp=by_v[1])


def test_restore_timestamp_as_of(spark, tmp_path):
    """RESTORE ... TIMESTAMP AS OF: restoring to v1's commit instant
    equals restoring to v1, moving history FORWARD as a new commit."""
    tbl = _three_commits(spark, tmp_path)
    ts_v1 = {h["version"]: h["ts"] for h in table_history(tbl)}[1]
    led = restore_table(spark, tbl, as_of_timestamp=ts_v1, keep_versions=10)
    assert led["restored_to"] == 1
    assert led["version"] == 3
    assert read_table(spark, tbl).count() == 200
    # exactly one of version / as_of_timestamp
    with pytest.raises(ValueError, match="exactly one"):
        restore_table(spark, tbl)
    with pytest.raises(ValueError, match="exactly one"):
        restore_table(spark, tbl, version=1, as_of_timestamp=ts_v1)


def test_history_operation_labels(spark, tmp_path):
    """DESCRIBE HISTORY's operation column: every commit carries the
    op that made it (pure observability — the engine never reads it
    back)."""
    tbl = _three_commits(spark, tmp_path)
    merge_into(
        spark,
        spark.range(5).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
        ),
        tbl,
        keys=["k"],
        keep_versions=10,
    )
    delete_where(spark, tbl, {"k": (290, 299)}, keep_versions=10)
    ops = [h["op"] for h in table_history(tbl)]
    assert ops == [
        "append",
        "append",
        "append",
        "merge (update, copy-on-write)",
        "delete",
    ]


def test_table_changes_since_timestamp(spark, tmp_path):
    """CDF startingTimestamp: since_timestamp resolves to the snapshot
    current at that instant and serves exactly the changes AFTER it —
    identical to the since_version form; exactly one of the two is
    required."""
    tbl = _three_commits(spark, tmp_path)
    ts_v0 = table_history(tbl)[0]["ts"]
    by_v = table_changes(spark, tbl, 0)
    by_ts = table_changes(spark, tbl, since_timestamp=ts_v0)
    assert by_v.count() == by_ts.count() == 200
    assert sorted(r["k"] for r in by_ts.collect()) == sorted(
        r["k"] for r in by_v.collect()
    )
    with pytest.raises(ValueError, match="exactly one"):
        table_changes(spark, tbl)
    with pytest.raises(ValueError, match="exactly one"):
        table_changes(spark, tbl, 0, since_timestamp=ts_v0)


def test_timestamp_resolves_across_carried_backlog(
    spark, tmp_path, monkeypatch
):
    """A crash between a rewrite's commit and its sweep leaves the
    removal in every LATER commit's carried pending backlog (the
    backlog rides forward until a sweep reclaims the files).  On a
    zero-retention table, resolving a timestamp to one of those later
    snapshots must NOT spuriously refuse: the carried entries were
    removed AT OR BEFORE the resolution point, so the resolved
    snapshot never referenced them.  Only removals NEW above the
    resolution point make it unserveable."""
    import evmtrace_etl_spark.sinks as sinks

    tbl = str(tmp_path / "carry")
    df0 = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    append_files(spark, df0.coalesce(1), tbl, cols=["k"], keep_versions=10)

    # disable BOTH sweep halves so v1's removal carries forward in the
    # v2/v3 markers exactly like a crashed-then-busy table
    monkeypatch.setattr(sinks, "_post_commit_sweep", lambda *a, **kw: [])
    monkeypatch.setattr(sinks, "_sweep_removed", lambda *a, **kw: [])
    delete_where(spark, tbl, {"k": (0, 9)}, keep_versions=10)  # v1
    for lo in (1000, 2000):  # v2, v3 — pure appends carrying the backlog
        df = spark.range(lo, lo + 50).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        append_files(spark, df.coalesce(1), tbl, cols=["k"], keep_versions=10)
    monkeypatch.undo()

    hist = {h["version"]: h["ts"] for h in table_history(tbl)}
    # v3's marker really does carry v1's removal (the scenario exists)
    marker = json.loads(
        open(os.path.join(manifest_dir(tbl), "v3", "_COMMIT")).read()
    )
    assert marker.get("pending"), "backlog should carry into v3"

    # the fix: v2/v3 resolve fine (their snapshots never referenced
    # the files v1 removed) and the data serves
    assert version_at_timestamp(tbl, hist[2]) == 2
    assert version_at_timestamp(tbl, hist[3] + 3600) == 3
    assert (
        read_table(spark, tbl, as_of_timestamp=hist[2]).count() == 140
    )
    # the genuine refusal is intact: v0 predates v1's FRESH removal
    with pytest.raises(ValueError, match="no longer serveable"):
        version_at_timestamp(tbl, hist[0])
