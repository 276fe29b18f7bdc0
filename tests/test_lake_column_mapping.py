"""Column mapping (``rename_column``): a rename is a METADATA-ONLY
commit — per-field stable ids + physical names ride the committed
schema, data files store physical names forever, and readers project
physical → logical per snapshot.  (Retired physical names that an
older build's column drop left in the mapping are covered in
``test_lake_protocol.py::test_older_stamps_keep_working``.)"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from evmtrace_etl_spark import sinks
from evmtrace_etl_spark.sinks import (
    append_files,
    merge_into,
    read_table,
    rename_column,
)

# r15: deep scenario module — full-tier only (see tests/conftest.py)
pytestmark = pytest.mark.slow


def _seed(spark, tmp_path, **kw) -> str:
    tbl = str(tmp_path / "tbl")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    append_files(
        spark, df.coalesce(1), tbl, cols=["k"], keep_versions=10, **kw
    )
    return tbl


def _mtimes(tbl: str) -> dict[str, float]:
    return {
        p: os.path.getmtime(p)
        for p in glob.glob(tbl + "/**/*.parquet", recursive=True)
        if "_stats_manifest" not in p
    }


def test_rename_is_metadata_only_and_serves_new_name(spark, tmp_path):
    tbl = _seed(spark, tmp_path)
    before = _mtimes(tbl)
    led = rename_column(spark, tbl, "v", "val")
    assert led["renamed"] == ["v", "val"]
    assert _mtimes(tbl) == before  # zero data bytes touched
    t = read_table(spark, tbl)
    assert t.columns == ["k", "val"]
    assert t.filter("val = 500").count() == 1
    # appends under the new name land; the old name is gone
    append_files(
        spark,
        spark.range(100, 110).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("val")
        ),
        tbl,
    )
    t = read_table(spark, tbl)
    assert t.count() == 110 and t.filter("val = -1").count() == 10
    with pytest.raises(Exception):
        t.select("v").collect()


def test_rename_of_stats_column_keeps_pruning(spark, tmp_path):
    """Renaming the file-skipping stats column rewrites the
    (metadata-sized) manifest once; predicates on the NEW name still
    prune files and read exact values."""
    tbl = str(tmp_path / "clustered")
    df = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    for i in range(4):  # 4 files tiling k
        append_files(
            spark,
            df.filter(
                (F.col("k") >= i * 100) & (F.col("k") < (i + 1) * 100)
            ).coalesce(1),
            tbl,
            cols=["k"] if i == 0 else None,
            keep_versions=10,
        )
    before = _mtimes(tbl)
    rename_column(spark, tbl, "k", "key")
    assert _mtimes(tbl) == before
    m = sinks.current_manifest(tbl)
    assert "key_min" in m.column_names and "k_min" not in m.column_names
    kept = sinks.prune_files(m, {"key": (0, 99)})
    assert len(kept) == 1  # pruning tightened under the new name
    t = read_table(spark, tbl, predicates={"key": (0, 99)})
    assert t.count() == 100 and t.columns == ["key", "v"]


def test_time_travel_serves_each_snapshot_under_its_own_schema(
    spark, tmp_path
):
    tbl = _seed(spark, tmp_path, retain_removed=True)
    rename_column(spark, tbl, "v", "val")  # v1
    rename_column(spark, tbl, "val", "amount")  # v2
    t0 = read_table(spark, tbl, version=0)
    assert t0.columns == ["k", "v"] and t0.filter("v = 500").count() == 1
    t1 = read_table(spark, tbl, version=1)
    assert t1.columns == ["k", "val"]
    assert t1.filter("val = 500").count() == 1
    t2 = read_table(spark, tbl, version=2)
    assert t2.columns == ["k", "amount"]
    assert t2.filter("amount = 500").count() == 1


def test_cdc_and_stream_serve_across_rename(spark, tmp_path):
    """Change-data sidecars store physical names too: the feed and the
    commit-log stream serve every commit — pre- and post-rename —
    under the CURRENT logical schema."""
    tbl = _seed(spark, tmp_path, enable_cdf=True)  # v0 insert sidecar
    rename_column(spark, tbl, "v", "val")  # v1 metadata-only
    merge_into(
        spark,
        spark.range(5).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("val")
        ),
        tbl,
        keys=["k"],
    )  # v2 rewrite with CDC
    feed = sinks.table_changes(spark, tbl, 0, change_feed=True)
    assert "val" in feed.columns and "v" not in feed.columns
    pre = feed.filter("_change_type = 'update_preimage'")
    assert pre.count() == 5
    assert {r["val"] for r in pre.collect()} == {0, 10, 20, 30, 40}

    from evmtrace_etl_spark.sources.lake_changes import (
        start_lake_changes_stream,
    )

    got: list = []
    q = start_lake_changes_stream(
        spark,
        tbl,
        lambda b, i: got.extend(
            (r["_change_type"], r["val"]) for r in b.collect()
        ),
        str(tmp_path / "ck"),
        change_feed=True,
    )
    q.awaitTermination(120)
    assert ("update_postimage", -1) in got
    assert sum(1 for ct, _v in got if ct == "insert") == 100


def test_mapped_ddl_guards(spark, tmp_path):
    tbl = str(tmp_path / "guards")
    df = spark.range(0, 60).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("p"),
        (F.col("id") * 10).alias("v"),
    )
    append_files(
        spark, df, tbl, cols=["k"], partition_by=["p"], keep_versions=10
    )
    with pytest.raises(ValueError, match="partition column"):
        rename_column(spark, tbl, "p", "q")
    sinks.add_table_constraint(spark, tbl, "v_ok", "v >= 0")
    with pytest.raises(ValueError, match="constraint"):
        rename_column(spark, tbl, "v", "w")
    merge_into(
        spark,
        spark.range(3).select(
            F.col("id").alias("k"),
            F.lit(0).cast("int").alias("p"),
            F.lit(1).cast("long").alias("v"),
        ),
        tbl, keys=["k"], strategy="merge-on-read",
    )
    with pytest.raises(ValueError, match="deletion-vector"):
        rename_column(spark, tbl, "k", "kk")
    sinks.materialize_deletes(spark, tbl)
    with pytest.raises(ValueError, match="already exists"):
        rename_column(spark, tbl, "v", "k")
    with pytest.raises(ValueError, match="no column"):
        rename_column(spark, tbl, "nope", "x")
    # unblocked after materialize: the rename lands
    rename_column(spark, tbl, "k", "kk")
    assert read_table(spark, tbl).columns == ["kk", "p", "v"]


def test_merge_and_mor_delete_on_mapped_table(spark, tmp_path):
    """The full write surface keeps working under an active mapping:
    copy-on-write merge rewrites under physical names, merge-on-read
    and MOR delete tombstone on the logical keys, and the serve path
    stays exact."""
    tbl = _seed(spark, tmp_path)
    rename_column(spark, tbl, "v", "val")
    led = merge_into(
        spark,
        spark.range(50, 120).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("val")
        ),
        tbl,
        keys=["k"],
    )
    assert led["rows_updated"] == 50 and led["rows_inserted"] == 20
    t = read_table(spark, tbl)
    assert t.count() == 120 and t.filter("val = -1").count() == 70
    led = sinks.delete_where(
        spark, tbl, {"val": -1}, strategy="merge-on-read",
        keys=["k"],
    )
    assert led["rows_deleted"] == 70 and led["files_added"] == 0
    assert read_table(spark, tbl).count() == 50
    # evolution on the mapped table: a brand-new column maps cleanly
    append_files(
        spark,
        spark.range(300, 310).select(
            F.col("id").alias("k"),
            F.lit(9).cast("long").alias("val"),
            F.lit("x").alias("tag"),
        ),
        tbl,
    )
    t = read_table(spark, tbl)
    assert t.columns == ["k", "val", "tag"]
    assert t.filter("tag = 'x'").count() == 10


def test_constraint_guard_resolves_structurally(spark, tmp_path):
    """The rename constraint guard resolves column references
    through the SQL analyzer, not a text regex: a column name that
    appears only INSIDE A STRING LITERAL of a constraint expression
    does not block a legal rename, while genuine references — plain,
    backquoted, or merely case-different — still refuse."""
    tbl = str(tmp_path / "structguard")
    df = spark.range(0, 40).select(
        F.col("id").alias("k"),
        F.lit("open").alias("status"),
        (F.col("id") * 10).alias("v"),
    )
    append_files(spark, df, tbl, cols=["k"], keep_versions=10)
    # the literal contains the TOKEN v (and the word status) — the old
    # regex guard would have blocked renaming v
    sinks.add_table_constraint(
        spark, tbl, "status_known", "status IN ('open', 'v closed')"
    )
    got = rename_column(spark, tbl, "v", "amount")  # legal: not referenced
    assert got["renamed"] == ["v", "amount"]
    with pytest.raises(ValueError, match="constraint"):
        rename_column(spark, tbl, "status", "state")  # genuine reference
    # backquoted reference is still a reference
    sinks.add_table_constraint(spark, tbl, "amt_ok", "`amount` >= 0")
    with pytest.raises(ValueError, match="constraint"):
        rename_column(spark, tbl, "amount", "amt")
    # and an unreferenced column renames fine under both constraints
    rename_column(spark, tbl, "k", "key")
    assert read_table(spark, tbl).columns == ["key", "status", "amount"]
