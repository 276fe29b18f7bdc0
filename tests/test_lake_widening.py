"""Type-widening schema evolution (Delta's lattice: byte/short/int →
long, float → double, decimal precision growth): a batch arriving
WIDER on a shared column widens the stored type as part of its own
commit — old files stay byte-untouched and upcast under the explicit
evolved schema at read time; a NARROWER batch casts up at write.
Lossy changes still refuse."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from evmtrace_etl_spark import sinks
from evmtrace_etl_spark.sinks import (
    append_files,
    merge_into,
    read_table,
    rename_column,
)


def _seed_int(spark, tmp_path, **kw) -> str:
    tbl = str(tmp_path / "tbl")
    df = spark.range(0, 100).select(
        F.col("id").cast("int").alias("k"),
        F.col("id").cast("float").alias("v"),
    )
    append_files(
        spark, df.coalesce(1), tbl, cols=["k"], keep_versions=10, **kw
    )
    return tbl


def _mtimes(tbl: str) -> dict[str, float]:
    return {
        p: os.path.getmtime(p)
        for p in glob.glob(tbl + "/*.parquet")
    }


def test_wider_batch_widens_stored_type_without_rewrites(spark, tmp_path):
    tbl = _seed_int(spark, tmp_path)
    before = _mtimes(tbl)
    big = spark.range(3_000_000_000, 3_000_000_005).select(
        F.col("id").alias("k"),  # long — beyond int range
        F.col("id").cast("double").alias("v"),
    )
    append_files(spark, big.coalesce(1), tbl)
    # the seed files were not rewritten; the schema widened
    for p, mt in before.items():
        assert os.path.getmtime(p) == mt
    schema = sinks.committed_schema(tbl)
    assert schema["k"].dataType == T.LongType()
    assert schema["v"].dataType == T.DoubleType()
    t = read_table(spark, tbl)
    assert t.schema["k"].dataType == T.LongType()
    assert t.count() == 105
    assert t.filter("k >= 3000000000").count() == 5
    assert t.filter("k = 50 AND v = 50.0").count() == 1  # upcast read


def test_narrower_batch_casts_up_at_write(spark, tmp_path):
    tbl = str(tmp_path / "long")
    df = spark.range(0, 50).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )
    append_files(spark, df.coalesce(1), tbl, cols=["k"], keep_versions=10)
    narrow = spark.range(100, 110).select(
        F.col("id").cast("int").alias("k"),
        F.col("id").cast("float").alias("v"),
    )
    append_files(spark, narrow.coalesce(1), tbl)
    schema = sinks.committed_schema(tbl)
    assert schema["k"].dataType == T.LongType()  # unchanged
    t = read_table(spark, tbl)
    assert t.count() == 60 and t.filter("k = 105").count() == 1


def test_lossy_change_still_refuses(spark, tmp_path):
    tbl = _seed_int(spark, tmp_path)
    bad = spark.range(5).select(
        F.col("id").cast("string").alias("k"),
        F.col("id").cast("float").alias("v"),
    )
    with pytest.raises(ValueError, match="widening"):
        append_files(spark, bad, tbl)
    # long -> float is lossy too (not in the lattice)
    bad2 = spark.range(5).select(
        F.col("id").cast("int").alias("k"),
        F.col("id").cast("string").alias("v"),
    )
    with pytest.raises(ValueError, match="widening"):
        append_files(spark, bad2, tbl)


def test_widening_composes_with_column_mapping_and_merge(spark, tmp_path):
    """A renamed (mapped) column widens too — the metadata (id +
    physical name) rides the widened field — and a MERGE with a wider
    source widens through the merge commit."""
    tbl = _seed_int(spark, tmp_path)
    rename_column(spark, tbl, "v", "val")
    led = merge_into(
        spark,
        spark.range(50, 120).select(
            F.col("id").alias("k"),  # long source on the int table
            F.lit(-1.0).alias("val"),  # double on the float column
        ),
        tbl,
        keys=["k"],
    )
    assert led["rows_updated"] == 50 and led["rows_inserted"] == 20
    schema = sinks.committed_schema(tbl)
    assert schema["k"].dataType == T.LongType()
    assert schema["val"].dataType == T.DoubleType()
    f = schema["val"]
    assert f.metadata.get("lake.phys") == "v"  # mapping survived
    t = read_table(spark, tbl)
    assert t.count() == 120 and t.filter("val = -1.0").count() == 70


def test_decimal_precision_growth(spark, tmp_path):
    tbl = str(tmp_path / "dec")
    df = spark.range(0, 10).select(
        F.col("id").alias("k"),
        F.col("id").cast("decimal(10,2)").alias("d"),
    )
    append_files(spark, df.coalesce(1), tbl, cols=["k"], keep_versions=10)
    wide = spark.range(100, 105).select(
        F.col("id").alias("k"),
        F.col("id").cast("decimal(20,2)").alias("d"),
    )
    append_files(spark, wide.coalesce(1), tbl)
    schema = sinks.committed_schema(tbl)
    assert schema["d"].dataType == T.DecimalType(20, 2)
    assert read_table(spark, tbl).agg(F.sum("d")).collect()[0][0] is not None
    # scale change is NOT widening (rescaling rewrites values)
    bad = spark.range(5).select(
        F.col("id").alias("k"),
        F.col("id").cast("decimal(20,4)").alias("d"),
    )
    with pytest.raises(ValueError, match="widening"):
        append_files(spark, bad, tbl)


def test_time_travel_serves_pre_widening_schema(spark, tmp_path):
    tbl = _seed_int(spark, tmp_path, retain_removed=True)
    append_files(
        spark,
        spark.range(3_000_000_000, 3_000_000_003).select(
            F.col("id").alias("k"), F.lit(0.5).alias("v")
        ),
        tbl,
    )
    t0 = read_table(spark, tbl, version=0)
    assert t0.schema["k"].dataType == T.IntegerType()
    assert t0.count() == 100
    t1 = read_table(spark, tbl, version=1)
    assert t1.schema["k"].dataType == T.LongType()
    assert t1.count() == 103
