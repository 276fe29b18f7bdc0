"""Small-file compaction through the lake log (``sinks.compact_table``):
the file-count math on flat tables, exact content preservation, and
the per-partition file budget on hive-partitioned tables."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from evmtrace_etl_spark.sinks import (
    append_files,
    compact_table,
    current_manifest,
    read_table,
)


def _data_files(path: str) -> list[str]:
    return [
        f
        for f in os.listdir(path)
        if not (f.startswith("_") or f.startswith("."))
        and os.path.isfile(os.path.join(path, f))
    ]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, f)) for f in _data_files(path))


def _fragmented(spark, tbl: str, df, n_appends: int, pcol: str) -> None:
    """Land ``df`` as ``n_appends`` appends to a table partitioned by
    ``pcol``: one small file per partition directory per append (rows
    split by a hash of ``v``, independent of the partition value)."""
    for i in range(n_appends):
        append_files(
            spark,
            df.filter(F.pmod(F.hash("v"), F.lit(n_appends)) == i),
            tbl,
            cols=["v"],
            partition_by=[pcol],
        )


def test_compact_repartition_even_files(spark, tmp_path):
    tbl = str(tmp_path / "t")
    df = spark.range(20_000).withColumn("v", F.col("id") * 2)
    append_files(spark, df.repartition(64), tbl, cols=["id"])
    assert len(_data_files(tbl)) == 64

    target = -(-_dir_bytes(tbl) // 4)  # aim for ~4 output files
    led = compact_table(spark, tbl, target_bytes=target)

    assert led["files_rewritten"] == 64
    assert led["n_target_files"] in (4, 5)  # ceil of measured bytes
    # a flat table round-robins into exactly n non-empty files
    assert led["files_added"] == led["n_target_files"]
    assert len(_data_files(tbl)) == led["files_added"]
    assert led["rows_before"] == led["rows_after"] == 20_000

    # content preserved exactly
    got = sorted(tuple(r) for r in read_table(spark, tbl).collect())
    want = sorted(tuple(r) for r in df.collect())
    assert got == want


def test_compact_retained_table_picks_live_files(spark, tmp_path):
    """On a retain_removed table the files a rewrite replaced stay on
    disk for time travel; compaction takes its candidates from the head
    snapshot, so those retained files are never re-packed, and
    compacting a table that holds one live file is a no-op."""
    tbl = str(tmp_path / "t")
    for i in range(8):
        append_files(
            spark,
            spark.range(i * 100, (i + 1) * 100).coalesce(1),
            tbl,
            cols=["id"],
            retain_removed=True,
            keep_versions=10,
        )
    first = compact_table(spark, tbl, target_bytes=1 << 30)
    assert (first["files_rewritten"], first["files_added"]) == (8, 1)
    (live,) = current_manifest(tbl)["file"].to_pylist()
    assert len(_data_files(tbl)) == 9  # the 8 replaced files retained

    second = compact_table(spark, tbl, target_bytes=1 << 30)
    assert second["files_rewritten"] == second["files_added"] == 0
    assert second["bytes_in"] == os.path.getsize(live)
    assert read_table(spark, tbl).count() == 800


def test_compact_partitioned_preserves_layout_and_budgets(spark, tmp_path):
    tbl = str(tmp_path / "pt")
    df = spark.range(8_000).select(
        (F.col("id") % 4).alias("chain_id"),
        F.col("id").alias("v"),
        (F.col("id") * 3).alias("w"),
    )
    # 16 small files in each of the 4 partition dirs
    _fragmented(spark, tbl, df, 16, "chain_id")
    dirs = {c: os.path.join(tbl, f"chain_id={c}") for c in range(4)}
    assert all(len(_data_files(d)) == 16 for d in dirs.values())
    want = sorted(tuple(r) for r in read_table(spark, tbl).collect())

    # target = half a partition's bytes → per-partition budget n_i == 2
    sizes = {c: _dir_bytes(d) for c, d in dirs.items()}
    target = -(-max(sizes.values()) // 2)
    budgets = {c: max(1, -(-b // target)) for c, b in sizes.items()}
    led = compact_table(spark, tbl, target_bytes=target)
    assert led["files_rewritten"] == 64
    assert led["partitioned"]
    assert led["n_target_files"] == sum(budgets.values()) <= 8
    # hive layout preserved, each dir within its budget (salt may leave
    # a value empty, never over-full) — a global repartition(8) would
    # land up to 8 files in every dir
    for c, d in dirs.items():
        assert 1 <= len(_data_files(d)) <= budgets[c], (c, budgets[c])
    assert led["files_added"] <= led["n_target_files"]

    # content (including the partition column) preserved exactly
    got = sorted(tuple(r) for r in read_table(spark, tbl).collect())
    assert got == want and len(got) == 8_000

    # and a filter on the partition column still prunes directories
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        spark.read.parquet(tbl).filter(F.col("chain_id") == 2).explain(
            mode="formatted"
        )
    assert "PartitionFilters" in buf.getvalue()


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@given(
    parts=st.lists(st.integers(50, 300), min_size=2, max_size=4),
    frag=st.integers(2, 4),
    divisor=st.integers(1, 5),
)
@settings(
    max_examples=5,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_partitioned_compaction_roundtrip_property(
    spark, tmp_path_factory, parts, frag, divisor
):
    """Property: for ANY partition sizing/fragmentation/target,
    ``compact_table`` on a hive-partitioned table (a) round-trips the
    data exactly, (b) keeps the exact set of partition dirs, and
    (c) never exceeds the per-partition file budget ceil(bytes_i /
    target) computed here independently from the on-disk sizes."""
    tbl = os.path.join(str(tmp_path_factory.mktemp("pcomp")), "t")
    rows = [(p, p * 100_000 + i) for p, n in enumerate(parts) for i in range(n)]
    df = spark.createDataFrame(rows, "p: int, v: long")
    _fragmented(spark, tbl, df, frag, "p")

    dirs = sorted(d for d in os.listdir(tbl) if d.startswith("p="))
    sizes = {d: _dir_bytes(os.path.join(tbl, d)) for d in dirs}
    target = max(1, max(sizes.values()) // divisor)
    led = compact_table(spark, tbl, target_bytes=target)

    budgets = {d: max(1, -(-b // target)) for d, b in sizes.items()}
    assert led["n_target_files"] == sum(budgets.values())
    assert sorted(d for d in os.listdir(tbl) if d.startswith("p=")) == dirs
    for d in dirs:
        n = len(_data_files(os.path.join(tbl, d)))
        assert 1 <= n <= budgets[d], (d, n, budgets[d])

    got = read_table(spark, tbl).select(*df.columns).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, df.collect()))
