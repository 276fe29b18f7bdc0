"""File-skipping stats index (``sinks.parquet_stats_index`` /
``prune_files`` / ``read_table`` predicates): the manifest half of a
lakehouse table format — footer-only per-file min/max, file-level
pruning BEFORE the scan plan, result-identical to the unpruned read.
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type

from evmtrace_etl_spark.lake_log import manifest_dir
from evmtrace_etl_spark.sinks import (
    append_files,
    cluster_table,
    current_manifest,
    parquet_stats_index,
    prune_files,
    read_table,
)
import pytest

# r15: deep scenario module — full-tier only (see tests/conftest.py)
pytestmark = pytest.mark.slow


def _events(spark):
    return spark.range(0, 20_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("grp"),
        (F.col("id") * 2).cast("double").alias("v"),
    )


def _stats_rows(index) -> list[tuple]:
    """A manifest's (or stats index's) rows as sorted tuples, without
    the log's ``added_version`` bookkeeping column."""
    cols = [c for c in index.column_names if c != "added_version"]
    return sorted(tuple(r[c] for c in cols) for r in index.to_pylist())


def _build(spark, tmp_path, n_files: int = 8):
    """Plain parquet directory of an events-like table range-partitioned
    on ``k`` into ``n_files`` sorted files, so the files tile disjoint
    k-ranges — the layout file skipping is exact on."""
    dst = str(tmp_path / "clustered")
    _events(spark).repartitionByRange(n_files, "k").sortWithinPartitions(
        "k"
    ).write.parquet(dst)
    return dst


def _build_lake(spark, tmp_path, n_files: int = 8, **kw):
    """The same table through the lake log: landed by ``append_files``
    (stats on ``k`` and ``v``), then clustered on ``k`` into ~n_files
    files by ``cluster_table``."""
    dst = str(tmp_path / "lake")
    append_files(spark, _events(spark).repartition(5), dst, cols=["k", "v"])
    sz = sum(
        os.path.getsize(p) for p in glob.glob(dst + "/part-*.parquet")
    )
    cluster_table(spark, dst, ["k"], target_bytes=max(1, sz // n_files), **kw)
    return dst


def test_index_one_row_per_file_and_exact_counts(spark, tmp_path):
    dst = _build(spark, tmp_path)
    idx = parquet_stats_index(spark, dst, ["k", "v"])
    files = glob.glob(dst + "/part-*.parquet")
    rows = idx.to_pylist()
    assert len(rows) == len(files)
    assert sum(r["n_rows"] for r in rows) == 20_000
    # spans cover the data exactly
    assert min(r["k_min"] for r in rows) == 0
    assert max(r["k_max"] for r in rows) == 19_999
    # typed as the source columns
    assert idx.schema.field("k_min").type == pa.int64()
    assert idx.schema.field("v_max").type == pa.float64()


def test_pruned_read_skips_files_and_matches_full_scan(spark, tmp_path):
    dst = _build_lake(spark, tmp_path)
    idx = current_manifest(dst)
    total = idx.num_rows
    assert total >= 4  # the skipping claim needs >1 file
    pred = {"k": (3_000, 4_000)}
    kept = prune_files(idx, pred)
    assert 0 < len(kept) < total, (len(kept), total)
    pruned = read_table(spark, dst, pred)
    assert len(pruned.inputFiles()) == len(kept)
    got = sorted(tuple(r) for r in pruned.collect())
    want = sorted(
        tuple(r)
        for r in spark.read.parquet(dst)
        .filter(F.col("k").between(3_000, 4_000))
        .collect()
    )
    assert got == want and len(got) == 1_001


def test_zero_matching_files_yields_empty_with_schema(spark, tmp_path):
    dst = _build_lake(spark, tmp_path)
    out = read_table(spark, dst, {"k": (10**9, 10**9 + 5)})
    assert out.count() == 0
    assert out.columns == ["k", "grp", "v"]


def test_multi_column_predicates_intersect(spark, tmp_path):
    dst = _build_lake(spark, tmp_path)
    idx = current_manifest(dst)
    # v = 2k, so k in [3000, 4000] & v in [0, 6500] -> k in [3000, 3250]
    pred = {"k": (3_000, 4_000), "v": (0.0, 6_500.0)}
    got = read_table(spark, dst, pred)
    assert got.count() == 251
    assert len(prune_files(idx, pred)) <= len(
        prune_files(idx, {"k": (3_000, 4_000)})
    )


def test_timestamp_columns_get_real_parquet_stats(spark, tmp_path):
    """Engine sessions write TIMESTAMP_MICROS: Spark's INT96 default is
    a deprecated parquet type that gets NO min/max statistics, which
    silently disables BOTH row-group pruning and file skipping on every
    time column — measured as all-NULL manifest spans before the
    session conf pinned the encoding."""
    dst = str(tmp_path / "ts")
    spark.sql(
        "SELECT timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,id) AS ts"
        " FROM range(1000)"
    ).repartition(2).write.parquet(dst)
    rows = parquet_stats_index(spark, dst, ["ts"]).to_pylist()
    assert rows and all(r["ts_min"] is not None for r in rows)
    assert min(r["ts_min"] for r in rows).year == 2024


def test_update_stats_index_incremental(spark, tmp_path):
    """Incremental manifest maintenance: new files get footer-read,
    already-indexed rows carry byte-identical, deleted files drop, and
    the updated manifest equals a from-scratch rebuild."""
    dst = _build(spark, tmp_path)
    from evmtrace_etl_spark.sinks import update_stats_index

    led = update_stats_index(spark, dst, ["k"])
    assert led["files_new"] == led["files_total"] >= 4
    assert led["files_removed"] == led["files_carried"] == 0

    original = set(glob.glob(dst + "/part-*.parquet"))
    # append two files outside the existing key range
    spark.range(100_000, 101_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("grp"),
        (F.col("id") * 2).cast("double").alias("v"),
    ).repartition(2).write.mode("append").parquet(dst)
    # and remove one ORIGINAL file (a compaction would do this)
    os.remove(sorted(original)[0])

    led = update_stats_index(spark, dst, ["k"])
    assert led["files_new"] == 2
    assert led["files_removed"] == 1
    assert led["files_carried"] == led["files_total"] - 2

    from evmtrace_etl_spark.sinks import current_manifest

    got = _stats_rows(current_manifest(dst))
    want = _stats_rows(parquet_stats_index(spark, dst, ["k"]))
    assert got == want
    # and the maintained manifest prunes correctly for the new range
    kept = prune_files(
        current_manifest(dst), {"k": (100_000, 200_000)}
    )
    assert 0 < len(kept) <= 2


def test_delete_where_rewrites_only_overlapping_files(spark, tmp_path):
    """Manifest-pruned row-level delete: files outside the predicate
    range stay byte-untouched (same inode), only overlapping files are
    rewritten minus the matching rows, and the manifest refresh equals
    a from-scratch rebuild."""
    dst = _build(spark, tmp_path)  # k linearly clustered, 0..19999
    from evmtrace_etl_spark.sinks import delete_where, update_stats_index

    update_stats_index(spark, dst, ["k"])
    inodes_before = {
        f: os.stat(f).st_ino for f in glob.glob(dst + "/part-*.parquet")
    }
    total_files = len(inodes_before)

    led = delete_where(spark, dst, {"k": (5_000, 7_000)})
    assert led["rows_deleted"] == 2_001
    assert 0 < led["files_rewritten"] < total_files

    # survivors of the dataset: exact complement
    got = sorted(
        r["k"] for r in spark.read.parquet(dst).select("k").collect()
    )
    assert len(got) == 20_000 - 2_001
    assert all(not (5_000 <= k <= 7_000) for k in got)
    # untouched files kept their inodes (never rewritten)
    untouched = [
        f for f, ino in inodes_before.items()
        if os.path.exists(f) and os.stat(f).st_ino == ino
    ]
    assert len(untouched) == total_files - led["files_rewritten"]
    # manifest refreshed == rebuild, and the deleted range prunes to 0
    from evmtrace_etl_spark.sinks import current_manifest

    got_m = _stats_rows(current_manifest(dst))
    want_m = _stats_rows(parquet_stats_index(spark, dst, ["k"]))
    assert got_m == want_m
    # no-op delete: zero candidates, nothing changes
    led2 = delete_where(spark, dst, {"k": (10**8, 10**9)})
    assert led2["files_rewritten"] == 0 and led2["rows_deleted"] == 0


def test_delete_where_partitioned_preserves_layout(spark, tmp_path):
    """Row-level delete on a HIVE-PARTITIONED layout: survivors are
    rewritten back into their original partition directories (the
    directory encoding — and with it every later scan's partition
    pruning — survives the surgery), partitions outside the predicate
    keep their inodes, and partition values still read back."""
    from evmtrace_etl_spark.sinks import delete_where, update_stats_index

    part = str(tmp_path / "part")
    spark.range(3_000).selectExpr(
        "id % 3 AS p", "id AS k", "CAST(id * 2 AS DOUBLE) AS v"
    ).repartition(4).write.partitionBy("p").parquet(part)
    update_stats_index(spark, part, ["k", "p"])

    inodes_before = {
        f: os.stat(f).st_ino
        for f in glob.glob(part + "/p=*/part-*.parquet")
    }
    # predicate hits one partition only: p == 1 (manifest prunes via the
    # directory-derived partition stats) and a k sub-range
    led = delete_where(spark, part, {"p": 1, "k": (0, 1_500)})
    assert led["partitioned"] is True
    assert led["rows_deleted"] == 500  # k%3==1 in [0,1500]: 1,4,...,1498
    assert 0 < led["files_rewritten"] < len(inodes_before)

    # layout intact: every data file still lives under a p=<v> dir
    leftover = glob.glob(part + "/p=*/part-*.parquet")
    assert leftover and not glob.glob(part + "/part-*.parquet")
    # untouched partitions kept their inodes
    untouched = [
        f
        for f, ino in inodes_before.items()
        if os.path.exists(f) and os.stat(f).st_ino == ino
    ]
    assert len(untouched) == len(inodes_before) - led["files_rewritten"]
    # values: exact complement, partition column readable and correct
    rows = spark.read.parquet(part).collect()
    assert len(rows) == 3_000 - 500
    assert all(r["p"] == r["k"] % 3 for r in rows)
    assert all(not (r["p"] == 1 and r["k"] <= 1_500) for r in rows)


def test_delete_crash_before_commit_rolls_back(spark, tmp_path, monkeypatch):
    """Crash injection A — die between the survivor move-in and the
    manifest commit: a snapshot reader stays on the OLD version (sees
    every original row exactly once — no duplicates, no partial
    delete), and the next maintenance op rolls the transaction BACK via
    the _TXN intent marker, deleting the orphaned survivor files so
    incremental ingest detection never double-counts them."""
    import pytest

    from evmtrace_etl_spark import sinks
    from evmtrace_etl_spark.sinks import (
        delete_where,
        read_table,
        update_stats_index,
    )

    dst = _build(spark, tmp_path)
    update_stats_index(spark, dst, ["k"])
    before = sorted(
        r["k"] for r in read_table(spark, dst).select("k").collect()
    )
    assert len(before) == 20_000

    real_commit = sinks._commit_manifest

    def boom(*a, **kw):
        raise RuntimeError("injected crash before manifest commit")

    monkeypatch.setattr(sinks, "_commit_manifest", boom)
    with pytest.raises(RuntimeError, match="injected"):
        delete_where(spark, dst, {"k": (5_000, 7_000)})
    monkeypatch.setattr(sinks, "_commit_manifest", real_commit)

    # snapshot reader: old version, exactly the original rows, no dupes
    got = sorted(r["k"] for r in read_table(spark, dst).select("k").collect())
    assert got == before

    # recovery (head of any maintenance op) rolls back the orphan adds
    led = update_stats_index(spark, dst)
    assert led["files_new"] == 0  # rolled-back survivors NOT re-ingested
    got = sorted(r["k"] for r in read_table(spark, dst).select("k").collect())
    assert got == before
    # and the delete now goes through cleanly
    led = delete_where(spark, dst, {"k": (5_000, 7_000)})
    assert led["rows_deleted"] == 2_001
    got = read_table(spark, dst).count()
    assert got == 20_000 - 2_001


def test_delete_crash_after_commit_rolls_forward(spark, tmp_path, monkeypatch):
    """Crash injection B — die after the atomic manifest commit but
    before the candidate files are physically deleted: a snapshot
    reader is already on the NEW version (deleted rows gone, no
    duplicates even though the old files are still on disk), and the
    next maintenance op rolls FORWARD — sweeping the committed removals
    so the stale files are never resurrected as 'new ingest'."""
    import pytest

    from evmtrace_etl_spark import sinks
    from evmtrace_etl_spark.sinks import (
        delete_where,
        read_table,
        update_stats_index,
    )

    dst = _build(spark, tmp_path)
    update_stats_index(spark, dst, ["k"])

    def boom(*a, **kw):
        raise RuntimeError("injected crash before post-commit sweep")

    monkeypatch.setattr(sinks, "_post_commit_sweep", boom)
    with pytest.raises(RuntimeError, match="injected"):
        delete_where(spark, dst, {"k": (5_000, 7_000)})
    monkeypatch.undo()

    # the commit already happened: snapshot readers see the delete,
    # exactly once, even with the candidate files still on disk
    got = sorted(r["k"] for r in read_table(spark, dst).select("k").collect())
    assert len(got) == 20_000 - 2_001
    assert len(set(got)) == len(got)  # no duplicates
    assert all(not (5_000 <= k <= 7_000) for k in got)

    # roll-forward: sweep happens, stale files are NOT re-ingested
    led = update_stats_index(spark, dst)
    assert led["files_new"] == 0
    assert read_table(spark, dst).count() == 20_000 - 2_001
    # directory is physically clean now too
    raw = spark.read.parquet(dst).filter("k between 5000 and 7000").count()
    assert raw == 0


def test_read_table_pruned_keeps_partition_values(spark, tmp_path):
    """Pruned reads of a hive-partitioned table keep the
    directory-encoded partition column (basePath) — without it the
    values silently read back NULL."""
    part = str(tmp_path / "part")
    append_files(
        spark,
        spark.range(1000).selectExpr("id % 4 as p", "id as k"),
        part,
        cols=["k"],
        partition_by=["p"],
    )
    got = read_table(spark, part, {"k": (100, 200)})
    rows = got.collect()
    assert len(rows) == 101
    assert all(r["p"] is not None and r["p"] == r["k"] % 4 for r in rows)


def test_update_where_rewrites_matching_rows_in_place(spark, tmp_path):
    """Row-level UPDATE through the same snapshot transaction engine as
    the delete: only overlapping files rewritten (others keep inodes),
    matching rows get their SET expressions applied against the
    ORIGINAL row values (SQL UPDATE semantics — interdependent SET
    columns must not leak into each other), cardinality unchanged, and
    the refreshed manifest equals a from-scratch rebuild."""
    from evmtrace_etl_spark.sinks import (
        current_manifest,
        update_stats_index,
        update_where,
    )

    dst = _build(spark, tmp_path)  # k clustered 0..19999, v = 2k
    update_stats_index(spark, dst, ["k"])
    inodes_before = {
        f: os.stat(f).st_ino for f in glob.glob(dst + "/part-*.parquet")
    }

    # interdependent SET: new v reads OLD k, while k itself also moves
    led = update_where(
        spark, dst, {"k": (5_000, 7_000)},
        {"v": "v + k", "k": "k + 1000000"},
    )
    assert led["rows_updated"] == 2_001
    assert led["rows_before"] == led["rows_after"]  # never changes count
    assert 0 < led["files_rewritten"] < len(inodes_before)
    untouched = [
        f for f, ino in inodes_before.items()
        if os.path.exists(f) and os.stat(f).st_ino == ino
    ]
    assert len(untouched) == len(inodes_before) - led["files_rewritten"]

    rows = {r["k"]: r["v"] for r in spark.read.parquet(dst).collect()}
    assert len(rows) == 20_000
    # updated rows: v = old_v + OLD k = 2k + k = 3k; k moved by 1e6
    assert rows[1_006_000] == 3.0 * 6_000  # not 2k + (k+1e6): old-row rule
    assert 5_000 + 1_000_000 in rows and 5_000 not in rows
    # untouched rows bit-identical
    assert rows[4_999] == 2.0 * 4_999 and rows[7_001] == 2.0 * 7_001
    # manifest refreshed == rebuild (stats follow the moved k values)
    got_m = _stats_rows(current_manifest(dst))
    want_m = _stats_rows(parquet_stats_index(spark, dst, ["k"]))
    assert got_m == want_m


def test_time_travel_reads_a_retained_snapshot(spark, tmp_path):
    """Snapshot versions retain history: after an ingest commit, the
    previous version still reads the PRE-ingest table (append commits
    never remove files); an unretained version raises."""
    import pytest

    from evmtrace_etl_spark.sinks import read_table, update_stats_index

    dst = _build(spark, tmp_path)
    led0 = update_stats_index(spark, dst, ["k"])
    assert led0["version"] == 0
    spark.range(100_000, 101_000).selectExpr(
        "id AS k", "id % 7 AS grp", "CAST(id * 2 AS DOUBLE) AS v"
    ).repartition(2).write.mode("append").parquet(dst)
    led1 = update_stats_index(spark, dst)
    assert led1["version"] == 1 and led1["files_new"] == 2

    assert read_table(spark, dst).count() == 21_000
    assert read_table(spark, dst, version=0).count() == 20_000  # the past
    assert read_table(spark, dst, version=1).count() == 21_000
    with pytest.raises(ValueError, match="not committed/retained"):
        read_table(spark, dst, version=7)


def test_concurrent_commit_raises_snapshot_conflict(spark, tmp_path):
    """Optimistic concurrency: a transaction that planned version N
    fails loudly (BEFORE touching the log) when another writer
    committed N first — the retry-from-fresh-snapshot contract."""
    import pytest

    from evmtrace_etl_spark import sinks
    from evmtrace_etl_spark.sinks import current_manifest, update_stats_index

    dst = _build(spark, tmp_path)
    update_stats_index(spark, dst, ["k"])  # v0
    mdir = manifest_dir(dst)
    m = current_manifest(dst)
    # writer A snapshots (plans to commit v1); writer B commits v1 first
    # (an empty delta — commits carry only what THEY add)
    sinks._commit_manifest(spark, mdir, m.slice(0, 0), removed=[])  # B wins v1
    with pytest.raises(sinks.SnapshotConflict, match="v1 .*v2|next version"):
        sinks._commit_manifest(
            spark, mdir, m.slice(0, 0), removed=[], expected_version=1
        )  # A's stale plan
    # and the real maintenance path still commits cleanly after a retry
    led = update_stats_index(spark, dst)
    assert led["version"] == 2


def test_append_files_is_replay_idempotent(spark, tmp_path):
    """Exactly-once ingest: a batch id already stamped into the commit
    log short-circuits to a no-op, so a foreachBatch replay after a
    crash cannot double-count rows — and the txn map survives later
    commits by other writers."""
    from evmtrace_etl_spark.lake_log import commit_info
    from evmtrace_etl_spark.sinks import (
        append_files,
        manifest_version,
        read_table,
        update_stats_index,
    )

    dst = _build(spark, tmp_path)
    update_stats_index(spark, dst, ["k"])
    batch = spark.range(50_000, 50_100).selectExpr(
        "id AS k", "id % 7 AS grp", "CAST(id * 2 AS DOUBLE) AS v"
    )
    led = append_files(spark, batch, dst, txn=("ingest", 0))
    assert led["rows"] == 100 and not led["skipped"]
    assert read_table(spark, dst).count() == 20_100

    # replay of the SAME batch id: no-op, no files, count stable
    led2 = append_files(spark, batch, dst, txn=("ingest", 0))
    assert led2["skipped"] and led2["files_added"] == 0
    assert read_table(spark, dst).count() == 20_100
    # an unrelated maintenance commit carries the txn map forward
    update_stats_index(spark, dst)
    head = commit_info(manifest_dir(dst), manifest_version(dst))
    assert head["txns"]["ingest"] == 0
    led3 = append_files(spark, batch, dst, txn=("ingest", 0))
    assert led3["skipped"]
    # the NEXT batch id lands normally
    nxt = spark.range(60_000, 60_050).selectExpr(
        "id AS k", "id % 7 AS grp", "CAST(id * 2 AS DOUBLE) AS v"
    )
    led4 = append_files(spark, nxt, dst, txn=("ingest", 1))
    assert not led4["skipped"] and led4["rows"] == 50
    assert read_table(spark, dst).count() == 20_150


def test_append_crash_then_replay_is_exactly_once(
    spark, tmp_path, monkeypatch
):
    """Crash injection on the ingest path — die between the file
    move-in and the manifest commit: the snapshot reader still sees the
    pre-batch table; recovery rolls the orphaned files back; the
    REPLAYED batch (same txn id) then commits exactly once."""
    import pytest

    from evmtrace_etl_spark import sinks
    from evmtrace_etl_spark.sinks import (
        append_files,
        read_table,
        update_stats_index,
    )

    dst = _build(spark, tmp_path)
    update_stats_index(spark, dst, ["k"])
    batch = spark.range(70_000, 70_080).selectExpr(
        "id AS k", "id % 7 AS grp", "CAST(id * 2 AS DOUBLE) AS v"
    )
    real = sinks._commit_manifest

    def boom(*a, **kw):
        raise RuntimeError("injected crash before append commit")

    monkeypatch.setattr(sinks, "_commit_manifest", boom)
    with pytest.raises(RuntimeError, match="injected"):
        append_files(spark, batch, dst, txn=("ingest", 7))
    monkeypatch.setattr(sinks, "_commit_manifest", real)

    # snapshot reader: batch invisible (files on disk but uncommitted)
    assert read_table(spark, dst).count() == 20_000
    # replay with the same txn id: recovery rolls the orphans back,
    # then the batch commits — exactly once
    led = append_files(spark, batch, dst, txn=("ingest", 7))
    assert not led["skipped"] and led["rows"] == 80
    got = read_table(spark, dst).filter("k >= 70000").count()
    assert got == 80 and read_table(spark, dst).count() == 20_080


def test_lake_append_stream_exactly_once_through_restart(spark, tmp_path):
    """The streaming half: a checkpointed file-stream lands each
    micro-batch as one txn-stamped snapshot commit; restarting the
    stream over the same checkpoint re-delivers nothing new, and a file
    added after the restart lands exactly once."""
    from pyspark.sql import functions as F  # noqa: F811

    from evmtrace_etl_spark.sinks import (
        read_table,
        start_lake_append_stream,
        update_stats_index,
    )

    src = str(tmp_path / "incoming")
    os.makedirs(src)
    tbl = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    spark.range(0, 300).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"
    ).coalesce(1).write.mode("append").parquet(src)
    spark.range(300, 500).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"
    ).coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_lake_append_stream(
        stream, tbl, ckpt, cols=["k"], app_id="t"
    )
    q.awaitTermination(120)
    assert read_table(spark, tbl).count() == 500

    # restart over the same checkpoint: nothing re-delivered
    q = start_lake_append_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        tbl, ckpt, cols=["k"], app_id="t",
    )
    q.awaitTermination(120)
    assert read_table(spark, tbl).count() == 500

    # new arrivals after the restart land exactly once
    spark.range(500, 550).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"
    ).coalesce(1).write.mode("append").parquet(src)
    q = start_lake_append_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        tbl, ckpt, cols=["k"], app_id="t",
    )
    q.awaitTermination(120)
    got = read_table(spark, tbl)
    assert got.count() == 550
    assert got.select("k").distinct().count() == 550


def test_compact_table_merges_fragments_through_the_log(spark, tmp_path):
    """OPTIMIZE through the log: streaming appends fragment the table;
    compact_table merges the fragments in ONE snapshot transaction —
    row multiset unchanged, manifest equals a rebuild, snapshot readers
    stay consistent, and with small_bytes set the already-big files
    keep their inodes."""
    from evmtrace_etl_spark.sinks import (
        append_files,
        compact_table,
        current_manifest,
        read_table,
        update_stats_index,
    )

    dst = _build(spark, tmp_path, n_files=4)  # a few "big" files
    update_stats_index(spark, dst, ["k"])
    big_inodes = {
        f: os.stat(f).st_ino for f in glob.glob(dst + "/part-*.parquet")
    }
    big_size = min(os.path.getsize(f) for f in big_inodes)
    # fragment: three tiny ingest batches, several files each
    for b in range(3):
        batch = spark.range(30_000 + b * 100, 30_100 + b * 100).selectExpr(
            "id AS k", "id % 7 AS grp", "CAST(id * 2 AS DOUBLE) AS v"
        ).repartition(4)
        append_files(spark, batch, dst, txn=("frag", b))
    n_files_before = len(glob.glob(dst + "/part-*.parquet"))
    assert n_files_before >= len(big_inodes) + 12

    led = compact_table(
        spark, dst, target_bytes=1 << 26, small_bytes=big_size
    )
    assert led["files_rewritten"] >= 12
    assert led["files_added"] < led["files_rewritten"]
    assert led["rows_before"] == led["rows_after"] == 300
    # big files untouched (inodes kept)
    for f, ino in big_inodes.items():
        assert os.path.exists(f) and os.stat(f).st_ino == ino
    # table contents identical, served through the snapshot
    got = read_table(spark, dst)
    assert got.count() == 20_300
    assert got.filter("k >= 30000").count() == 300
    # manifest == rebuild
    got_m = _stats_rows(current_manifest(dst))
    want_m = _stats_rows(parquet_stats_index(spark, dst, ["k"]))
    assert got_m == want_m
    # idempotent: nothing small left to merge into fewer files
    led2 = compact_table(
        spark, dst, target_bytes=1 << 26, small_bytes=big_size
    )
    assert led2["files_rewritten"] in (0, led2["files_added"])


def test_history_and_vacuum(spark, tmp_path):
    """table_history reports the retained commit trail (versions, file/
    row totals, txn map); vacuum_table sweeps a pre-intent crashed temp
    dir that no recovery path could know about."""
    from evmtrace_etl_spark import sinks
    from evmtrace_etl_spark.sinks import (
        append_files,
        table_history,
        update_stats_index,
        vacuum_table,
    )

    dst = _build(spark, tmp_path)
    update_stats_index(spark, dst, ["k"])
    append_files(
        spark,
        spark.range(90_000, 90_010).selectExpr(
            "id AS k", "id % 7 AS grp", "CAST(id * 2 AS DOUBLE) AS v"
        ),
        dst,
        txn=("h", 3),
    )
    hist = table_history(dst)
    assert [h["version"] for h in hist] == [0, 1]
    assert hist[-1]["rows"] == 20_010
    assert hist[-1]["txns"] == {"h": 3}

    # a crash BEFORE the _TXN intent leaves an unlogged temp sibling
    stale = dst + "._append_deadbeef"
    os.makedirs(stale)
    open(stale + "/part-zzz.parquet", "wb").write(b"x")
    removed = vacuum_table(dst, min_age_s=0)
    assert any("_append_deadbeef" in p for p in removed)
    assert not os.path.exists(stale)
    # data untouched
    assert spark.read.parquet(dst).count() == 20_010


def test_partition_column_stats_derive_from_directories(spark, tmp_path):
    """Hive partition columns never appear in footers; the index derives
    their stats from the directory encoding (min == max == the value),
    typed as partition discovery types them — so the manifest prunes on
    partition predicates too, closing the opaque executor-side KeyError
    the footer lookup used to raise."""
    part = str(tmp_path / "part")
    spark.range(900).selectExpr("id % 3 AS p", "id AS k").repartition(
        3
    ).write.partitionBy("p").parquet(part)
    idx = parquet_stats_index(spark, part, ["k", "p"])
    rows = idx.to_pylist()
    assert rows
    ptype = dict(
        (f.name, f.dataType) for f in spark.read.parquet(part).schema.fields
    )["p"]
    assert idx.schema.field("p_min").type == to_arrow_type(ptype)
    assert all(r["p_min"] == r["p_max"] is not None for r in rows)
    # equality predicate on the partition column prunes to its files
    kept = prune_files(idx, {"p": 1})
    assert 0 < len(kept) < len(rows)
    assert all("/p=1/" in f for f in kept)


def test_read_table_composes_all_skipping_tiers(spark, tmp_path):
    """The one-call read path: manifest file-skipping + row-group stats
    + bloom-eligible equality pushdown, result-identical to the plain
    filtered scan, with the file-skip ratio measured."""
    dst = _build_lake(spark, tmp_path, bloom_cols=["grp"])

    # range + equality predicates through the composed path
    pred = {"k": (3_000, 4_000), "grp": 5}
    got = sorted(tuple(r) for r in read_table(spark, dst, pred).collect())
    want = sorted(
        tuple(r)
        for r in spark.read.parquet(dst)
        .filter("k BETWEEN 3000 AND 4000 AND grp = 5")
        .collect()
    )
    assert got == want and len(got) == 143
    # measured file-skip ratio: the k-range tiles a small file subset
    total = current_manifest(dst).num_rows
    kept = len(
        prune_files(
            current_manifest(dst),
            {"k": (3_000, 4_000)},
        )
    )
    assert 0 < kept < total and kept / total <= 0.5
    # the equality predicate reaches the scan as an Eq pushed filter
    # (bloom/dictionary-eligible), not rewritten into a range
    plan = read_table(spark, dst, pred)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "PushedFilters:" in plan and "EqualTo(grp,5" in plan


def test_manifest_lives_hidden_inside_the_table(spark, tmp_path):
    """The default manifest location is INSIDE the table directory —
    hidden from Spark scans and from the tier's own file listings, so
    the table plus its snapshot metadata travel as one directory."""
    from evmtrace_etl_spark.sinks import _leaf_files, update_stats_index

    dst = _build(spark, tmp_path)
    n = spark.read.parquet(dst).count()
    update_stats_index(spark, dst, ["k"])
    assert os.path.isdir(manifest_dir(dst) + "/v0")
    # a plain directory scan neither errors nor double-counts
    assert spark.read.parquet(dst).count() == n
    # and the tier's listings exclude the metadata subtree
    assert all("_stats_manifest" not in f for _r, f, _n in _leaf_files(dst))


def test_index_is_footer_only_no_data_scan(spark, tmp_path, monkeypatch):
    """The index job's scan reads the PATH LIST, not the table: pin by
    job-group scan metrics — the parquet files' rows never appear as
    any stage's input because only footers are opened (pyarrow,
    executor-side)."""
    dst = _build(spark, tmp_path)
    frame = type(spark.range(1))
    plans = []
    real = frame.toArrow

    def spy(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df)

    monkeypatch.setattr(frame, "toArrow", spy)
    parquet_stats_index(spark, dst, ["k"])
    (plan,) = plans
    # the only scan in the plan is the in-memory path list
    assert "FileScan parquet" not in plan


def test_keep_versions_retains_deeper_history(spark, tmp_path):
    """keep_versions > 2 retains a deeper time-travel window through
    every maintenance op."""
    from evmtrace_etl_spark.sinks import (
        append_files,
        read_table,
        table_history,
        update_stats_index,
    )

    dst = _build(spark, tmp_path)
    update_stats_index(spark, dst, ["k"], keep_versions=4)  # v0
    for b in range(3):  # v1..v3
        append_files(
            spark,
            spark.range(50_000 + b * 10, 50_010 + b * 10).selectExpr(
                "id AS k", "id % 7 AS grp", "CAST(id * 2 AS DOUBLE) AS v"
            ),
            dst,
            txn=("kv", b),
            keep_versions=4,
        )
    hist = table_history(dst)
    assert [h["version"] for h in hist] == [0, 1, 2, 3]
    # every retained version time-travels (append-only: files all alive)
    assert read_table(spark, dst, version=0).count() == 20_000
    assert read_table(spark, dst, version=2).count() == 20_020
    assert read_table(spark, dst, version=3).count() == 20_030


def test_lake_append_stream_in_band_maintenance(spark, tmp_path):
    """maintain_every=N: the streaming sink runs maintain_table after
    every Nth batch, so a long-running ingest stream bounds its own
    fragmentation instead of waiting for an external OPTIMIZE — and
    the cadence composes with exactly-once (a checkpoint replay skips
    the ingest on its txn stamp; a re-run maintenance converges)."""
    from evmtrace_etl_spark import sinks
    from evmtrace_etl_spark.sinks import (
        read_table,
        start_lake_append_stream,
    )

    src = str(tmp_path / "incoming")
    os.makedirs(src)
    tbl = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    for lo in range(0, 600, 100):  # six one-file arrivals
        spark.range(lo, lo + 100).selectExpr(
            "id AS k", "CAST(id AS DOUBLE) AS v"
        ).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    q = start_lake_append_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        tbl, ckpt, cols=["k"], app_id="maint",
        maintain_every=3, maintain_kwargs={"min_age_s": 0},
    )
    q.awaitTermination(180)
    t = read_table(spark, tbl)
    assert t.count() == 600 and t.select("k").distinct().count() == 600
    # six 1-file batches with a maintenance pass every 3rd batch: the
    # table holds far fewer than 6 fragments (the last pass ran at
    # batch 6 and merged everything standing)
    n_files = len(glob.glob(tbl + "/*.parquet"))
    assert n_files <= 2, n_files
    # history shows the compact commits interleaved with the ingest
    ops = [h["op"] for h in sinks.table_history(tbl)]
    assert "compact" in ops and "append" in ops
    # restart over the same checkpoint: nothing re-lands, reads stable
    q = start_lake_append_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        tbl, ckpt, cols=["k"], app_id="maint",
        maintain_every=3, maintain_kwargs={"min_age_s": 0},
    )
    q.awaitTermination(180)
    assert read_table(spark, tbl).count() == 600


def test_two_actor_maintain_interleaves_with_in_band_stream(
    spark, tmp_path
):
    """An EXTERNAL maintain_table loop races the stream's own
    maintain_every on the same table (same process; the cross-process
    leg is tests/test_lake_recovery.py): every interleaving must keep
    the ingest exactly-once, converge — the post-drain maintenance
    rewrites nothing — and leave no orphaned temp dirs and no live
    _TXN intent.  The composed op's convergence contract was only
    asserted serially before."""
    import threading

    from evmtrace_etl_spark import sinks
    from evmtrace_etl_spark.sinks import (
        read_table,
        retry_on_conflict,
        start_lake_append_stream,
    )

    src = str(tmp_path / "incoming")
    os.makedirs(src)
    tbl = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    for lo in range(0, 800, 100):  # eight one-file arrivals
        spark.range(lo, lo + 100).selectExpr(
            "id AS k", "CAST(id AS DOUBLE) AS v"
        ).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    stop = threading.Event()
    external_runs = []
    errors: list = []

    def external_maintainer() -> None:
        # fire external maintenance continuously while the stream's
        # in-band cadence runs — the two-actor deployment shape
        try:
            while not stop.is_set():
                if sinks.manifest_version(
                    tbl
                ) is not None:
                    led = retry_on_conflict(
                        lambda: sinks.maintain_table(
                            spark, tbl, min_age_s=0
                        ),
                        attempts=10,
                    )
                    external_runs.append(led)
        except Exception as exc:  # pragma: no cover - fails the test
            errors.append(exc)

    ext = threading.Thread(target=external_maintainer)
    ext.start()
    try:
        q = start_lake_append_stream(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            tbl, ckpt, cols=["k"], app_id="maint2",
            maintain_every=2, maintain_kwargs={"min_age_s": 0},
        )
        q.awaitTermination(180)
        assert q.exception() is None  # in-band maintain never dies to a race
    finally:
        stop.set()
        ext.join(timeout=120)
    assert not errors
    assert external_runs  # the external actor really ran concurrently

    t = read_table(spark, tbl)
    assert t.count() == 800 and t.select("k").distinct().count() == 800
    mdir = manifest_dir(tbl)
    assert not os.path.exists(os.path.join(mdir, "_TXN"))
    assert not os.path.exists(os.path.join(mdir, "_LOCK"))
    # no orphaned temp siblings from any losing actor
    parent = os.path.dirname(tbl)
    debris = [
        p
        for p in os.listdir(parent)
        if p.startswith("lake._")
    ]
    assert debris == [], debris
    # convergence: a first post-drain pass may compact fragments the
    # final ingest batch landed after the last in-band pass; the
    # SECOND pass must rewrite nothing
    sinks.maintain_table(spark, tbl, min_age_s=0)
    led = sinks.maintain_table(spark, tbl, min_age_s=0)
    assert (led["compact"] or {"files_rewritten": 0})[
        "files_rewritten"
    ] == 0
    assert led["materialize"] is None
    # and the ingest stayed exactly-once through every interleaving
    assert read_table(spark, tbl).count() == 800
