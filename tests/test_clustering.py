"""Data-layout clustering (``sinks.cluster_table``): round-trip
exactness, and MEASURED row-group skipping — both statically (parquet
footer min/max disjointness via pyarrow) and at RUNTIME (the Spark
scan node's ``numOutputRows`` after a pushed range filter, i.e. the
rows the vectorized parquet reader actually decoded after stats
pruning).  The three layouts bracket the design space:

- scattered: every row group spans the full key range → zero skipping;
- linear (lexicographic): near-perfect skipping on the LEADING key,
  zero on the trailing key;
- z-order: partial-but-real skipping on BOTH keys (~sqrt of the
  selectivity benefit each) — the multi-dimensional trade.
"""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from evmtrace_etl_spark.sinks import append_files, cluster_table, read_table


def _dir_bytes(path: str) -> int:
    import os

    return sum(
        os.path.getsize(p) for p in glob.glob(path + "/part-*.parquet")
    )


def _clustered_table(spark, df, path: str, keys, n_files: int, **kw) -> dict:
    """Land ``df`` in a lake table at ``path`` and cluster it on
    ``keys`` at a target of ``1/n_files`` of the landed bytes; returns
    the ``cluster_table`` ledger."""
    append_files(spark, df, path, cols=list(keys))
    tb = max(1, -(-_dir_bytes(path) // n_files))
    return cluster_table(spark, path, keys, target_bytes=tb, **kw)


def _touched_row_groups(path: str, col: str, lo, hi) -> tuple[int, int]:
    """(row groups a [lo, hi] predicate must read, total row groups)
    computed from footer min/max stats — the exact arithmetic the
    parquet reader's stats pruning performs."""
    hit = tot = 0
    for f in glob.glob(path + "/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        ci = {md.schema.column(i).name: i for i in range(md.num_columns)}[col]
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            tot += 1
            if st is None or (st.min <= hi and st.max >= lo):
                hit += 1
    return hit, tot


def _scan_output_rows(df) -> int:
    """Rows the parquet scan node emitted for an executed query — the
    runtime measure of row-group skipping (rows in pruned groups are
    never decoded, so they never count)."""
    df.collect()
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    rows = 0
    for i in range(leaves.size()):
        m = leaves.apply(i).metrics()
        if m.contains("numOutputRows"):
            rows += m.apply("numOutputRows").value()
    return rows


def _fixture(spark, tmp_path):
    """Two independent uniform keys; written scattered (8 files),
    linear-clustered (8 files), z-order-clustered (32 files — z-runs
    must be shorter than a one-bucket slab's cell spacing for the
    low-bit dimension to skip at all, the granularity knob a real lake
    turns with target_bytes)."""
    src = str(tmp_path / "src")
    lin = str(tmp_path / "lin")
    zo = str(tmp_path / "zo")
    df = spark.range(200_000).select(
        (F.hash(F.col("id")) % 1000).alias("a"),
        (F.hash(F.col("id") + 7) % 1000).alias("b"),
        F.col("id").alias("v"),
    )
    df.repartition(8).write.parquet(src)
    s1 = _clustered_table(spark, df.repartition(8), lin, ["a", "b"], 8)
    s2 = _clustered_table(
        spark, df.repartition(8), zo, ["a", "b"], 32, zorder=True, n_buckets=8
    )
    return src, lin, zo, s1, s2


def test_cluster_roundtrip_and_ledger(spark, tmp_path):
    src, lin, zo, s1, s2 = _fixture(spark, tmp_path)
    assert s1["files_added"] == s1["n_target_files"] == 8
    assert s2["files_added"] == s2["n_target_files"] == 32
    assert s2["zorder"] and s1["rows_before"] == s1["rows_after"]
    want = sorted(tuple(r) for r in spark.read.parquet(src).collect())
    for path in (lin, zo):
        got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
        assert got == want


def test_read_table_keeps_committed_column_order(spark, tmp_path):
    """``read_table`` on a hive-partitioned table returns the committed
    column order whether a predicate matches files or not (a scan with
    ``basePath`` alone would move the partition column last)."""
    tbl = str(tmp_path / "t")
    append_files(
        spark,
        spark.range(10).select(
            (F.col("id") % 2).alias("p"), F.col("id").alias("v")
        ),
        tbl,
        cols=["v"],
        partition_by=["p"],
    )
    hit = read_table(spark, tbl, {"v": (2, 3)})
    miss = read_table(spark, tbl, {"v": (50, 60)})
    assert read_table(spark, tbl).columns == ["p", "v"]
    assert hit.columns == miss.columns == ["p", "v"]
    assert sorted(tuple(r) for r in hit.collect()) == [(0, 2), (1, 3)]
    assert miss.count() == 0


def test_footer_stats_skipping_three_layouts(spark, tmp_path):
    src, lin, zo, _s1, _s2 = _fixture(spark, tmp_path)
    # a 5%-of-range slab on each key ([-100, -1] of roughly [-999, 999])
    for col in ("a", "b"):
        hit, tot = _touched_row_groups(src, col, -100, -1)
        assert hit == tot, (col, hit, tot)  # scattered skips nothing
    lh, lt = _touched_row_groups(lin, "a", -100, -1)
    assert lh / lt <= 0.3, (lh, lt)  # leading key: near-perfect
    lh, lt = _touched_row_groups(lin, "b", -100, -1)
    assert lh == lt  # trailing key: nothing — why z-order exists
    for col in ("a", "b"):  # z-order: real skipping on BOTH keys
        zh, zt = _touched_row_groups(zo, col, -100, -1)
        assert zh / zt <= 0.55, (col, zh, zt)


def test_runtime_scan_rows_measure_skipping(spark, tmp_path):
    """The reader actually skips: after clustering, a pushed range
    filter decodes ≤ half the rows the scattered layout decodes (the
    scan node's own numOutputRows, not a proxy)."""
    src, lin, zo, _s1, _s2 = _fixture(spark, tmp_path)
    n = 200_000
    pred_a = (F.col("a") >= -100) & (F.col("a") < 0)
    pred_b = (F.col("b") >= -100) & (F.col("b") < 0)

    def rows(path, pred):
        return _scan_output_rows(spark.read.parquet(path).filter(pred))

    assert rows(src, pred_a) == n  # scattered decodes everything
    assert rows(lin, pred_a) <= 0.3 * n  # leading-key clustering
    assert rows(lin, pred_b) == n  # trailing key unhelped
    assert rows(zo, pred_a) <= 0.55 * n  # z-order helps both keys
    assert rows(zo, pred_b) <= 0.55 * n

    # and the filter really is pushed to the scan (stats pruning rides
    # on pushdown — without it the measure above would be meaningless)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        spark.read.parquet(zo).filter(pred_a).explain(mode="formatted")
    txt = buf.getvalue()
    assert "PushedFilters" in txt and "GreaterThanOrEqual(a," in txt


def test_zorder_skew_proof_quantile_buckets(spark, tmp_path):
    """A heavy-tailed key still clusters: quantile bucketing spreads a
    zipf-ish key across the full z-range, so a slab over the DENSE
    region (where uniform min/max bucketing would dump ~all rows into
    one mega-bucket and skip nothing) still skips row groups."""
    dst = str(tmp_path / "skew_dst")
    # value = floor(1/u) - 1: ~half the mass at 0, long tail upward
    df = spark.range(100_000).select(
        F.floor(1.0 / (F.rand(seed=1) + 1e-9) - 1.0).alias("heavy"),
        (F.hash(F.col("id")) % 1000).alias("u"),
        F.col("id").alias("v"),
    )
    _clustered_table(
        spark, df.repartition(8), dst, ["heavy", "u"], 32,
        zorder=True, n_buckets=8,
    )
    # tail slab: tiny row fraction, and most groups skippable
    hit, tot = _touched_row_groups(dst, "heavy", 100, 10_000_000)
    assert hit / tot <= 0.55, (hit, tot)
    # dense-region slab (heavy == 0 holds ~half the rows): still skips
    hit, tot = _touched_row_groups(dst, "heavy", 0, 0)
    assert hit / tot <= 0.8, (hit, tot)


def test_timestamp_clustering_skips_row_groups(spark, tmp_path):
    """Time is THE clustering key of a 100 TB event lake — and until
    the session pinned TIMESTAMP_MICROS, Spark's INT96 default wrote
    timestamps with NO parquet statistics, so this exact test was
    impossible to pass (every footer span NULL, zero skipping).  Pins
    end-to-end: a ts-clustered rewrite yields real footer spans and a
    one-day predicate touches a small fraction of row groups, measured
    at runtime off the scan node too."""
    import datetime

    src = str(tmp_path / "src")
    lin = str(tmp_path / "lin")
    df = spark.range(100_000).select(
        (
            F.lit("2024-01-01").cast("timestamp")
            + F.make_interval(secs=F.col("id") * 26)  # ~31 days, shuffled
        ).alias("ts"),
        F.hash("id").alias("v"),
    )
    df.orderBy("v").repartition(8).write.parquet(src)
    _clustered_table(spark, df.orderBy("v").repartition(8), lin, ["ts"], 16)
    utc = datetime.timezone.utc  # pyarrow stats are tz-aware for MICROS
    lo = datetime.datetime(2024, 1, 10, tzinfo=utc)
    hi = datetime.datetime(2024, 1, 11, tzinfo=utc)
    hit, tot = _touched_row_groups(lin, "ts", lo, hi)
    assert tot >= 8 and hit / tot <= 0.3, (hit, tot)
    # runtime confirmation: the clustered scan decodes a fraction
    pred = (F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi))
    scattered = _scan_output_rows(spark.read.parquet(src).filter(pred))
    clustered = _scan_output_rows(spark.read.parquet(lin).filter(pred))
    assert scattered == 100_000  # no stats help on the random layout
    assert clustered <= 0.3 * scattered, (clustered, scattered)


def test_bloom_cols_skip_point_lookups_on_unclustered_column(
    spark, tmp_path
):
    """Blooms are the skipping mechanism min/max CANNOT provide: the
    table is clustered on ``a``, so an equality lookup on the unrelated
    high-cardinality ``h`` spans every file's [min,max] — without
    blooms the scan decodes ~everything; with ``bloom_cols=['h']`` the
    reader drops non-matching row groups off the parquet bloom filters
    (measured off the scan node's numOutputRows)."""
    plain = str(tmp_path / "plain")
    bloomed = str(tmp_path / "bloomed")
    df = spark.range(200_000).select(
        (F.col("id") % 500).alias("a"), F.hash("id").alias("h")
    )
    _clustered_table(spark, df.repartition(4), plain, ["a"], 8)
    _clustered_table(
        spark, df.repartition(4), bloomed, ["a"], 8,
        bloom_cols=["h"], bloom_ndv=200_000,
    )
    target = df.filter(F.col("id") == 123_456).collect()[0]["h"]
    rows_plain = _scan_output_rows(
        spark.read.parquet(plain).filter(F.col("h") == target)
    )
    rows_bloom = _scan_output_rows(
        spark.read.parquet(bloomed).filter(F.col("h") == target)
    )
    assert rows_plain == 200_000  # min/max can't skip: full decode
    assert rows_bloom <= 0.3 * rows_plain, (rows_bloom, rows_plain)
    # identical answers either way
    assert (
        spark.read.parquet(bloomed).filter(F.col("h") == target).count()
        == spark.read.parquet(plain).filter(F.col("h") == target).count()
        == 1
    )


def test_quantile_probe_jobs_do_not_scale_with_key_count(spark):
    """The z-order cutpoint probe reads the input ONCE regardless of
    how many keys are clustered (multi-column approxQuantile) — at
    100 TB a per-key probe would re-scan the table k times.  Pinned by
    counting Spark jobs in scoped job groups: the 3-key probe costs
    exactly as many jobs as the 1-key probe (the absolute count is
    approxQuantile's business — Spark 4 spends 2 — so the pin is the
    RATIO, which is what a per-key loop would break)."""
    from evmtrace_etl_spark.sinks import _quantile_cuts

    df = spark.range(0, 10_000).selectExpr(
        "id as a", "id % 97 as b", "id % 13 as c"
    )
    sc = spark.sparkContext
    tracker = spark._jsc.sc().statusTracker()

    def probe_jobs(group: str, keys: list[str]) -> int:
        sc.setJobGroup(group, "quantile cutpoint probe", False)
        try:
            cuts = _quantile_cuts(df, keys, 8, 0.001)
        finally:
            sc.setJobGroup("", "", False)
        assert len(cuts) == len(keys) and all(len(c) == 7 for c in cuts)
        return len(tracker.getJobIdsForGroup(group))

    one = probe_jobs("qprobe1", ["a"])
    three = probe_jobs("qprobe3", ["a", "b", "c"])
    assert three == one, f"3-key probe spent {three} jobs vs {one} for 1 key"


# ---------------------------------------------------------------------------
# Differential / property tests (hypothesis, derandomized — the same
# independent-reference convention as tests/test_property_differential.py)
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SETTINGS = dict(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _py_morton(bucket_ids: list[int], bits: int) -> int:
    """Independent pure-Python Morton interleave (earlier keys on the
    higher bit of each group, mirroring the documented tie-break)."""
    k = len(bucket_ids)
    z = 0
    for bit in range(bits):
        for j, b in enumerate(bucket_ids):
            z |= ((b >> bit) & 1) << (bit * k + (k - 1 - j))
    return z


@given(
    k=st.integers(2, 3),
    bits=st.integers(1, 5),
    rows=st.lists(
        st.lists(st.integers(0, 31), min_size=3, max_size=3),
        min_size=1,
        max_size=12,
    ),
)
@settings(**_SETTINGS)
def test_morton_matches_python_reference(spark, k, bits, rows):
    from pyspark.sql import functions as F

    from evmtrace_etl_spark.sinks import _morton

    mask = (1 << bits) - 1
    vals = [tuple(v & mask for v in r[:k]) for r in rows]
    df = spark.createDataFrame(
        [(i,) + v for i, v in enumerate(vals)],
        "i: int, " + ", ".join(f"b{j}: int" for j in range(k)),
    )
    z = _morton([F.col(f"b{j}") for j in range(k)], bits)
    got = {r["i"]: r["z"] for r in df.select("i", z.alias("z")).collect()}
    for i, v in enumerate(vals):
        assert got[i] == _py_morton(list(v), bits), (v, bits)


@given(
    vals=st.lists(
        st.integers(-1000, 1000) | st.none(), min_size=4, max_size=30
    ),
    n_buckets=st.sampled_from([2, 4, 8]),
)
@settings(**_SETTINGS)
def test_quantile_bucket_monotone_and_bounded(spark, vals, n_buckets):
    """The properties the layout actually rides on: bucket ids are
    monotone in the key (so each bucket is a contiguous key range —
    what makes footer min/max selective) and within [0, n_buckets-1];
    NULLs land in bucket 0.  Exact cutpoint placement is
    approxQuantile's business, deliberately NOT pinned."""
    from evmtrace_etl_spark.sinks import _bucket_from_cuts, _quantile_cuts

    df = spark.createDataFrame([(v,) for v in vals], "x: int")
    b = _bucket_from_cuts("x", _quantile_cuts(df, ["x"], n_buckets, 0.001)[0])
    got = df.select("x", b.alias("b")).collect()
    assert all(0 <= r["b"] <= n_buckets - 1 for r in got)
    non_null = sorted(
        ((r["x"], r["b"]) for r in got if r["x"] is not None),
    )
    for (x1, b1), (x2, b2) in zip(non_null, non_null[1:]):
        assert b1 <= b2, (x1, b1, x2, b2)
        if x1 == x2:
            assert b1 == b2  # equal keys never split across buckets
    assert all(r["b"] == 0 for r in got if r["x"] is None)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(-50, 50) | st.none(), st.integers(0, 9), st.booleans()
        ),
        min_size=1,
        max_size=25,
    ),
    zorder=st.booleans(),
    n_files=st.integers(1, 4),
)
@settings(**_SETTINGS)
def test_cluster_roundtrip_property(
    spark, tmp_path_factory, rows, zorder, n_files
):
    """Layout-only for ANY input (dupes, NULLs, any file budget): the
    rewrite preserves the exact multiset of rows, and in linear mode
    the output files are pairwise DISJOINT key ranges (the invariant
    skipping arithmetic depends on)."""
    import os

    dst = os.path.join(str(tmp_path_factory.mktemp("clprop")), "dst")
    df = spark.createDataFrame(rows, "a: int, b: int, c: boolean")
    stats = _clustered_table(
        spark, df.repartition(3), dst, ["a", "b"], n_files,
        zorder=zorder, n_buckets=4,
    )
    assert stats["files_added"] <= max(stats["n_target_files"], 1)
    got = sorted(
        (tuple(r) for r in spark.read.parquet(dst).collect()),
        key=repr,
    )
    want = sorted((tuple(r) for r in df.collect()), key=repr)
    assert got == want
    if not zorder:
        spans = []
        for f in glob.glob(dst + "/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            st_a = md.row_group(0).column(0).statistics
            if st_a is not None and st_a.min is not None:
                spans.append((st_a.min, st_a.max))
        spans.sort()
        for (_lo1, hi), (lo2, _hi2) in zip(spans, spans[1:]):
            assert hi <= lo2  # files tile the leading key, no overlap
