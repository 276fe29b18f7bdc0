"""Write-time CHECK constraints on the snapshot log
(``add_table_constraint`` — Delta's ALTER TABLE ADD CONSTRAINT): the map rides every commit, every write path
verifies its rows inside the write job's own CollectMetrics (zero
extra scans), and a violating transaction is refused WHOLE — temp
files deleted, no snapshot advanced, nothing partially visible."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from evmtrace_etl_spark.sinks import (
    ConstraintViolation,
    add_table_constraint,
    append_files,
    delete_where,
    merge_into,
    read_table,
    table_history,
    update_where,
)


def _seed(spark, tmp_path) -> str:
    tbl = str(tmp_path / "tbl")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    append_files(spark, df.coalesce(1), tbl, cols=["k"], keep_versions=10)
    return tbl


def test_add_validates_existing_and_enforces_appends(spark, tmp_path):
    """Adding a constraint existing rows violate refuses; once added,
    a violating append is rejected whole (row count and snapshot
    unchanged) while a clean append lands."""
    tbl = _seed(spark, tmp_path)
    with pytest.raises(ConstraintViolation, match="existing rows"):
        add_table_constraint(spark, tbl, "v_big", "v >= 100")
    led = add_table_constraint(spark, tbl, "v_nonneg", "v >= 0")
    assert led["constraints"] == {"v_nonneg": "v >= 0"}
    v_before = led["version"]

    bad = spark.range(100, 110).select(
        F.col("id").alias("k"), F.lit(-5).cast("long").alias("v")
    )
    with pytest.raises(ConstraintViolation, match="v_nonneg"):
        append_files(spark, bad.coalesce(1), tbl, keep_versions=10)
    assert read_table(spark, tbl).count() == 100
    assert table_history(tbl)[-1]["version"] == v_before

    good = spark.range(100, 110).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    append_files(spark, good.coalesce(1), tbl, keep_versions=10)
    assert read_table(spark, tbl).count() == 110


def test_merge_both_strategies_enforce(spark, tmp_path):
    """A merge whose source violates the constraint is refused under
    copy-on-write AND merge-on-read, leaving the table untouched; the
    same merge with clean values lands."""
    tbl = _seed(spark, tmp_path)
    add_table_constraint(spark, tbl, "v_nonneg", "v >= 0")
    src_bad = spark.range(50, 60).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    for strategy in ("copy-on-write", "merge-on-read"):
        with pytest.raises(ConstraintViolation, match="v_nonneg"):
            merge_into(
                spark, src_bad, tbl, keys=["k"], keep_versions=10,
                strategy=strategy,
            )
        t = read_table(spark, tbl)
        assert t.count() == 100 and t.filter("v < 0").count() == 0
    src_ok = spark.range(50, 60).select(
        F.col("id").alias("k"), F.lit(7).cast("long").alias("v")
    )
    merge_into(spark, src_ok, tbl, keys=["k"], keep_versions=10)
    assert read_table(spark, tbl).filter("v = 7").count() == 10


def test_update_where_enforces_and_null_passes(spark, tmp_path):
    """An update_where SET that would break the constraint is refused
    (ANSI: only FALSE violates — NULL passes, presence needs an
    explicit IS NOT NULL constraint)."""
    tbl = _seed(spark, tmp_path)
    add_table_constraint(spark, tbl, "v_cap", "v <= 2000")
    with pytest.raises(ConstraintViolation, match="v_cap"):
        update_where(
            spark, tbl, {"k": (0, 10)}, {"v": F.lit(9999)},
        )
    assert read_table(spark, tbl).filter("v = 9999").count() == 0
    # NULL result of the check expr passes (ANSI CHECK)
    update_where(
        spark, tbl, {"k": (0, 0)},
        {"v": F.lit(None).cast("long")},
    )
    assert read_table(spark, tbl).filter("v is null").count() == 1


def test_constraint_carries_across_commits(spark, tmp_path):
    """The map carries across unrelated commits — a clean append and a
    merge — so a violating append after them is still refused whole."""
    tbl = _seed(spark, tmp_path)
    add_table_constraint(spark, tbl, "v_nonneg", "v >= 0")
    append_files(
        spark,
        spark.range(100, 105).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ).coalesce(1),
        tbl,
        keep_versions=10,
    )
    merge_into(
        spark,
        spark.range(0, 5).select(
            F.col("id").alias("k"), F.lit(1).cast("long").alias("v")
        ),
        tbl,
        keys=["k"],
        keep_versions=10,
    )
    head = table_history(tbl)[-1]["version"]
    neg = spark.range(200, 205).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    with pytest.raises(ConstraintViolation, match="v_nonneg"):
        append_files(spark, neg.coalesce(1), tbl, keep_versions=10)
    assert table_history(tbl)[-1]["version"] == head
    assert read_table(spark, tbl).count() == 105
    assert read_table(spark, tbl).filter("v < 0").count() == 0


def test_constraint_on_column_omitted_by_batch_null_passes(spark, tmp_path):
    """ANSI CHECK semantics when a batch legitimately OMITS an older
    constrained column (add-only evolution null-fills it): NULL is
    UNKNOWN, UNKNOWN passes — the append must land, not die on an
    unresolved-column AnalysisException, because every write path
    aligns the batch to the full stored schema (``_aligned``) BEFORE
    the constraint observation attaches.  Presence is enforced with an
    explicit IS NOT NULL constraint — second leg."""
    tbl = _seed(spark, tmp_path)
    add_table_constraint(spark, tbl, "v_nonneg", "v >= 0")

    # batch omits v entirely — null-filled, NULL passes the CHECK
    only_k = spark.range(100, 105).select(F.col("id").alias("k"))
    led = append_files(spark, only_k.coalesce(1), tbl, keep_versions=10)
    assert led["rows"] == 5
    got = read_table(spark, tbl)
    assert got.count() == 105
    assert got.filter("v IS NULL").count() == 5

    # explicit presence constraint: now an omitting batch is refused
    with pytest.raises(ConstraintViolation, match="existing rows"):
        add_table_constraint(spark, tbl, "v_present", "v IS NOT NULL")


def test_obs_result_verifies_zero_row_premise():
    """The AQE empty-relation fallback in ``_obs_result`` substitutes
    zero metrics ONLY when the written output really has zero rows:
    with footer ground truth showing landed rows, the original error
    re-raises (the same Observation carries constraint-violation
    counts — fabricated zeros would commit a violating batch
    silently).  Matching errors without ground truth keep the
    documented zero fallback; non-matching errors always re-raise."""
    from py4j.protocol import Py4JJavaError

    from evmtrace_etl_spark.sinks import _obs_result

    class _FakeJavaErr(Py4JJavaError):
        def __init__(self, msg):
            Exception.__init__(self, msg)
            self._msg = msg

        def __str__(self):
            return self._msg

    class _Obs:
        def __init__(self, msg):
            self._msg = msg

        @property
        def get(self):
            raise _FakeJavaErr(self._msg)

    # premise violated: rows landed -> re-raise
    import pytest as _pytest

    with _pytest.raises(Py4JJavaError):
        _obs_result(_Obs("assertion failed"), verify_rows=lambda: 7)
    # premise verified: zero rows -> zero-defaulting mapping
    vals = _obs_result(_Obs("assertion failed"), verify_rows=lambda: 0)
    assert vals["n"] == 0 and vals["_viol_0"] == 0
    # ground truth unavailable (probe raises) -> keep the fallback
    def _boom():
        raise OSError("gone")

    assert _obs_result(_Obs("toPyRow"), verify_rows=_boom)["n"] == 0
    # a non-matching JVM error is never swallowed
    with _pytest.raises(Py4JJavaError):
        _obs_result(_Obs("OutOfMemoryError"), verify_rows=lambda: 0)


def test_non_dict_predicates_refused(spark, tmp_path):
    """``delete_where``/``update_where`` refuse predicates that are not
    a dict: the spelling that once passed the log location as the third
    positional argument, ``delete_where(spark, tbl, None, {...})``,
    would otherwise bind ``predicates=None`` — match every row — and
    empty the table.  Rows and version stay as they were."""
    tbl = _seed(spark, tmp_path)
    head = table_history(tbl)[-1]["version"]
    with pytest.raises(TypeError, match="predicates must be a dict"):
        delete_where(spark, tbl, None, {"k": (5, 9)})
    with pytest.raises(TypeError, match="predicates must be a dict"):
        update_where(spark, tbl, None, {"k": (5, 9)}, {"v": "-1"})
    assert read_table(spark, tbl).count() == 100
    assert read_table(spark, tbl).filter("v < 0").count() == 0
    assert table_history(tbl)[-1]["version"] == head
