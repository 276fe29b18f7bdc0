"""Generic relational operators: keyed dedup (keep-first / keep-last) and
small helpers shared across plans (SURVEY §2.5).

The reference dedups each sink batch in-memory before INSERT: transactions
and blocks keep the LAST occurrence of a key (reverse→dedup→reverse,
reference src/types/etl_result.rs:205-209, 303-307), contracts keep the
FIRST (etl_result.rs:246-248).  Stream arrival order becomes an explicit
``order_col`` here — ``monotonically_increasing_id`` is only monotonic per
partition, so the order must come from the source (Kafka offset / fixture
``seq``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dedup_keep_last(
    df: DataFrame, keys: Sequence[str], order_col: str
) -> DataFrame:
    """D1/D3 — one row per key, the one with the greatest ``order_col``.

    Implemented as a window row_number rather than a self-join: one shuffle
    on the keys, and AQE handles skewed keys.  Ties broken arbitrarily but
    deterministically only if ``order_col`` is unique per key.
    """
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_time: str,
    right_time: str,
    right_payload: Sequence[str],
    right_tiebreak: str | None = None,
) -> DataFrame:
    """Backward as-of join: every ``left`` row gains the payload of the
    ``right`` row with the greatest ``right_time`` at-or-before the left
    row's ``left_time`` within the same ``on`` key (left-join semantics —
    unmatched left rows keep null payload).  Ties on ``right_time`` are
    broken toward the greatest ``right_tiebreak``, which makes the result
    deterministic whenever that column is unique per (key, time).

    Scale shape: the classic inequality-join formulation
    (``l JOIN r ON key AND r.t <= l.t`` + keep-max) degenerates to a
    BroadcastNestedLoopJoin or an O(|L|·|R|) per-key blow-up.  This is
    instead the union-tag merge: tag right rows 0 / left rows 1, shuffle
    ONCE on the key, sort each partition by (time, tag, tiebreak), and
    carry the most recent right payload forward with
    ``last(ignorenulls)`` over a running window.  One Exchange per side,
    one sort, zero joins — the same mergesort strategy a time-series
    engine (pandas ``merge_asof``, kdb ``aj``) uses, expressed with
    Spark's window machinery so AQE still handles key skew.
    """
    key = list(on)
    payload = F.struct(*[F.col(c) for c in right_payload])
    # the tiebreak keeps its NATIVE orderable type — casting to a fixed
    # numeric type would silently null out string/timestamp tiebreaks
    # and void the determinism guarantee
    tie_type = (
        right.schema[right_tiebreak].dataType
        if right_tiebreak is not None
        else T.LongType()
    )
    tie = (
        F.col(right_tiebreak)
        if right_tiebreak is not None
        else F.lit(None).cast(tie_type)
    )
    r = right.select(
        *key,
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_tag"),
        tie.alias("_tie"),
        payload.alias("_payload"),
        *[F.lit(None).alias(f"_l_{c}") for c in left.columns],
    )
    l = left.select(
        *key,
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_tag"),
        F.lit(None).cast(tie_type).alias("_tie"),
        F.lit(None).cast(r.schema["_payload"].dataType).alias("_payload"),
        *[F.col(c).alias(f"_l_{c}") for c in left.columns],
    )
    w = (
        Window.partitionBy(*key)
        .orderBy(F.col("_t").asc(), F.col("_tag").asc(), F.col("_tie").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = r.unionByName(l).withColumn(
        "_match", F.last("_payload", ignorenulls=True).over(w)
    )
    out = merged.filter(F.col("_tag") == 1).select(
        *[F.col(f"_l_{c}").alias(c) for c in left.columns],
        *[F.col("_match")[c].alias(f"asof_{c}") for c in right_payload],
    )
    return out


def interval_join_bucketed(
    intervals: DataFrame,
    points: DataFrame,
    on: Sequence[str],
    start: str,
    end: str,
    point_time: str,
    bucket_micros: int = 1_800_000_000,
) -> DataFrame:
    """Range (interval-containment) join: pair every ``points`` row with
    each ``intervals`` row of the same ``on`` key whose
    ``[start, end]`` (inclusive both ends) contains ``point_time``.
    Output: all interval columns + all point columns (inner join).

    Scale shape: Catalyst plans a raw
    ``key = key AND t BETWEEN start AND end`` join as a single-key
    equi-join whose per-key group is re-scanned per point — quadratic in
    the hot key — and with no equi-key at all it's a
    BroadcastNestedLoopJoin.  Bucketing restores a proper equi-join: an
    interval is exploded to the time buckets it covers (``sequence`` of
    bucket ids, width ``bucket_micros``), a point maps to exactly ONE
    bucket, and the join key becomes (key…, bucket).  Each candidate
    pair meets in precisely one bucket, so the containment refine needs
    no post-dedup.  Cost: one shuffle of each side on (key, bucket) +
    interval fan-out of ceil(span/width)+1 rows — pick ``bucket_micros``
    near the typical span so the fan-out stays O(1) per interval.
    """
    key = list(on)
    b = F.lit(int(bucket_micros))
    iv = intervals.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.floor(F.unix_micros(F.col(start)) / b).cast("long"),
                F.floor(F.unix_micros(F.col(end)) / b).cast("long"),
            )
        ),
    )
    pt = points.withColumn(
        "_bkt", F.floor(F.unix_micros(F.col(point_time)) / b).cast("long")
    )
    joined = iv.join(pt, [*key, "_bkt"]).filter(
        F.col(point_time).between(F.col(start), F.col(end))
    )
    return joined.drop("_bkt")
