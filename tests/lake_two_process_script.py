"""Child writer for the cross-PROCESS two-writer tests: its own
SparkSession (separate JVM, separate driver — the in-process _log_lock
cannot help), racing the parent on a shared lake table through the
snapshot log with bounded conflict retries.

Usage: python lake_two_process_script.py <table> <lo> <n_batches> [mode]

mode "append" (default): append one 100-row batch per round.
mode "delmor": merge-on-read DELETE one 10-key slice per round,
keys [lo + 10*b, lo + 10*b + 9] — the two-erasure-jobs-racing shape;
a collision with the parent either rebases (disjoint tombstones /
pure-append winners) or full-retries through retry_on_conflict — the
exactly-once ledger is the contract either way.
mode "vacuum_loop": run vacuum_table(min_age_s=0) n_batches times —
the second maintenance actor of the two-actor recovery race; prints
one CHILD_VACUUM line per round with what it swept.
mode "recover": call sinks._recover_txn once and print CHILD_ROLLED
<back|forward|none> — the observable half of the exactly-once
adjudication contract.
"""

import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from evmtrace_etl_spark import sinks
from evmtrace_etl_spark.lake_log import manifest_dir
from evmtrace_etl_spark.sinks import (
    append_files,
    delete_where,
    retry_on_conflict,
    vacuum_table,
)


def main() -> None:
    tbl, lo, n_batches = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    mode = sys.argv[4] if len(sys.argv) > 4 else "append"
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("lake-two-process-child")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "1g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    if mode == "recover":
        got = sinks._recover_txn(manifest_dir(tbl))
        print(
            f"CHILD_ROLLED {got['rolled'] if got else 'none'}",
            flush=True,
        )
        spark.stop()
        print("CHILD_DONE", flush=True)
        return
    for b in range(n_batches):
        if mode == "vacuum_loop":
            removed = vacuum_table(tbl, min_age_s=0)
            print(f"CHILD_VACUUM {len(removed)}", flush=True)
        elif mode == "delmor":
            slice_lo = lo + 10 * b
            led = retry_on_conflict(
                lambda: delete_where(
                    spark, tbl, {"k": (slice_lo, slice_lo + 9)},
                    strategy="merge-on-read", keys=["k"],
                ),
                attempts=10,
            )
            print(
                f"CHILD_COMMIT v{led['version']} "
                f"deleted={led['rows_deleted']} "
                f"rebased={led.get('rebased', 0)}",
                flush=True,
            )
        else:
            batch = spark.range(lo + b * 100, lo + b * 100 + 100).select(
                F.col("id").alias("k"), F.lit(-2).cast("long").alias("v")
            )
            led = retry_on_conflict(
                lambda: append_files(spark, batch, tbl), attempts=10
            )
            print(
                f"CHILD_COMMIT v{led['version']} rows={led['rows']} "
                f"files={led['files_added']} rebased={led.get('rebased', 0)}",
                flush=True,
            )
    spark.stop()
    print("CHILD_DONE", flush=True)


if __name__ == "__main__":
    main()
