"""Multi-executor smoke, run as a SUBPROCESS by test_cluster_smoke.py
(a second SparkContext cannot coexist with the shared test session).

Spins up ``local-cluster[2,4,2048]`` — two REAL executor JVMs with
separate heaps, not local-mode threads — and drives exactly the
operators whose docstrings promise cluster behavior:

- ``materialize()``'s RELIABLE branch: with ``setCheckpointDir`` set,
  the iterative operators checkpoint to shared storage instead of
  pinning blocks to executor liveness (``session.materialize``).
- Fixed-point PageRank across executors == the pure-Python reference
  (BIGINT arithmetic must be partition-count- and executor-invariant).
- Pointer-jumped connected components across executors.
- A broadcast join (the zk pipeline is full of them) and one
  foreachBatch upsert-sink cycle whose read-back equals the batch plan.
- The disk-bucketed co-located join: the catalog-carried bucket spec
  must produce a zero-Exchange join whose tasks span both executors.

Prints CLUSTER_SMOKE_OK as the last line on success.
"""

from __future__ import annotations

import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from evmtrace_etl_spark.session import get_spark, materialize  # noqa: E402


def main() -> None:
    ckpt = tempfile.mkdtemp(prefix="evmtrace_cluster_ckpt_")
    spark = get_spark(
        app_name="evmtrace_cluster_smoke",
        cpus=8,
        shuffle_partitions=8,
        extra_conf={
            "spark.master": "local-cluster[2,4,2048]",
            "spark.executor.memory": "2g",
            "spark.executorEnv.PYTHONPATH": REPO,
            # keep the local-mode driver heap override out of the way
            "spark.driver.memory": "4g",
        },
    )
    sc = spark.sparkContext
    sc.setCheckpointDir(ckpt)

    # Two real executors x 4 cores, not local-mode threads.  Executors
    # register asynchronously — wait for both before asserting.
    assert sc.master.startswith("local-cluster"), sc.master
    import time

    for _ in range(120):
        status = sc._jsc.sc().getExecutorMemoryStatus()
        if status.size() >= 3:  # driver + 2 executors
            break
        time.sleep(0.5)
    else:
        raise AssertionError(
            f"executors never registered: {status.size()} entries"
        )

    # materialize() must take the reliable-checkpoint branch here.
    probe = materialize(spark.range(16).repartition(4))
    assert probe.count() == 16
    assert any(os.scandir(ckpt)), "reliable checkpoint dir not written"

    # ---- PageRank vs the pure-Python fixed-point reference ----------
    from pyspark.sql import functions as F

    from evmtrace_etl_spark.operators.graph import pagerank_fixed_point
    from tests.test_property_differential import _ref_pagerank

    pairs = [
        (1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3),
        (5, 1), (1, 5), (2, 4), (4, 2),
    ]
    edges = spark.createDataFrame(pairs, "src: long, dst: long")
    got = {
        r["node"]: r["rank"]
        for r in pagerank_fixed_point(edges, rounds=3).collect()
    }
    want = _ref_pagerank(pairs, rounds=3)
    assert got == want, (got, want)

    # ---- Connected components across executors ----------------------
    from evmtrace_etl_spark.operators.dedup import connected_components

    cc_pairs = [(1, 2), (2, 3), (10, 11), (11, 12), (20, 21)]
    cc = spark.createDataFrame(cc_pairs, "doc_a: long, doc_b: long")
    labels = {
        r["doc_id"]: r["component_id"]
        for r in connected_components(cc).collect()
    }
    assert labels[1] == labels[2] == labels[3] == 1
    assert labels[10] == labels[11] == labels[12] == 10
    assert labels[20] == labels[21] == 20

    # ---- Broadcast join + one foreachBatch sink cycle ----------------
    from evmtrace_etl_spark.plans.zk_parity import project_tx
    from evmtrace_etl_spark.sinks import LakeUpsertSink
    from evmtrace_etl_spark.sources import fixtures
    from evmtrace_etl_spark.streaming import runner

    batch = fixtures.traces_df(spark)
    base = tempfile.mkdtemp(prefix="evmtrace_cluster_sink_")
    sink = LakeUpsertSink(os.path.join(base, "sink"))
    runner.process_trace_batch(batch, sink, checksum=False)
    got_rows = sorted(
        map(tuple, project_tx(sink.read(spark, "transactions")).collect())
    )
    from evmtrace_etl_spark.plans.pipeline import zk_transactions

    want_rows = sorted(
        map(tuple, project_tx(zk_transactions(batch)).collect())
    )
    assert got_rows == want_rows and len(got_rows) > 0, len(got_rows)

    # a plan with an explicit broadcast exercises the real block
    # transfer between JVMs (local mode fakes this in-heap)
    dim = spark.createDataFrame([(1, "a"), (2, "b")], "chain_id: long, tag: string")
    n = (
        batch.join(F.broadcast(dim), "chain_id")
        .groupBy("tag")
        .count()
        .count()
    )
    assert n >= 1

    # ---- Real-codec media pipeline across executor Python workers ----
    # encode → struct-decode are chained Arrow mapInPandas stages; on a
    # real cluster the codec module must ship to executor-side Python
    # workers (cloudpickle) and the binary columns must survive the
    # Arrow round-trip between separate JVMs.
    from evmtrace_etl_spark.operators.multimodal import (
        real_media_rollup,
        synth_media_params,
    )

    docs = spark.createDataFrame(
        [(i, "t", "s") for i in range(30)],
        "doc_id: long, text: string, source: string",
    )
    rollup = {
        r["media_type"]: (r["n_media"], r["total_units"])
        for r in real_media_rollup(docs).collect()
    }
    want_units = {"image/bmp": 0, "audio/wav": 0, "image/ppm": 0}
    counts = {k: 0 for k in want_units}
    for i in range(30):
        p = synth_media_params(i)
        mt = ["image/bmp", "audio/wav", "image/ppm"][p["kind"]]
        counts[mt] += 1
        want_units[mt] += p["n"] if p["kind"] == 1 else p["w"] * p["h"]
    assert rollup == {
        mt: (counts[mt], want_units[mt]) for mt in want_units
    }, rollup

    # the MP4 container demux rides the same executor-worker path
    from evmtrace_etl_spark.operators.multimodal import (
        mp4_media_rollup,
        synth_mp4_params,
    )

    mp4 = {
        r["media_type"]: (r["n_media"], r["total_samples"])
        for r in mp4_media_rollup(docs).collect()
    }
    want_samples = sum(synth_mp4_params(i)["n"] for i in range(30))
    assert mp4 == {"video/mp4": (30, want_samples)}, mp4

    # ---- Disk-bucketed co-located join across real executors ---------
    # the bucket spec lives in the driver's in-memory catalog; the scan
    # tasks land on BOTH executor JVMs and the join must still plan and
    # run with zero Exchange, matching the plain-join values.
    import contextlib
    import io

    from evmtrace_etl_spark.sinks import write_bucketed

    facts = spark.range(10_000).select(
        (F.col("id") % 997).alias("k"), F.col("id").alias("v")
    )
    dim2 = spark.range(997).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    bdir = tempfile.mkdtemp(prefix="evmtrace_cluster_bucketed_")
    bf = write_bucketed(
        facts, "smoke_bucketed_facts", key="k", n_buckets=4,
        path=os.path.join(bdir, "facts"),
    )
    bd = write_bucketed(
        dim2, "smoke_bucketed_dim", key="k", n_buckets=4,
        path=os.path.join(bdir, "dim"),
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bf.join(bd, "k")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("simple")
        assert "Exchange" not in buf.getvalue(), buf.getvalue()
        got_sum = joined.agg(F.sum(F.col("v") + F.col("w"))).collect()[0][0]
        want_sum = (
            facts.join(dim2, "k").agg(F.sum(F.col("v") + F.col("w"))).collect()[0][0]
        )
        assert got_sum == want_sum and got_sum is not None, (got_sum, want_sum)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    # ---- Snapshot-log transactions across real executors -------------
    # the R19/R20 lake tier's commit protocol on two executor JVMs:
    # partitioned seed append (Observation row counts, hive move-in),
    # keyed merge (update + ignore), txn replay no-op, predicate
    # delete, and the composed snapshot read — all values verified.
    from evmtrace_etl_spark.sinks import (
        append_files,
        delete_where,
        merge_into,
        read_table,
    )

    ltbl = os.path.join(
        tempfile.mkdtemp(prefix="evmtrace_cluster_lake_"), "t"
    )
    seed = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("p"),
        (F.col("id") * 10).alias("v"),
    )
    led = append_files(
        spark, seed, ltbl, cols=["k", "p"], partition_by=["p"]
    )
    assert led["rows"] == 1000, led
    src = spark.range(500, 1200).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("p"),
        F.lit(-1).cast("long").alias("v"),
    )
    mled = merge_into(spark, src, ltbl, keys=["k"], txn=("cl", 1))
    assert mled["rows_updated"] == 500 and mled["rows_inserted"] == 200
    assert merge_into(spark, src, ltbl, keys=["k"], txn=("cl", 1))[
        "skipped"
    ]
    iled = merge_into(
        spark,
        spark.range(1150, 1300).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).alias("p"),
            F.lit(-2).cast("long").alias("v"),
        ),
        ltbl,
        keys=["k"],
        mode="ignore",
    )
    assert iled["files_rewritten"] == 0 and iled["rows_inserted"] == 100
    dled = delete_where(spark, ltbl, None, {"k": (0, 99)})
    assert dled["rows_deleted"] == 100, dled
    t = read_table(spark, ltbl)
    assert t.count() == 1200  # 1000 - 100 + 200 + 100
    assert t.filter("v = -1").count() == 700
    assert t.filter("v = -2").count() == 100
    assert t.filter("k = 300").select("v").collect()[0][0] == 3000

    # ---- r11: merge-on-read suppression + CDC across real JVMs -------
    # the deletion-vector read path joins input_file_name-derived
    # provenance against broadcast maps ON THE EXECUTORS — exactly the
    # part a local[(*)] run cannot prove; the change feed's sidecar
    # files must also read back across JVMs.
    from evmtrace_etl_spark.sinks import materialize_deletes, table_changes

    mor = merge_into(
        spark,
        spark.range(200, 260).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).alias("p"),
            F.lit(-7).cast("long").alias("v"),
        ),
        ltbl,
        keys=["k"],
        strategy="merge-on-read",
    )
    assert mor["files_rewritten"] == 0 and mor["dv_files"] == 1, mor
    t2 = read_table(spark, ltbl)
    assert t2.count() == 1200
    assert t2.filter("v = -7").count() == 60
    assert t2.filter("k = 210").select("v").collect()[0][0] == -7
    mat = materialize_deletes(spark, ltbl)
    assert mat["rows_suppressed"] == 60 and mat["dv_files_removed"] == 1
    t3 = read_table(spark, ltbl)
    assert t3.count() == 1200 and t3.filter("v = -7").count() == 60

    ctbl = os.path.join(
        tempfile.mkdtemp(prefix="evmtrace_cluster_cdf_"), "t"
    )
    append_files(
        spark,
        spark.range(50).select(
            F.col("id").alias("k"), F.lit(1).cast("long").alias("v")
        ),
        ctbl,
        cols=["k"],
        enable_cdf=True,
    )
    merge_into(
        spark,
        spark.range(40, 60).select(
            F.col("id").alias("k"), F.lit(2).cast("long").alias("v")
        ),
        ctbl,
        keys=["k"],
    )
    cf = table_changes(spark, ctbl, 0, change_feed=True)
    counts = {
        r["_change_type"]: r["count"]
        for r in cf.groupBy("_change_type").count().collect()
    }
    assert counts == {
        "update_preimage": 10,
        "update_postimage": 10,
        "insert": 10,
    }, counts

    print("CLUSTER_SMOKE_OK")


if __name__ == "__main__":
    main()
