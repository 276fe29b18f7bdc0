"""SparkSession construction tuned for this engine.

Local mode is the test bed; the config is written for a real cluster:
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
Arrow on (Pandas-UDF fast path), explicit shuffle partition count.
"""

from __future__ import annotations

import functools
import os
import tempfile
import threading
import weakref
from concurrent.futures import ThreadPoolExecutor

from pyspark import SparkContext
from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

#: entries of Spark's compiled-class cache (a static conf, default 100).
#: A warm trace micro-batch (zk derivation, checksum, two lake upserts)
#: generates more distinct classes than 100, so the default evicts and
#: recompiles byte-identical classes every batch; at 2000 a warm batch
#: compiles none (measured, 4 cpus).
CODEGEN_CACHE_ENTRIES = 2000


def get_spark(
    app_name: str = "evmtrace_etl_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores.  Shuffle
    partitions default to the core count — at 100 TB on a real cluster
    this knob is instead sized so each shuffle partition lands in the
    100-200 MB range; AQE's coalescing makes the exact figure forgiving.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Spark's default INT96 timestamp encoding is a deprecated
        # parquet type that gets NO min/max column statistics — every
        # written timestamp column silently loses row-group pruning and
        # file-skipping (measured: a ts-clustered rewrite produced
        # all-NULL manifest spans).  TIMESTAMP_MICROS is lossless
        # (Spark timestamps ARE microseconds internally) and
        # stats-complete.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # local mode puts driver, all executor threads, shuffle AND
        # streaming state stores in ONE heap; 8g showed GC-driven aging
        # late in long multi-query sessions (measured: the same upsert
        # query 2-3x slower after ~60 queries than in a fresh session)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # managed tables (bucketed exports) land outside the repo; on a
        # cluster this is the real warehouse/metastore path.  The pid
        # suffix isolates concurrent local processes (a driver verify
        # racing a pytest would otherwise overwrite each other's
        # managed-table files); the name matches the evmtrace_*_{pid}
        # scratch-dir convention, so sink_parity's reaper collects
        # warehouses of dead processes too.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(
                    tempfile.gettempdir(),
                    f"evmtrace_warehouse_{os.getpid()}",
                ),
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def materialize(df):
    """Truncate lineage and eagerly materialize ``df`` for iterative
    reuse (PageRank rounds, pointer-jumping, shared replay batches).

    Local/test mode uses ``localCheckpoint`` — cheap, but it pins the
    materialized blocks to executor liveness, which is only safe when
    driver and executors share one JVM.  When the session has a
    RELIABLE checkpoint directory configured
    (``sc.setCheckpointDir(...)`` — a cluster deployment points it at
    shared storage), this switches to ``checkpoint``, which survives
    executor loss.  One call site, both deployment shapes; the
    2-executor smoke test drives the reliable branch.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def par_legs(spark: SparkSession, *thunks):
    """Run independent legs CONCURRENTLY (the overlap-independent-jobs
    pattern): each leg's driver round trips (collects, commits, index
    reads) are time the OTHER leg's jobs would otherwise leave the
    executors idle for.

    The first leg runs on the calling thread; each other leg runs on a
    helper thread that inherits the caller's Spark local properties and
    session tags (``inheritable_thread_target``), so its jobs stay in
    the caller's job group — a streaming query's ``runId`` — where
    ``query.stop()`` cancels them and the status tracker lists them.
    Results come back in argument order.  Every leg has returned
    before this returns or raises; a failure re-raises the first
    failing leg's exception, in argument order."""
    first, *rest = thunks
    # leaving the block joins every helper thread, also when ``first``
    # or a helper's ``result()`` raises
    with ThreadPoolExecutor(max_workers=len(rest)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(t)) for t in rest
        ]
        head = first()
        return [head, *(f.result() for f in futures)]


def per_context(build):
    """Memoize ``build(*args)`` — a builder of Column expressions or
    UDFs over hashable arguments — once per live SparkContext.

    Column expressions hold JVM objects of the context that built them,
    so the cache is keyed on the context itself (weakly; a stopped
    context's entries go with it), never on module import.  Reusing
    the same expressions also keeps their generated lambda-variable
    names, so every micro-batch analyzes to the same plan."""
    cache: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
    lock = threading.Lock()

    @functools.wraps(build)
    def cached(*args):
        sc = SparkContext._active_spark_context
        if sc is None:  # nothing to key on (a UDF builds without one)
            return build(*args)
        with lock:
            built = cache.setdefault(sc, {})
            if args not in built:
                built[args] = build(*args)
            return built[args]

    return cached
