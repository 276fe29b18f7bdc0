"""The benchmark's workloads, driven through the package's public entry
points: ``streaming.sources.file_trace_stream`` / ``file_block_stream``
→ ``foreachBatch`` → ``streaming.runner.process_trace_batch`` /
``process_block_batch`` → ``sinks.LakeUpsertSink``, checksum on, as in
``runner.start_zk_stream``.

Every run starts from a sink seeded by an untimed drain, which is also
the JVM warm-up, billed to ``setup_s``.
"""

from __future__ import annotations

import os
import threading
import time

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from evmtrace_etl_spark import sinks
from evmtrace_etl_spark.plans import zk_parity
from evmtrace_etl_spark.plans.pipeline import (
    ZkParts,
    zk_contracts_deduped,
    zk_transactions,
)
from evmtrace_etl_spark.schemas import TRACE_SCHEMA
from evmtrace_etl_spark.sources import fixtures
from evmtrace_etl_spark.streaming import runner, sources

import gen
import measure
from tracing import Tracer

#: whole fixture replicas per trace file (396 trace rows)
BACKFILL_REPLICAS_PER_FILE = 12
#: files per micro-batch of the seeding drains and the backfill drain
SEED_FILES_PER_BATCH = 8
SEED_BATCHES = 2
BACKFILL_FILES_PER_BATCH = 60
BACKFILL_BATCHES = 2
#: share of the backfill backlog that re-delivers seeded trees
BACKFILL_REDELIVERED = 0.1
#: seeded block numbers (one micro-batch); the backfill re-delivers the
#: upper half and adds as many new ones again (one more micro-batch)
SEED_BLOCKS = 2000
BLOCKS_PER_FILE = 1000
#: head: one block file (6 replicas, 198 trace rows) every period
HEAD_REPLICAS_PER_FILE = 6
HEAD_PERIOD_S = 0.1
HEAD_TRIGGER = "0.5 seconds"
DRAIN_TIMEOUT_S = 150

TX_ADDRESS_COLS = (
    "from_address",
    "to_address",
    "closest_address",
    "ec_recover_addresses",
)


# ---------------------------------------------------------------------------
# output projections (hash-safe, lowercased addresses)
# ---------------------------------------------------------------------------


def project_tx(df: DataFrame) -> DataFrame:
    out = zk_parity.project_tx(df)
    for c in TX_ADDRESS_COLS:
        out = out.withColumn(c, F.lower(c))
    return out


def project_contracts(df: DataFrame) -> DataFrame:
    join_s = lambda c: F.array_join(c, ",")  # noqa: E731
    return df.select(
        "chain_id",
        F.lower("address").alias("address"),
        join_s("function_signatures").alias("function_signatures"),
        "degree",
        "ec_recover_count",
        "ec_add_count",
        "ec_mul_count",
        "ec_pairing_count",
        F.array_join(
            F.transform("ec_pairing_input_sizes", lambda x: x.cast("string")),
            ",",
        ).alias("ec_pairing_input_sizes"),
        F.lower(join_s("call")).alias("call"),
    )


def project_blocks(df: DataFrame) -> DataFrame:
    return df.select(
        *[F.lower(c).alias(c) if c == "miner" else F.col(c) for c in df.columns]
    )


# ---------------------------------------------------------------------------
# streams
# ---------------------------------------------------------------------------


class Drain:
    """One streaming query through ``process`` into ``sink``, recording
    the end of every ``foreachBatch`` call (for freshness) and, when a
    tracer is given, a span around the runner call."""

    def __init__(self, stream, process, sink, ckpt, tracer=None, span=None):
        self.batch_end: dict[int, float] = {}
        self.errors: list[str] = []
        self.ckpt = ckpt

        def _batch(batch: DataFrame, batch_id: int) -> None:
            try:
                if tracer is None:
                    process(batch, sink)
                else:
                    tracer.set_batch(batch_id)
                    tracer.span(span, process, batch, sink)
            except Exception as e:  # recorded, then fails the query
                self.errors.append(f"batch {batch_id}: {e!r}"[:500])
                raise
            finally:
                self.batch_end[batch_id] = time.perf_counter()

        self._writer = (
            stream.writeStream.foreachBatch(_batch)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
        )
        self.query = None

    def start(self, **trigger):
        self.query = self._writer.trigger(**trigger).start()
        return self

    def wait(self, timeout: float = DRAIN_TIMEOUT_S) -> None:
        try:
            if not self.query.awaitTermination(timeout):
                self.errors.append(f"not finished after {timeout} s")
                self.query.stop()
        except StreamingQueryException as e:
            self.errors.append(repr(e)[:500])

    def progress(self) -> list[dict]:
        """Progress of batches that read input."""
        return [
            p.durationMs | {"batchId": p.batchId}
            for p in self.query.recentProgress
            if p.numInputRows > 0
        ]

    def source_log(self) -> dict[str, int]:
        d = os.path.join(self.ckpt, "sources", "0")
        return measure.read_source_log(d) if os.path.isdir(d) else {}


# ---------------------------------------------------------------------------
# the benchmark
# ---------------------------------------------------------------------------


class Bench:
    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.gen = gen.TraceGen(seed)
        self._fixture_tx = None
        self._fixture_contracts = None

    def _dir(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    # -- inputs -----------------------------------------------------------

    def write_seed(self) -> None:
        """The seeding backlog: SEED_BATCHES micro-batches of whole
        replicas, plus SEED_BLOCKS block headers in two files."""
        n = SEED_BATCHES * SEED_FILES_PER_BATCH * BACKFILL_REPLICAS_PER_FILE
        self.seed_replicas = gen.shuffled_replicas(self.seed, 0, n)
        gen.write_trace_files(
            self.gen,
            self._dir("seed_traces"),
            self.seed_replicas,
            BACKFILL_REPLICAS_PER_FILE,
        )
        rows = [gen.block_row(b, b, 0) for b in range(SEED_BLOCKS)]
        gen.write_block_files(
            self._dir("seed_blocks"), rows, SEED_BLOCKS // SEED_BATCHES
        )

    def write_backfill(self) -> None:
        """The timed backlog: new replicas plus a re-delivered minority
        of seeded ones (whole files, every tenth file, so each batch
        re-delivers the same share whatever the seed), and block headers
        that re-deliver the upper seeded half and add new numbers."""
        files = BACKFILL_BATCHES * BACKFILL_FILES_PER_BATCH
        n = files * BACKFILL_REPLICAS_PER_FILE
        n_old = int(n * BACKFILL_REDELIVERED)
        n_old -= n_old % BACKFILL_REPLICAS_PER_FILE
        start = len(self.seed_replicas)
        new = gen.shuffled_replicas(self.seed, start, n - n_old)
        old = self.seed_replicas[:n_old]
        per = BACKFILL_REPLICAS_PER_FILE
        chunks = [new[i : i + per] for i in range(0, len(new), per)]
        step = round(1 / BACKFILL_REDELIVERED)
        for k, i in enumerate(range(0, len(old), per)):
            chunks.insert(k * step, old[i : i + per])
        self.backfill_replicas = [r for c in chunks for r in c]
        gen.write_trace_files(
            self.gen, self._dir("backfill_traces"), self.backfill_replicas, per
        )
        half = SEED_BLOCKS // 2
        redelivered = [
            gen.block_row(b, 10_000 + b, 1) for b in range(half, SEED_BLOCKS)
        ]
        new_blocks = [
            gen.block_row(b, 10_000 + b, 0)
            for b in range(SEED_BLOCKS, SEED_BLOCKS + 2 * half)
        ]
        self.backfill_blocks = redelivered + new_blocks
        gen.write_block_files(
            self._dir("backfill_blocks"), self.backfill_blocks, BLOCKS_PER_FILE
        )

    # -- passes -----------------------------------------------------------

    def _stream(self, path, fpt=None):
        return sources.file_trace_stream(
            self.spark, path, max_files_per_trigger=fpt
        )

    def seed_sink(self, blocks: bool) -> None:
        """A fresh sink seeded by an untimed drain of the seed backlog."""
        base = self._dir("stream")
        sink = sinks.LakeUpsertSink(os.path.join(base, "sink"))
        drains = [
            Drain(
                self._stream(self._dir("seed_traces"), SEED_FILES_PER_BATCH),
                runner.process_trace_batch,
                sink,
                os.path.join(base, "ckpt_seed_traces"),
            ).start(availableNow=True)
        ]
        if blocks:
            drains.append(
                Drain(
                    sources.file_block_stream(self.spark, self._dir("seed_blocks")),
                    runner.process_block_batch,
                    sink,
                    os.path.join(base, "ckpt_seed_blocks"),
                ).start(availableNow=True)
            )
        for d in drains:
            d.wait()
        errors = [e for d in drains for e in d.errors]
        if errors:
            raise RuntimeError(f"seeding drain failed: {errors}")
        self.sink = sink
        self.base = base

    def run_backfill(self, tracer: Tracer | None = None) -> dict:
        """Closed loop: drain the backfill backlog (traces and blocks,
        two queries side by side) into the seeded sink."""
        sink = self._traced_sink(tracer)
        t0 = time.perf_counter()
        tr = Drain(
            self._stream(self._dir("backfill_traces"), BACKFILL_FILES_PER_BATCH),
            runner.process_trace_batch,
            sink,
            os.path.join(self.base, "ckpt_traces"),
            tracer,
            "runner.process_trace_batch",
        ).start(availableNow=True)
        bl = Drain(
            sources.file_block_stream(self.spark, self._dir("backfill_blocks")),
            runner.process_block_batch,
            sink,
            os.path.join(self.base, "ckpt_blocks"),
            tracer,
            "runner.process_block_batch",
        ).start(availableNow=True)
        tr.wait()
        bl.wait()
        ends = list(tr.batch_end.values()) + list(bl.batch_end.values())
        wall = max(ends, default=time.perf_counter()) - t0
        names = os.listdir(self._dir("backfill_traces"))
        due = {n: t0 for n in names if not n.startswith(".")}
        rows = len(self.backfill_replicas) * gen.ROWS_PER_REPLICA + len(
            self.backfill_blocks
        )
        res = self._result(
            tr, bl, due, self.seed_replicas + self.backfill_replicas, True
        )
        # closed loop: the drain's wall time
        res["rows"], res["rows_per_s"] = rows, rows / wall
        return res

    def run_head(self, seconds: float, tracer: Tracer | None = None) -> dict:
        """Open loop: a generator thread writes one block file every
        HEAD_PERIOD_S for ``seconds`` into a running processingTime
        stream; every file is timed from when it was due."""
        sink = self._traced_sink(tracer)
        src = self._dir("head_traces")
        os.makedirs(src)
        n_files = max(1, round(seconds / HEAD_PERIOD_S))
        per = HEAD_REPLICAS_PER_FILE
        replicas = gen.shuffled_replicas(
            self.seed, len(self.seed_replicas), n_files * per
        )
        tr = Drain(
            self._stream(src),
            runner.process_trace_batch,
            sink,
            os.path.join(self.base, "ckpt_traces"),
            tracer,
            "runner.process_trace_batch",
        ).start(processingTime=HEAD_TRIGGER)
        due: dict[str, float] = {}
        late: list[float] = []

        def _generate(t0: float) -> None:
            for i in range(n_files):
                name = f"block-{i:05d}.json"
                t_due = t0 + i * HEAD_PERIOD_S
                pause = t_due - time.perf_counter()
                if pause > 0:
                    time.sleep(pause)
                gen.write_atomic(
                    os.path.join(src, name),
                    "".join(
                        self.gen.replica_lines(r)
                        for r in replicas[i * per : (i + 1) * per]
                    ),
                )
                due[name] = t_due
                late.append(max(0.0, time.perf_counter() - t_due))

        t0 = time.perf_counter()
        writer = threading.Thread(target=_generate, args=(t0,), daemon=True)
        writer.start()
        writer.join(seconds + 60)
        deadline = time.perf_counter() + DRAIN_TIMEOUT_S
        while time.perf_counter() < deadline and not tr.errors:
            if tr.query.exception() is not None:
                tr.errors.append(repr(tr.query.exception())[:500])
                break
            log = tr.source_log()
            if len(log) == n_files and set(log.values()) <= set(tr.batch_end):
                break
            time.sleep(0.2)
        else:
            if not tr.errors:
                tr.errors.append("head stream did not commit every file")
        tr.query.stop()
        res = self._result(tr, None, due, self.seed_replicas + replicas, False)
        # open loop: the input rate is fixed, so the rate that says
        # something is rows per second the stream spent in micro-batches
        rows = n_files * per * gen.ROWS_PER_REPLICA
        busy = sum(p["triggerExecution"] for p in res["progress"]) / 1e3
        res["rows"], res["rows_per_s"] = rows, rows / (busy or float("inf"))
        res["generator_late_s_max"] = max(late, default=0.0)
        res["backlog_files_max"] = (
            n_files
            if res["errors"]
            else max(
                measure.backlog_at_batch_ends(
                    due, tr.source_log(), tr.batch_end
                ),
                default=0,
            )
        )
        return res

    def _traced_sink(self, tracer):
        """The seeded sink, with ``upsert`` wrapped in a per-table span
        when tracing."""
        sink = self.sink
        if tracer is not None:
            upsert = sink.upsert

            def traced_upsert(df, table, *args, **kwargs):
                return tracer.span(
                    f"sinks.upsert.{table}", upsert, df, table, *args, **kwargs
                )

            sink.upsert = traced_upsert
        return sink

    def _result(self, tr, bl, due, replicas, blocks: bool) -> dict:
        """Progress, freshness and the output check of a pass whose
        trace query is ``tr`` (and block query ``bl``)."""
        prog = tr.progress()
        errors = tr.errors + (bl.errors if bl else [])
        attempted = len(tr.batch_end) + (len(bl.batch_end) if bl else 0)
        res = {
            "attempted": max(attempted, 1),
            "errors": errors,
            "trace_batches": len(tr.batch_end),
            "progress": prog,
        }
        try:
            res["freshness"] = measure.freshness(
                due, tr.source_log(), tr.batch_end
            )
        except (KeyError, ValueError) as e:
            errors.append(f"freshness: {e!r}"[:500])
            res["freshness"] = [float("inf")]
        if not errors:
            res["check"] = self.check(replicas, blocks)
        else:
            res["check"] = {"ok": False, "why": "stream errors"}
        return res

    # -- output check -----------------------------------------------------

    def fixture_expectation(self) -> None:
        """The single-batch pipeline result over the fixture, projected
        like the sink tables; expanded over replicas at check time."""
        traces = fixtures.traces_df(self.spark)
        self._fixture_tx = [
            tuple(r) for r in project_tx(zk_transactions(traces)).collect()
        ]
        self._fixture_contracts = [
            tuple(r)
            for r in project_contracts(zk_contracts_deduped(traces)).collect()
        ]

    def expected_tx(self, replicas) -> list[tuple]:
        out = []
        for r in sorted(set(replicas)):
            for row in self._fixture_tx:
                row = list(row)
                row[1] = gen.replica_hash(self.gen.salt, r, row[1])
                out.append(tuple(row))
        return out

    def expected_blocks(self, cols) -> list[tuple]:
        """Keep-last headers: every re-delivery replaces the seeded one."""
        rows = {b: gen.block_row(b, b, 0) for b in range(SEED_BLOCKS)}
        for r in self.backfill_blocks:
            rows[r["number"]] = r
        return [tuple(r[c] for c in cols) for r in rows.values()]

    def check(self, replicas, blocks: bool) -> dict:
        got_tx = measure.digest(
            project_tx(self.sink.read(self.spark, "transactions")).collect()
        )
        want_tx = measure.digest(self.expected_tx(replicas))
        got_c = measure.digest(
            project_contracts(self.sink.read(self.spark, "contracts")).collect()
        )
        want_c = measure.digest(self._fixture_contracts)
        out = {
            "transactions": [got_tx[0], want_tx[0], got_tx == want_tx],
            "contracts": [got_c[0], want_c[0], got_c == want_c],
        }
        if blocks:
            tbl = self.sink.read(self.spark, "blocks")
            cols = [f.name for f in tbl.schema.fields]
            got_b = measure.digest(project_blocks(tbl).collect())
            want_b = measure.digest(self.expected_blocks(cols))
            out["blocks"] = [got_b[0], want_b[0], got_b == want_b]
        out["ok"] = all(v[2] for v in out.values())
        return out

    # -- probes (traced runs only) ----------------------------------------

    def write_probe_batch(self) -> list[str]:
        """One backfill micro-batch worth of fresh replicas for the
        probes."""
        n = BACKFILL_FILES_PER_BATCH * BACKFILL_REPLICAS_PER_FILE
        d = self._dir("probe_traces")
        names = gen.write_trace_files(
            self.gen,
            d,
            gen.shuffled_replicas(self.seed, 90_000_000, n),
            BACKFILL_REPLICAS_PER_FILE,
        )
        return [os.path.join(d, f) for f in names]

    def probes(self, files: list[str]) -> dict:
        """Each layer's per-row rate on one batch's worth of files:
        the source decode, the derivation, the checksum and the sink
        upsert, each measured alone (median of three runs; two for
        the slow derivation and upsert)."""
        spark = self.spark

        def read():
            return spark.read.schema(TRACE_SCHEMA).json(files)

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        def timed(fn, reps=3):
            ts = []
            for _ in range(reps):
                t = time.perf_counter()
                fn()
                ts.append(time.perf_counter() - t)
            return measure.median(ts)

        n_rows = read().count()
        out = {}
        out["sources.decode_rows_per_s"] = n_rows / timed(lambda: noop(read()))

        def derive():
            df = read()
            parts = ZkParts(df)
            try:
                noop(zk_transactions(df, parts))
                noop(zk_contracts_deduped(df, parts))
            finally:
                parts.unpersist()

        out["pipeline.derive_rows_per_s"] = n_rows / timed(derive, 2)

        df = read()
        parts = ZkParts(df)
        try:
            tx = zk_transactions(df, parts).localCheckpoint(eager=True)
            contracts = zk_contracts_deduped(df, parts).localCheckpoint(
                eager=True
            )
        finally:
            parts.unpersist()
        addresses = tx.select(
            F.sum(
                F.when(F.col("from_address").isNotNull(), 1).otherwise(0)
                + F.when(F.col("to_address").isNotNull(), 1).otherwise(0)
                + F.size("closest_address")
                + F.size("ec_recover_addresses")
            )
        ).first()[0]
        cols = runner.TRANSACTION_ADDRESS_COLS
        out["checksum.addresses_per_s"] = addresses / timed(
            lambda: noop(runner.with_checksummed_addresses(tx, *cols))
        )

        sink = sinks.LakeUpsertSink(self._dir("probe_sink"))
        n_out = tx.count() + contracts.count()

        def upsert():
            sink.upsert(tx, "transactions", runner.TX_KEYS, mode="ignore")
            sink.upsert(
                contracts, "contracts", runner.CONTRACT_KEYS, mode="ignore"
            )

        upsert()  # seeds the table; the timed upserts all conflict
        out["sinks.upsert_rows_per_s"] = n_out / timed(upsert, 2)
        return out


def data_files(base: str) -> int:
    """Parquet data files under a sink directory (log and tombstone
    files excluded)."""
    n = 0
    for root, dirs, files in os.walk(base):
        dirs[:] = [d for d in dirs if not d.startswith("_")]
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n
