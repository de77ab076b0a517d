"""The stream half of ``lake_write``: an open loop of tick files into the
exactly-once bronze sink, then a backlog drain.

Live phase: for the time it is given, a generator thread drops one
parquet file of 500 ticks every 200 ms (plus ~2% re-delivered ticks; ~5%
of event times out of order by up to 3 s, far inside the 10-minute
watermark) on a fixed schedule that does not slow down when the engine
does.  The files flow through
``file_stream`` -> ``dedup_stream`` -> ``ingest_to_bronze(exactly_once=True)``
with the default trigger (next micro-batch as soon as the last ends).  A
tick's latency runs from its file's due time to the commit of the batch
whose ``_batch_id`` partition holds it, taken from ``recentProgress``.

Drain phase: 30 files of 2,000 ticks generated before set-up are drained
by a second query with ``trigger_available_now``; input rows per second of
its micro-batches' trigger time is the capacity.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import threading
import time

import numpy as np
import pandas as pd

from perfbench import gen, oracle
from perfbench.workloads import Workload, percentile

LIVE_TICKS_PER_FILE = 500
BACKLOG_TICKS_PER_FILE = 2_000
FILES_PER_S = 5.0
MAX_FILES_PER_TRIGGER = 10
BACKLOG_FILES = 30
BACKLOG_FIRST_ID = 10**12
WARM_FILES = 3
WARM_FIRST_ID = 2 * 10**12
WATERMARK = "10 minutes"


def _tick_schema():
    from pyspark.sql.types import (DoubleType, LongType, StringType, StructField, StructType,
                                   TimestampType)

    return StructType([
        StructField("tick_id", LongType()),
        StructField("symbol", StringType()),
        StructField("ts", TimestampType()),
        StructField("price", DoubleType()),
        StructField("size", LongType()),
    ])


def _commit_epoch(progress: dict) -> float:
    start = dt.datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00"))
    return start.timestamp() + progress["durationMs"]["triggerExecution"] / 1e3


class StreamIngest(Workload):
    name = "stream_ingest"
    layer_names = (
        "streaming.ingest.trigger_ms", "streaming.ingest.add_batch_ms",
        "streaming.ingest.latest_offset_ms", "streaming.state.rows_total",
        "streaming.state.memory_bytes", "streaming.dedup.dropped_ratio",
        "streaming.ingest.write_batch_ms", "streaming.micro_batches",
        "streaming.drain.micro_batches", "streaming.drain_rows_per_s",
        "bench.generator_lag_ms", "streaming.bronze_files",
        "spark.jobs_per_op.micro_batch", "spark.tasks_per_op.micro_batch",
    )

    def generate(self) -> None:
        self.live = gen.TickFiles(self.seed, 0, LIVE_TICKS_PER_FILE)
        self.warm = gen.TickFiles(self.seed, 2, LIVE_TICKS_PER_FILE, start_id=WARM_FIRST_ID)
        self.backlog = gen.TickFiles(self.seed, 1, BACKLOG_TICKS_PER_FILE,
                                     start_id=BACKLOG_FIRST_ID)
        self.backlog_dir = os.path.join(self.inputs, "backlog")
        os.makedirs(self.backlog_dir, exist_ok=True)
        for i in range(BACKLOG_FILES):
            self.backlog.write(i, self.backlog_dir)
        self.query = None
        self.phase = "live"
        self.dirs = [os.path.join(self.work, d) for d in ("live", "lake", "checkpoints")]

    def _start(self, src: str, table: str, available_now: bool):
        from real_time_financial_data_pipeline_spark.streaming import ingest

        stream = ingest.file_stream(self.spark, src, _tick_schema(),
                                    max_files_per_trigger=MAX_FILES_PER_TRIGGER)
        return ingest.ingest_to_bronze(
            ingest.dedup_stream(stream, ["tick_id"], "ts", WATERMARK),
            os.path.join(self.work, "lake", "bronze", table),
            os.path.join(self.work, "checkpoints", table),
            trigger_available_now=available_now,
            exactly_once=True,
        )

    def setup(self, spark) -> None:
        self.spark = spark
        self.src = os.path.join(self.work, "live")
        os.makedirs(self.src, exist_ok=True)
        self.query = self._start(self.src, "ticks_live", available_now=False)
        self.warm_progress: dict[int, dict] = {}
        self.warm_delivered = 0
        self._warm_round(0)

    def teardown(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None
        for d in self.dirs:
            shutil.rmtree(d, ignore_errors=True)

    def instrument(self, tracer) -> None:
        from real_time_financial_data_pipeline_spark.streaming import ingest

        make = ingest.make_batch_writer

        def traced_make(*args, **kwargs):
            write_batch = make(*args, **kwargs)

            def traced_write(batch_df, batch_id):
                kind = "micro_batch" if self.phase == "live" else "drain_batch"
                with tracer.op(kind), tracer.span(f"streaming.ingest.write_batch.{kind}"):
                    write_batch(batch_df, batch_id)

            return traced_write

        tracer.replace(ingest, "make_batch_writer", traced_make)

    def _warm_round(self, r: int) -> None:
        """``WARM_FILES`` files from their own tick-id range through the live
        query, until committed.  Set-up sends the first round, the warm-up
        the second, so the first timed batch does not pay for code
        generation and state-store start-up.  The oracle expects these
        ticks too."""
        for i in range(r * WARM_FILES, (r + 1) * WARM_FILES):
            self.warm_delivered += self.warm.write(i, self.src)
        self._wait_for(self.warm_delivered, self.warm_progress)

    def warmup(self, until: float) -> None:
        """The second warm round.  It does not wait for ``until``: in
        ``lake_write`` the batch warm-up that follows does."""
        self._warm_round(1)

    def _wait_for(self, rows: int, progress: dict) -> None:
        """Until the live query has read ``rows`` input rows in all."""
        deadline = time.perf_counter() + 120
        self._collect(self.query, progress)
        while sum(p["numInputRows"] for p in progress.values()) < rows:
            if self.query.exception() is not None or time.perf_counter() > deadline:
                raise RuntimeError(f"live query stalled: {self.query.status}")
            time.sleep(0.05)
            self._collect(self.query, progress)

    # -- load --------------------------------------------------------------------

    def _generator(self, start: float, seconds: float) -> None:
        i = 0
        while True:
            due = start + i / FILES_PER_S
            if due >= start + seconds:
                break
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            self.delivered += self.live.write(i, self.src)
            self.due.append(due)
            self.lag.append(time.time() - due)
            i += 1

    @staticmethod
    def _collect(query, into: dict) -> None:
        for p in query.recentProgress:
            into[p["batchId"]] = p

    def run(self, seconds: float) -> None:
        self.due, self.lag, self.delivered = [], [], 0
        self.warm_rows = sum(p["numInputRows"] for p in self.warm_progress.values())
        self.live_progress: dict[int, dict] = {}
        start = time.time() + 0.05
        gen_thread = threading.Thread(target=self._generator, args=(start, seconds))
        gen_thread.start()
        while gen_thread.is_alive():
            self._collect(self.query, self.live_progress)
            time.sleep(0.1)
        gen_thread.join()
        self._wait_for(self.warm_rows + self.delivered, self.live_progress)
        self.live_progress = {b: p for b, p in self.live_progress.items()
                              if b not in self.warm_progress}
        deadline = time.perf_counter() + 10
        while self.query.status["isTriggerActive"] and time.perf_counter() < deadline:
            time.sleep(0.01)  # let a trailing no-data batch finish before stop
        self.query.stop()
        self.query = None

        self.phase = "drain"
        drain = self._start(self.backlog_dir, "ticks_backlog", available_now=True)
        drain.awaitTermination(timeout=150)
        self.drain_progress = {p["batchId"]: p for p in drain.recentProgress}
        if drain.isActive or drain.exception() is not None:
            drain.stop()
            raise RuntimeError(f"backlog drain did not finish: {drain.exception()}")

    # -- results -----------------------------------------------------------------

    def _bronze(self, table: str):
        return oracle.read_table(os.path.join(self.work, "lake", "bronze", table))

    def verify(self) -> tuple[int, list[str]]:
        n_live = len(self.due)
        self.live_rows = self._bronze("ticks_live")
        self.backlog_rows = self._bronze("ticks_backlog")
        warm = self.warm.distinct(2 * WARM_FILES)
        live = self.live.distinct(n_live)
        backlog = self.backlog.distinct(BACKLOG_FILES)
        # warm-up files count as files -6..-1 of the live phase
        live_files = np.concatenate([self._file_of(self.warm, warm) - 2 * WARM_FILES,
                                     self._file_of(self.live, live)])
        bad = [f"live {m}" for m in oracle.check_ticks(
            self.live_rows, pd.concat([warm, live], ignore_index=True), live_files)]
        bad += [f"backlog {m}" for m in oracle.check_ticks(
            self.backlog_rows, backlog, self._file_of(self.backlog, backlog))]
        self.live_rows = self.live_rows[self.live_rows["tick_id"] < WARM_FIRST_ID]
        return 2 * WARM_FILES + n_live + BACKLOG_FILES, bad

    @staticmethod
    def _file_of(files: gen.TickFiles, ticks: pd.DataFrame) -> np.ndarray:
        return (ticks["tick_id"].to_numpy() - files.start_id) // files.ticks

    def _latencies_ms(self) -> np.ndarray:
        commit = {b: _commit_epoch(p) for b, p in self.live_progress.items()}
        rows = self.live_rows
        files = self._file_of(self.live, rows)
        due = np.asarray(self.due)[files]
        batch_commit = rows["_batch_id"].map(commit).to_numpy(dtype=float)
        return (batch_commit - due) * 1e3

    def latency_ms(self, q: float) -> float:
        return percentile(self._latencies_ms(), q)

    def drain_rows_per_s(self) -> float:
        """Input rows over the summed trigger time of the drain's batches:
        the running query's capacity, without its start and stop."""
        busy = [p for p in self.drain_progress.values() if p["numInputRows"] > 0]
        return (sum(p["numInputRows"] for p in busy)
                / sum(p["durationMs"]["triggerExecution"] / 1e3 for p in busy))

    def samples(self) -> int:
        return len(self.live_rows)

    def report_lines(self) -> list[str]:
        drain = self.drain_rows_per_s()
        offered = self.delivered / (len(self.due) / FILES_PER_S)
        return [f"stream_drain_rows_per_s = {drain:.1f} 1/s",
                f"offered {offered:.0f} rows/s = {offered / drain:.2f} of drain capacity"
                " (keep below 0.5)"]

    def layer_metrics(self, tracer) -> dict[str, float]:
        busy = [p for p in self.live_progress.values() if p["numInputRows"] > 0]
        out: dict[str, float] = {}
        for key, name in (("triggerExecution", "trigger_ms"), ("addBatch", "add_batch_ms"),
                          ("latestOffset", "latest_offset_ms")):
            out[f"streaming.ingest.{name}"] = float(np.mean([p["durationMs"][key] for p in busy]))
        last = max(busy, key=lambda p: p["batchId"])["stateOperators"][0]
        out["streaming.state.rows_total"] = float(last["numRowsTotal"])
        out["streaming.state.memory_bytes"] = float(last["memoryUsedBytes"])
        out["streaming.dedup.dropped_ratio"] = 1.0 - len(self.live_rows) / self.delivered
        out["streaming.ingest.write_batch_ms"] = 1e3 * float(
            np.mean(tracer.durations("streaming.ingest.write_batch.micro_batch")))
        out["streaming.micro_batches"] = float(len(busy))
        out["streaming.drain.micro_batches"] = float(
            sum(1 for p in self.drain_progress.values() if p["numInputRows"] > 0))
        out["bench.generator_lag_ms"] = 1e3 * max(self.lag)
        out["streaming.drain_rows_per_s"] = self.drain_rows_per_s()
        out["streaming.bronze_files"] = float(len(oracle.list_files(
            os.path.join(self.work, "lake", "bronze", "ticks_live"))))
        counts = tracer.job_counts().get("micro_batch", [(0, 0, 0)])
        jobs, _, tasks = np.median(np.array(counts), axis=0)
        out["spark.jobs_per_op.micro_batch"] = float(jobs)
        out["spark.tasks_per_op.micro_batch"] = float(tasks)
        return out
