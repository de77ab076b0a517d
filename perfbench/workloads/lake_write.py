"""``lake_write``: the lake's write paths, one after the other in one
session.

    set-up   the batch half's set-up, then the stream half's (live query
             started, first warm round of tick files committed)
    warm-up  the stream's second warm round, then batch passes until the
             warm-up deadline (the live query idles meanwhile)
    run      the stream's open loop for ``STREAM_SHARE`` of the measured
             time and its backlog drain, then timed batch passes for the
             rest (at least two passes)

The stream's tick latency is this workload's latency; the batch
lifecycle's CSV rows per second is its throughput.  The halves live in
``stream_ingest.py`` and ``medallion_batch.py``.
"""

from __future__ import annotations

import os

from perfbench.workloads import Workload
from perfbench.workloads.medallion_batch import MedallionBatch
from perfbench.workloads.stream_ingest import StreamIngest

STREAM_SHARE = 0.6


class LakeWrite(Workload):
    name = "lake_write"
    layer_names = (*StreamIngest.layer_names, *MedallionBatch.layer_names)
    display_names = {"latency_p50_ms": "stream_latency_p50_ms",
                     "latency_p90_ms": "stream_latency_p90_ms",
                     "throughput_per_s": "batch_rows_per_s"}

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.stream = StreamIngest(seed, os.path.join(work, "stream"))
        self.batch = MedallionBatch(seed, os.path.join(work, "batch"))

    def generate(self) -> None:
        self.stream.generate()
        self.batch.generate()

    def setup(self, spark) -> None:
        self.batch.setup(spark)
        self.stream.setup(spark)

    def teardown(self) -> None:
        try:
            self.stream.teardown()
        finally:
            self.batch.teardown()

    def instrument(self, tracer) -> None:
        self.stream.instrument(tracer)
        self.batch.instrument(tracer)

    def warmup(self, until: float) -> None:
        self.stream.warmup(until)
        self.batch.warmup(until)

    def run(self, seconds: float) -> None:
        self.stream.run(STREAM_SHARE * seconds)
        self.batch.run((1 - STREAM_SHARE) * seconds)

    def verify(self) -> tuple[int, list[str]]:
        n_stream, bad_stream = self.stream.verify()
        n_batch, bad_batch = self.batch.verify()
        return (n_stream + n_batch,
                [f"stream {m}" for m in bad_stream] + [f"batch {m}" for m in bad_batch])

    def metrics(self) -> dict[str, float]:
        return {
            "latency_p50_ms": self.stream.latency_ms(50),
            "latency_p90_ms": self.stream.latency_ms(90),
            "throughput_per_s": self.batch.rows_per_s(),
        }

    def samples(self) -> int:
        return self.stream.samples()

    def report_lines(self) -> list[str]:
        return [*self.stream.report_lines(),
                f"batch: {len(self.batch.timed)} timed passes of"
                f" {self.batch.csv['csv_rows']} CSV rows after"
                f" {len(self.batch.passes) - len(self.batch.timed)} warm-up passes"]

    def layer_metrics(self, tracer) -> dict[str, float]:
        return {**self.stream.layer_metrics(tracer), **self.batch.layer_metrics(tracer)}
