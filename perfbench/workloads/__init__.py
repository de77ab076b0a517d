"""The benchmark's workloads.  Each one generates its inputs from the seed,
sets the program up (timed), warms it, runs it for the measured
time, then checks every output against the oracle."""

from __future__ import annotations

import os

import numpy as np


def percentile(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


class Workload:
    """Life cycle, called in this order by ``perfbench/run.py``:
    ``generate``; a fresh Spark JVM and session; ``instrument`` (traced
    runs only); ``setup``; ``warmup``; ``run``; ``verify``;
    ``metrics``/``layer_metrics``; ``teardown``."""

    name: str = ""
    # the name each end-to-end metric is printed under for this workload
    display_names: dict[str, str] = {}
    # what layer_metrics returns; ``perfbench/run.py`` adds
    # ``session.start_ms`` and ``trace.overhead_pct`` to each
    layer_names: tuple[str, ...] = ()

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        os.makedirs(self.inputs, exist_ok=True)

    def generate(self) -> None: ...

    def setup(self, spark) -> None: ...

    def teardown(self) -> None: ...

    def instrument(self, tracer) -> None: ...

    def warmup(self, until: float) -> None:
        """Untimed work until ``time.perf_counter()`` reaches ``until``, so
        the JVM's compilers have caught up when timing starts (a workload
        may stop earlier once its warm-up shows no more change)."""

    def run(self, seconds: float) -> None: ...

    def verify(self) -> tuple[int, list[str]]:
        """``(operations attempted, one message per failed operation)``."""
        raise NotImplementedError

    def metrics(self) -> dict[str, float]:
        """``latency_p50_ms``, ``latency_p90_ms`` and ``throughput_per_s``."""
        raise NotImplementedError

    def samples(self) -> int:
        """Latency samples behind the percentiles."""
        raise NotImplementedError

    def report_lines(self) -> list[str]:
        """More human-readable result lines."""
        return []

    def layer_metrics(self, tracer) -> dict[str, float]:
        raise NotImplementedError
