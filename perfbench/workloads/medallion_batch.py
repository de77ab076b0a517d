"""The batch half of ``lake_write``: the reference lifecycle, pass after
pass, each pass into a fresh lake.

    sources.csv_source.load_stock_csv   one call per messy CSV file
    api.ingest                          each loaded file appended to bronze
    api.transform clean                 bronze -> silver
    api.transform normalize             silver -> silver
    api.transform aggregate (D)         silver -> gold daily bars
    operators.finance.window_indicators and returns_correlation on gold
    lake.compact                        bronze, one file per partition

Input rows over the summed time of the timed passes is the throughput.
Set-up loads a small input's CSVs into bronze; one untimed pass over that
input, then untimed passes over the full input until the warm-up deadline,
warm the JVM; then passes run until the time they are given has passed,
and at least ``MIN_TIMED_PASSES``.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from perfbench import gen, oracle
from perfbench.workloads import Workload

N_SYMBOLS = 10
DAYS = 15  # 10 symbols x 15 days x 390 bars = 58,500 bars before dirtying
WARM_SYMBOLS = 3
# one pass's time spreads more from run to run than the mean of two, so a
# run times at least two even when one outlasts the time it is given
MIN_TIMED_PASSES = 2
WARM_DAYS = 2


STEPS = {  # lifecycle step -> the layer function it times (its span name)
    "load_stock_csv": "sources.csv_source.load_stock_csv",
    "ingest": "api.ingest",
    "transform_clean": "pipeline.transform_clean",
    "transform_normalize": "pipeline.transform_normalize",
    "transform_aggregate": "pipeline.transform_aggregate",
    "window_indicators": "operators.finance.window_indicators",
    "returns_correlation": "operators.finance.returns_correlation",
    "compact": "lake.compact",
}
ROW_COUNTS = ("sources.csv_source.rows_out", "operators.clean.rows_in",
              "operators.clean.rows_out", "operators.normalize.rows_out",
              "operators.aggregate.rows_out", "operators.finance.window_indicators.rows_out",
              "operators.finance.returns_correlation.rows_out")


class MedallionBatch(Workload):
    name = "medallion_batch"
    layer_names = (
        *(f"{layer}_ms" for layer in STEPS.values()),
        "lake.save_ms", "lake.read_ms", "lake.files_written", "lake.bytes_per_input_byte",
        *ROW_COUNTS,
        *(f"spark.{c}_per_op.{s}" for s in STEPS for c in ("jobs", "tasks")),
    )

    def generate(self) -> None:
        self.csv = gen.messy_csvs(self.seed, os.path.join(self.inputs, "csv"), N_SYMBOLS, DAYS)
        # warm-up input: same files and code paths, a few thousand rows
        self.warm_csv = gen.messy_csvs(self.seed + 1, os.path.join(self.inputs, "warm"),
                                       WARM_SYMBOLS, WARM_DAYS)
        self.passes: list[dict] = []
        self.tracer = None

    def setup(self, spark) -> None:
        """The session plus loading the small input's CSVs into a bronze
        table, the lake's first reads and writes."""
        from real_time_financial_data_pipeline_spark import api
        from real_time_financial_data_pipeline_spark.lake import DataLake
        from real_time_financial_data_pipeline_spark.sources import csv_source

        self.spark = spark
        lake = DataLake(spark, os.path.join(self.work, "setup"))
        self.setup_rows = sum(
            api.ingest(lake, csv_source.load_stock_csv(spark, f), "csv", "stock")["records_count"]
            for f in self.warm_csv["files"])

    def warmup(self, until: float) -> None:
        """One untimed pass over the small input, then passes over the full
        input until ``until``: the first passes pay for class loading, JIT
        and code generation, so the timed passes do not."""
        self.passes.append(self._pass(0, self.warm_csv))
        while time.perf_counter() < until:
            self.passes.append(self._pass(len(self.passes), self.csv))

    def teardown(self) -> None:
        for root in [os.path.join(self.work, "setup"), *(p["root"] for p in self.passes)]:
            shutil.rmtree(root, ignore_errors=True)

    def instrument(self, tracer) -> None:
        from real_time_financial_data_pipeline_spark import api, pipeline
        from real_time_financial_data_pipeline_spark.lake import DataLake

        self.tracer = tracer
        for fn in ("read", "save"):
            tracer.patch(DataLake, fn, f"lake.{fn}")
        tracer.patch(api, "transform_pipeline", "pipeline.transform_pipeline")
        tracer.patch(pipeline, "apply_transform", "pipeline.apply_transform")

    def _step(self, steps: list, kind: str, fn, *args, **kwargs):
        """``fn(*args, **kwargs)``, its wall time appended to ``steps``."""
        t0 = time.perf_counter()
        if self.tracer is None:
            out = fn(*args, **kwargs)
        else:
            with self.tracer.op(kind), self.tracer.span(STEPS[kind]):
                out = fn(*args, **kwargs)
        steps.append(time.perf_counter() - t0)
        return out

    def _pass(self, i: int, csv: dict) -> dict:
        from real_time_financial_data_pipeline_spark import api
        from real_time_financial_data_pipeline_spark.lake import DataLake
        from real_time_financial_data_pipeline_spark.operators import finance
        from real_time_financial_data_pipeline_spark.sources import csv_source

        spark = self.spark
        root = os.path.join(self.work, f"pass-{i}")
        lake = DataLake(spark, root)
        counts = {"ingest": 0}
        steps: list[float] = []
        t0 = time.perf_counter()
        for path in csv["files"]:
            df = self._step(steps, "load_stock_csv", csv_source.load_stock_csv, spark, path)
            out = self._step(steps, "ingest", api.ingest, lake, df, "csv", "stock")
            counts["ingest"] += out["records_count"]
        bronze = out["dataset"]
        for kind, src, dst, params in (
            ("clean", f"bronze/{bronze}", "silver/stock_clean", None),
            ("normalize", "silver/stock_clean", "silver/stock_norm", {"data_type": "stock"}),
            ("aggregate", "silver/stock_norm", "gold/stock_daily",
             {"time_period": "D", "group_cols": ["symbol"]}),
        ):
            out = self._step(steps, f"transform_{kind}", api.transform,
                             lake, src, dst, kind, params)
            counts[kind] = out["records_count"]
        gold = lake.read("stock_daily", "gold")
        indicators = self._step(
            steps, "window_indicators",
            lambda: finance.window_indicators(gold, ["symbol"], day_col="period").toPandas())
        correlations = self._step(
            steps, "returns_correlation",
            lambda: finance.returns_correlation(gold, "symbol", day_col="period").toPandas())
        compact = self._step(steps, "compact", lake.compact, bronze)
        seconds = time.perf_counter() - t0
        return {
            "root": root,
            "csv": csv,
            "seconds": seconds,
            "steps": steps,
            "counts": counts,
            "indicators": indicators,
            "correlations": correlations,
            "compact": compact,
            "bronze_path": os.path.join(root, "bronze", bronze),
            "gold_path": os.path.join(root, "gold", "stock_daily"),
        }

    def run(self, seconds: float) -> None:
        self.timed: list[dict] = []
        deadline = time.perf_counter() + seconds
        while len(self.timed) < MIN_TIMED_PASSES or time.perf_counter() < deadline:
            self.timed.append(self._pass(len(self.passes), self.csv))
            self.passes.append(self.timed[-1])

    def verify(self) -> tuple[int, list[str]]:
        bad = []
        for i, p in enumerate(self.passes):
            bad += [f"pass {i}: {m}" for m in
                    oracle.check_medallion_pass(p, p["csv"]["clean"], p["csv"]["csv_rows"])]
        if self.setup_rows != self.warm_csv["csv_rows"]:
            bad.append(f"set-up ingest: {self.setup_rows} records, "
                       f"expected {self.warm_csv['csv_rows']}")
        steps_per_pass = 2 * len(self.csv["files"]) + 6
        return steps_per_pass * len(self.passes) + 1, bad

    def rows_per_s(self) -> float:
        return (self.csv["csv_rows"] * len(self.timed)
                / sum(p["seconds"] for p in self.timed))

    def layer_metrics(self, tracer) -> dict[str, float]:
        n, n_timed = len(self.passes), len(self.timed)

        def per_timed_pass_ms(span: str) -> float:
            d = tracer.durations(span)  # in call order; each pass makes as many
            return 1e3 * sum(d[len(d) // n * (n - n_timed):]) / n_timed

        out: dict[str, float] = {}
        for step, layer in STEPS.items():
            out[f"{layer}_ms"] = per_timed_pass_ms(layer)
        out["lake.save_ms"] = per_timed_pass_ms("lake.save")
        out["lake.read_ms"] = per_timed_pass_ms("lake.read")
        p = self.passes[-1]
        written = oracle.list_files(p["root"])
        out["lake.files_written"] = float(
            len(written) + p["compact"]["files_before"] - p["compact"]["files_after"])
        out["lake.bytes_per_input_byte"] = (
            sum(os.path.getsize(f) for f in written) / self.csv["csv_bytes"])
        rows = (p["counts"]["ingest"], p["counts"]["ingest"], p["counts"]["clean"],
                p["counts"]["normalize"], p["counts"]["aggregate"], len(p["indicators"]),
                len(p["correlations"]))
        out.update({k: float(v) for k, v in zip(ROW_COUNTS, rows)})
        all_counts = tracer.job_counts()
        for kind in STEPS:
            per_pass = np.array(all_counts[kind]).reshape(n, -1, 3).sum(axis=1)[n - n_timed:]
            jobs, _, tasks = np.median(per_pass, axis=0)
            out[f"spark.jobs_per_op.{kind}"] = float(jobs)
            out[f"spark.tasks_per_op.{kind}"] = float(tasks)
        return out
