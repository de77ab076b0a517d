"""Benchmark entry point.

    python3 perfbench/run.py --workload api_serve --seed 1 --seconds 16 --trace 0

Run from the repository root.  Every input is generated from ``--seed``; the
lake, checkpoints, Spark scratch space and generated inputs live under
``.perfbench/run-<pid>/`` in the current directory, so the run writes
nothing outside its checkout, and are removed at exit (a traced run keeps
its span file in ``.perfbench/``); a later run removes what a killed run
left there.  ``setup_s`` includes the launch of the Spark JVM.  The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.

Timing starts once the Spark JVM has been up for ``WARM_S`` seconds: until
then the workload runs untimed, because the JVM's compilers keep speeding
the program up for about that long.

``--trace 0`` measures the named workload and reports the end-to-end
metrics of ``BENCHMARK.json``.  ``--trace 1`` runs every workload, in a
fixed order and for an equal share of ``--seconds``, with spans and Spark
job counts recorded, and reports the per-layer metrics of all of them (so
every per-layer metric is measured on the workload whose layers it belongs
to) plus the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.getcwd()
PACKAGE = "real_time_financial_data_pipeline_spark"
# per-layer metrics run_workload adds for every workload
RUN_LAYER_NAMES = ("session.start_ms", "trace.overhead_pct")
# seconds from the launch of the Spark JVM to the start of timing; on a
# 4-core machine, request latency and batch pass times stop falling after
# about 30 s of a fresh JVM doing the workload's work (a longer warm-up
# would not leave the benchmark's runs room in their time budget)
WARM_S = 30.0
_jvm_launched_at = 0.0  # time.perf_counter() when the current JVM was launched


def declared_metrics(trace: bool) -> dict[str, str]:
    """``{name: unit}`` of the metrics BENCHMARK.json declares for a run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def layer_metric_names(workloads) -> list[str]:
    return [f"{w.name}.{n}" for w in workloads for n in (*w.layer_names, *RUN_LAYER_NAMES)]


def _prepare_env(work: str) -> None:
    """Pin the session to this machine's cores and keep every file the run
    writes inside ``work``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the largest run holds well under 1 GB; a smaller heap keeps the run
    # small on a machine it shares
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["TZ"] = "UTC"
    time.tzset()
    for var in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.environ[var] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    )


def _remove_dead_runs(base: str) -> None:
    """Remove the work directories of runs that were killed before their
    own clean-up."""
    for name in os.listdir(base) if os.path.isdir(base) else ():
        pid = name.removeprefix("run-")
        if not pid.isdigit():
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
        except PermissionError:
            pass


def _cpu_ticks() -> tuple[int, int]:
    """``(busy, stolen)`` clock ticks of all CPUs since boot, from
    ``/proc/stat``; ``(0, 0)`` where it does not exist.  Time the host gives
    to other guests shows as stolen; it slows every timed figure."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    # user nice system idle iowait irq softirq steal ...
    return sum(v[0:3]) + sum(v[5:7]), (v[7] if len(v) > 7 else 0)


def _spark():
    from real_time_financial_data_pipeline_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(os.environ["TMPDIR"], "warehouse"),
        },
    )


def _stop_jvm() -> None:
    """Shut the Spark JVM down and wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _workloads() -> dict:
    from perfbench.workloads.api_serve import ApiServe
    from perfbench.workloads.lake_write import LakeWrite

    return {w.name: w for w in (ApiServe, LakeWrite)}


def run_workload(cls, seed: int, seconds: float, work: str, trace: bool) -> dict:
    """Generate, set up in a new Spark session, warm, measure, verify.
    Returns the workload's results.  An untraced run calls this once, so
    its session comes with a freshly launched JVM; a traced run keeps the
    JVM for the next workload."""
    from pyspark import SparkContext

    from perfbench.trace import Tracer

    global _jvm_launched_at

    wl = cls(seed, os.path.join(work, cls.name))
    t0 = time.perf_counter()
    wl.generate()
    generate_s = time.perf_counter() - t0
    spark = tracer = None
    try:
        t0 = time.perf_counter()
        if SparkContext._gateway is None:
            _jvm_launched_at = t0
        spark = _spark()
        session_s = time.perf_counter() - t0
        if trace:
            # before set-up, so what set-up starts (a query, a server)
            # already calls the wrapped functions
            tracer = Tracer(spark.sparkContext)
            wl.instrument(tracer)
        t1 = time.perf_counter()
        wl.setup(spark)
        setup_s = time.perf_counter() - t1 + session_s
        wl.warmup(_jvm_launched_at + WARM_S)
        t0, cpu0 = time.perf_counter(), _cpu_ticks()
        wl.run(seconds)
        wall, cpu1 = time.perf_counter() - t0, _cpu_ticks()
        busy, stolen = (b - a for a, b in zip(cpu0, cpu1))
        attempted, bad = wl.verify()
        result = {
            "workload": wl,
            "setup_s": setup_s,
            "generate_s": generate_s,
            "steal_share": stolen / (busy + stolen) if busy + stolen else None,
            "attempted": attempted,
            "bad": bad,
            "metrics": wl.metrics(),
        }
        if tracer is not None:
            layers = wl.layer_metrics(tracer)
            layers["session.start_ms"] = 1e3 * session_s
            layers["trace.overhead_pct"] = 100.0 * tracer.overhead_s / wall
            if set(layers) != {*wl.layer_names, *RUN_LAYER_NAMES}:
                raise RuntimeError(f"{wl.name}: per-layer metrics {sorted(layers)}")
            result["layers"] = layers
            result["self_ms"] = tracer.self_ms_per_op()
            tracer.write(os.path.join(ROOT, ".perfbench", f"trace-{cls.name}-{seed}.json"))
        return result
    finally:
        if tracer is not None:
            tracer.restore()
        wl.teardown()
        if spark is not None:
            spark.stop()


def _report(res: dict) -> None:
    """Human-readable lines, with the names the metrics carry per workload."""
    wl = res["workload"]
    print(f"== {wl.name}: set-up {res['setup_s']:.3f} s,"
          f" inputs generated in {res['generate_s']:.2f} s, {wl.samples()} latency samples")
    print(f"   setup_s = {res['setup_s']:.4f} s")
    units = {"latency_p50_ms": "ms", "latency_p90_ms": "ms", "throughput_per_s": "1/s"}
    for k, v in res["metrics"].items():
        print(f"   {wl.display_names[k]} = {v:.4f} {units[k]}")
    ratio = len(res["bad"]) / res["attempted"]
    print(f"   ops_failed_ratio = {ratio:.4f} ({len(res['bad'])} of {res['attempted']})")
    for m in res["bad"][:20]:
        print(f"   FAILED {m}")
    if res["steal_share"] is not None:
        print(f"   host CPU steal while measuring: {100 * res['steal_share']:.0f}%"
              " of busy CPU time")
    if "self_ms" in res:
        print("   self time by layer, ms per operation: "
              + ", ".join(f"{k} {v:.1f}" for k, v in res["self_ms"].items()))
    for line in wl.report_lines():
        print(f"   {line}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: no {PACKAGE}/ in {ROOT}; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    workloads = _workloads()
    if args.workload not in workloads:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(workloads)}",
              file=sys.stderr)
        return 2

    declared = declared_metrics(bool(args.trace))
    _remove_dead_runs(os.path.join(ROOT, ".perfbench"))
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work)
    _prepare_env(work)
    try:
        if args.trace:
            results = [run_workload(cls, args.seed, args.seconds / len(workloads), work, True)
                       for cls in workloads.values()]
            values = {f"{r['workload'].name}.{k}": v
                      for r in results for k, v in r["layers"].items()}
        else:
            results = [run_workload(workloads[args.workload], args.seed, args.seconds, work,
                                    False)]
            values = {"setup_s": results[0]["setup_s"], **results[0]["metrics"]}
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    for res in results:
        _report(res)
    if set(values) != set(declared):
        print(f"error: metrics {sorted(set(values) ^ set(declared))} differ from BENCHMARK.json",
              file=sys.stderr)
        return 3
    attempted = sum(r["attempted"] for r in results)
    failed = sum(len(r["bad"]) for r in results)
    metrics = {k: {"value": values[k], "unit": declared[k]} for k in declared}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
