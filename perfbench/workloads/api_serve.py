"""``api_serve``: two clients in a closed loop against ``http_app.serve``.

Each client keeps one HTTP/1.1 connection and sends its next request only
when the previous reply has arrived.  Requests come from one seeded
sequence of shuffled decks of 20, so every 20 requests hold exactly the
mix below; symbols are drawn by Zipf popularity.  The latency percentiles
are taken over the whole decks a run completes, so every run's samples
hold the same mix (the heaviest tenth of the deck sits right at p90).

    7  GET  /api/data/bronze/<ds>?limit=100
    5  POST /api/query  timeseries, one symbol, one day
    3  POST /api/query  moving_average (n=7, first 100 rows)
    2  POST /api/query  correlation of two symbols, hourly buckets
    1  GET  /api/datasets/<ds>
    1  GET  /api/data/bronze/<ds>/download?limit=1000
    1  POST /api/ingest  (stub fetch_fn: 1,000 new bars of a new symbol)
"""

from __future__ import annotations

import http.client
import json
import os
import shutil
import threading
import time

import numpy as np

from perfbench import gen, oracle
from perfbench.workloads import Workload, percentile

N_SYMBOLS = 100
DAYS = 6  # 100 symbols x 6 days x 390 bars = 234,000 bars
CLIENTS = 2
INGEST_ROWS = 1_000
MA_N = 7
DECK = (["get_data"] * 7 + ["timeseries"] * 5 + ["moving_average"] * 3
        + ["correlation"] * 2 + ["dataset_info", "download", "ingest"])
KINDS = sorted(set(DECK))


class RequestPlan:
    """The seeded request sequence, shared by the clients under a lock."""

    def __init__(self, seed: int, syms: list[str], days: list[str]):
        self.rng = gen.rng_for(seed, 1)
        self.syms, self.days = np.array(syms, dtype=object), days
        self.weights = gen.zipf_weights(len(syms))
        self.deck: list[str] = []
        self.issued = 0
        self.lock = threading.Lock()

    def next(self) -> dict:
        with self.lock:
            if not self.deck:
                self.deck = list(self.rng.permutation(DECK))
            self.issued += 1
            return {**self.item(self.deck.pop()), "seq": self.issued - 1}

    def item(self, kind: str) -> dict:
        item = {"kind": kind}
        if kind == "timeseries":
            item["symbol"] = self.rng.choice(self.syms, p=self.weights)
            item["day"] = self.days[self.rng.integers(len(self.days))]
        elif kind == "correlation":
            a, b = self.rng.choice(self.syms, 2, replace=False, p=self.weights)
            item["a"], item["b"] = a, b
        return item


def _request(item: dict, dataset: str) -> tuple[str, str, dict | None, int | None]:
    kind = item["kind"]
    q = {"dataset": f"bronze/{dataset}", "query_type": kind}
    if kind == "get_data":
        return "GET", f"/api/data/bronze/{dataset}?limit=100", None, 100
    if kind == "download":
        return "GET", f"/api/data/bronze/{dataset}/download?limit=1000", None, 1000
    if kind == "dataset_info":
        return "GET", f"/api/datasets/{dataset}?layer=bronze", None, None
    if kind == "ingest":
        return "POST", "/api/ingest", {"source": "bench", "data_type": "stock"}, None
    if kind == "timeseries":
        day = np.datetime64(item["day"])
        q["params"] = {"key_col": "symbol", "key": item["symbol"], "time_col": "timestamp",
                       "start": item["day"], "end": str(day + np.timedelta64(1, "D")),
                       "limit": gen.MINUTES_PER_DAY}
        return "POST", "/api/query", q, None
    if kind == "moving_average":
        q["params"] = {"value_col": "close", "n": MA_N, "partition_cols": ["symbol"],
                       "order_cols": ["timestamp"], "limit": 100}
        return "POST", "/api/query", q, 100
    q["params"] = {"key_col": "symbol", "key_a": item["a"], "key_b": item["b"],
                   "time_col": "timestamp", "value_col": "close", "bucket": "hour"}
    return "POST", "/api/query", q, None


class ApiServe(Workload):
    name = "api_serve"
    layer_names = (
        "lake.read_ms", "api.ingest_ms", "functions.sinks.to_json_records_ms",
        "functions.sinks.to_csv_string_ms", "envelopes.parse_envelope_ms", "http_app.self_ms",
        "lake.files_per_dataset",
        *(f"spark.{c}_per_op.{k}" for k in KINDS for c in ("jobs", "tasks")),
    )
    display_names = {"latency_p50_ms": "api_latency_p50_ms",
                   "latency_p90_ms": "api_latency_p90_ms",
                   "throughput_per_s": "api_throughput_rps"}

    def generate(self) -> None:
        self.bars = gen.served_bars(self.seed, N_SYMBOLS, DAYS)
        self.bars_path = gen.write_parquet(self.bars, os.path.join(self.inputs, "bars.parquet"))
        self.last_ts = self.bars["timestamp"].max().to_datetime64()
        days = np.unique(self.bars["timestamp"].to_numpy().astype("datetime64[D]"))
        self.plan_days = [str(d) for d in days]
        self.server = None
        self.n_ingested = 0
        self.ingest_lock = threading.Lock()

    # -- set-up ------------------------------------------------------------------

    def setup(self, spark) -> None:
        from real_time_financial_data_pipeline_spark import api, http_app
        from real_time_financial_data_pipeline_spark.lake import DataLake

        self.spark = spark
        self.root = os.path.join(self.work, "lake")
        self.lake = DataLake(spark, self.root)
        out = api.ingest(self.lake, spark.read.parquet(self.bars_path), "bench", "stock")
        self.dataset = out["dataset"]
        self.n_ingested = 0
        self.server = http_app.serve(self.lake, port=0, fetch_fn=self._fetch)

    def _fetch(self, req):
        """The stub connector behind ``POST /api/ingest``."""
        with self.ingest_lock:
            k = self.n_ingested
            self.n_ingested += 1
        batch = gen.ingest_batch(self.seed, k, INGEST_ROWS, self.last_ts)
        path = gen.write_parquet(batch, os.path.join(self.inputs, f"ingest-{k}.parquet"))
        return self.spark.read.parquet(path)

    def teardown(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.server = None
        shutil.rmtree(self.root, ignore_errors=True)

    # -- tracing -----------------------------------------------------------------

    def instrument(self, tracer) -> None:
        from real_time_financial_data_pipeline_spark import api, envelopes, functions, http_app
        from real_time_financial_data_pipeline_spark.functions import sinks
        from real_time_financial_data_pipeline_spark.lake import DataLake
        from real_time_financial_data_pipeline_spark.operators import query

        route = http_app._Handler._route

        def traced_route(handler, method):
            kind = handler.headers.get("X-Bench-Kind", "other")
            with tracer.op(kind, handler.headers.get("X-Request-Id")):
                with tracer.span("http_app.route"):
                    return route(handler, method)

        tracer.replace(http_app._Handler, "_route", traced_route)
        tracer.patch(envelopes, "parse_envelope", "envelopes.parse_envelope", http_app)
        for fn in ("ingest", "dataset_info", "get_data", "download_csv"):
            tracer.patch(api, fn, f"api.{fn}")
        for fn in ("read", "save", "dataset_info"):
            tracer.patch(DataLake, fn, f"lake.{fn}")
        for fn in ("timeseries", "moving_average", "correlation"):
            tracer.patch(query, fn, f"operators.query.{fn}")
        tracer.patch(sinks, "to_json_records", "functions.sinks.to_json_records", functions, api)
        tracer.patch(sinks, "to_csv_string", "functions.sinks.to_csv_string", functions, api)

    # -- load --------------------------------------------------------------------

    def _send(self, conn, item: dict, rid: str) -> dict:
        method, path, payload, limit = _request(item, self.dataset)
        body = json.dumps(payload).encode() if payload is not None else None
        headers = {"X-Bench-Kind": item["kind"], "X-Request-Id": rid}
        if body is not None:
            headers["Content-Type"] = "application/json"
        t0 = time.perf_counter()
        try:
            conn.request(method, path, body=body, headers=headers)
            resp = conn.getresponse()
            status, data = resp.status, resp.read()
        except (OSError, http.client.HTTPException) as e:
            status, data = 0, repr(e).encode()
            conn.close()  # http.client reconnects on the next request
        t1 = time.perf_counter()
        return {**item, "status": status, "body": data, "limit": limit,
                "rows": INGEST_ROWS, "t0": t0, "t1": t1}

    def _connect(self) -> http.client.HTTPConnection:
        host, port = self.server.server_address[:2]
        return http.client.HTTPConnection(host, port, timeout=120)

    def _client(self, plan: RequestPlan, deadline: float, out: list, cid: str) -> None:
        conn = self._connect()
        try:
            while time.perf_counter() < deadline:
                out.append(self._send(conn, plan.next(), f"{cid}-{len(out)}"))
        finally:
            conn.close()

    def _plan(self, tag: int) -> RequestPlan:
        return RequestPlan(self.seed + tag, sorted(set(self.bars["symbol"])), self.plan_days)

    def _loop(self, plan: RequestPlan, deadline: float, tag: str) -> list[dict]:
        """``CLIENTS`` closed-loop clients until ``deadline``; their records
        in the order the requests were sent."""
        outs: list[list] = [[] for _ in range(CLIENTS)]
        threads = [threading.Thread(target=self._client,
                                    args=(plan, deadline, outs[c], f"{tag}{c}"))
                   for c in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return sorted((r for o in outs for r in o), key=lambda r: r["t0"])

    def warmup(self, until: float) -> None:
        """Every request type once, in a fixed order on one connection, then
        the closed loop (its own request sequence) until ``until``."""
        plan = self._plan(1)
        conn = self._connect()
        try:
            self.warm_records = [self._send(conn, plan.item(k), f"warm-{k}") for k in KINDS]
        finally:
            conn.close()
        self.warm_records += self._loop(self._plan(2), until, "w")

    def run(self, seconds: float) -> None:
        t0 = time.perf_counter()
        self.records = self._loop(self._plan(0), t0 + seconds, "c")
        self.elapsed = max(r["t1"] for r in self.records) - t0

    # -- results -----------------------------------------------------------------

    def verify(self) -> tuple[int, list[str]]:
        ora = oracle.ApiOracle(self.bars, self.seed, INGEST_ROWS, self.n_ingested, MA_N)
        try:
            bad = oracle.check_api(self.records, ora)
            warm_bad = oracle.check_api(self.warm_records, ora)
        finally:
            ora.close()
        expected = len(self.bars) + INGEST_ROWS * self.n_ingested
        bad += [f"warm-up {m}" for m in warm_bad]
        bad += oracle.check_table_rows(os.path.join(self.root, "bronze", self.dataset), expected)
        # every request, plus the final row count of the served table
        return len(self.records) + len(self.warm_records) + 1, bad

    def _whole_decks(self) -> list[dict]:
        """The requests of the whole decks the run completed (every issued
        request completes, so these are the first ``k * 20`` issued)."""
        n = len(self.records) // len(DECK) * len(DECK)
        return [r for r in self.records if r["seq"] < n] or self.records

    def metrics(self) -> dict[str, float]:
        lat = [(r["t1"] - r["t0"]) * 1e3 for r in self._whole_decks()]
        ok = [r for r in self.records if r["status"] == 200]
        return {
            "latency_p50_ms": percentile(lat, 50),
            "latency_p90_ms": percentile(lat, 90),
            "throughput_per_s": len(ok) / self.elapsed,
        }

    def samples(self) -> int:
        return len(self._whole_decks())

    def layer_metrics(self, tracer) -> dict[str, float]:
        out: dict[str, float] = {}
        n_ops = len(self.records) + len(self.warm_records)
        selfs = tracer.self_times()
        for name in ("lake.read", "api.ingest", "functions.sinks.to_json_records",
                     "functions.sinks.to_csv_string", "envelopes.parse_envelope"):
            out[f"{name}_ms"] = 1e3 * float(np.mean(tracer.durations(name)))
        out["http_app.self_ms"] = 1e3 * selfs.get("http_app.route", 0.0) / n_ops
        out["lake.files_per_dataset"] = float(len(
            oracle.list_files(os.path.join(self.root, "bronze", self.dataset))))
        # Counted on the first warm-up requests: one per route, in a fixed
        # order on one connection, so the lake is in the same state on every run and
        # the counts repeat exactly.  (Later requests see a varying number of
        # ingested files, which changes how many jobs a limit scan takes.)
        counts = tracer.job_counts()
        for kind in KINDS:
            jobs, _, tasks = counts[kind][0]
            out[f"spark.jobs_per_op.{kind}"] = float(jobs)
            out[f"spark.tasks_per_op.{kind}"] = float(tasks)
        return out
