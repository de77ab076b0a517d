"""Independent answers, computed with DuckDB and pandas from the generated
inputs (never from the engine's output).  Every check returns a list of
human-readable mismatches; an empty list means the output is correct."""

from __future__ import annotations

import io
import json
import os

import duckdb
import numpy as np
import pandas as pd

from perfbench import gen

PRICE_COLUMNS = ["open", "high", "low", "close"]
REL_TOL = 1e-9


def _close(a, b, rel: float = REL_TOL) -> np.ndarray:
    a, b = np.asarray(a, dtype=float), np.asarray(b, dtype=float)
    both_nan = np.isnan(a) & np.isnan(b)
    return both_nan | (np.abs(a - b) <= rel * np.maximum(1.0, np.abs(b)))


def _naive_utc(s: pd.Series) -> pd.Series:
    s = pd.to_datetime(s, utc=True, format="ISO8601") if s.dtype == object else s
    if getattr(s.dt, "tz", None) is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return s.astype("datetime64[us]")


def read_table(path: str) -> pd.DataFrame:
    """A lake table (parquet directory, hive-partitioned) read by DuckDB."""
    con = duckdb.connect()
    try:
        return con.sql(
            f"SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true)"
        ).df()
    finally:
        con.close()


# -- api_serve ------------------------------------------------------------------

class ApiOracle:
    """Answers for every ``api_serve`` request type over the served bars
    plus the ``n_ingested`` batches appended while the run was live."""

    def __init__(self, bars: pd.DataFrame, seed: int, ingest_rows: int, n_ingested: int, ma_n: int):
        self.bars = bars
        last = bars["timestamp"].max().to_datetime64()
        batches = [gen.ingest_batch(seed, k, ingest_rows, last) for k in range(n_ingested)]
        self.batches = batches
        self.truth = pd.concat([bars, *batches], ignore_index=True)
        self.ma_n = ma_n
        self.con = duckdb.connect()
        self.con.register("truth", self.truth)

    def close(self) -> None:
        self.con.close()

    def rows_exist(self, rows: pd.DataFrame) -> np.ndarray:
        """Per returned bar: True if it is a bar of the dataset, all values
        equal.  ``rows`` needs ``_resp`` plus the bar columns."""
        rows = rows.assign(timestamp=_naive_utc(rows["timestamp"]), _row=np.arange(len(rows)))
        self.con.register("resp", rows)
        m = self.con.sql(
            "SELECT r._row, r.open AS ro, r.high AS rh, r.low AS rl, r.close AS rc,"
            " r.volume AS rv, t.open, t.high, t.low, t.close, t.volume"
            " FROM resp r LEFT JOIN truth t USING (symbol, timestamp) ORDER BY r._row"
        ).df()
        self.con.unregister("resp")
        ok = m["open"].notna().to_numpy()
        for rc, tc in zip(["ro", "rh", "rl", "rc"], PRICE_COLUMNS):
            ok &= _close(m[rc], m[tc])
        ok &= (m["rv"].to_numpy() == m["volume"].fillna(-1).to_numpy())
        return ok

    def timeseries(self, symbol: str, day: str) -> pd.DataFrame:
        return self.con.sql(
            "SELECT * FROM truth WHERE symbol = ? AND timestamp >= CAST(? AS TIMESTAMP)"
            " AND timestamp < CAST(? AS TIMESTAMP) + INTERVAL 1 DAY ORDER BY timestamp",
            params=[symbol, day, day],
        ).df()

    def moving_average(self, keys: pd.DataFrame) -> np.ndarray:
        """Expected trailing mean per (symbol, timestamp) of ``keys``."""
        keys = keys.assign(timestamp=_naive_utc(keys["timestamp"]), _row=np.arange(len(keys)))
        self.con.register("keys", keys)
        out = self.con.sql(
            f"WITH ma AS (SELECT symbol, timestamp, avg(close) OVER (PARTITION BY symbol"
            f" ORDER BY timestamp ROWS BETWEEN {self.ma_n - 1} PRECEDING AND CURRENT ROW) AS m"
            f" FROM truth WHERE symbol IN (SELECT DISTINCT symbol FROM keys))"
            f" SELECT k._row, ma.m FROM keys k LEFT JOIN ma USING (symbol, timestamp)"
            f" ORDER BY k._row"
        ).df()
        self.con.unregister("keys")
        return out["m"].to_numpy(dtype=float)

    def correlation(self, a: str, b: str) -> float:
        return self.con.sql(
            "WITH h AS (SELECT date_trunc('hour', timestamp) AS bucket,"
            " avg(close) FILTER (WHERE symbol = ?) AS a,"
            " avg(close) FILTER (WHERE symbol = ?) AS b"
            " FROM truth WHERE symbol IN (?, ?) GROUP BY 1) SELECT corr(a, b) FROM h",
            params=[a, b, a, b],
        ).fetchone()[0]

    def info_choices(self) -> dict:
        """dataset_info may see any prefix of the ingested batches."""
        counts = [len(self.bars)]
        lasts = [self.bars["timestamp"].max()]
        for b in self.batches:
            counts.append(counts[-1] + len(b))
            lasts.append(b["timestamp"].max())
        syms = sorted(self.bars["symbol"].unique())
        return {
            "record_count": set(counts),
            "last_date": {pd.Timestamp(t) for t in lasts},
            "first_date": pd.Timestamp(self.bars["timestamp"].min()),
            "symbols": syms[:50] + (["..."] if len(syms) > 50 else []),
        }


def check_api(records: list[dict], oracle: ApiOracle) -> list[str]:
    """Check each completed request of ``api_serve``; a request that failed
    or returned a wrong answer yields one message."""
    bad: list[str] = []
    row_frames = []
    ma_frames = []
    info = None
    for i, r in enumerate(records):
        kind, status, body = r["kind"], r["status"], r["body"]
        if status != 200:
            bad.append(f"#{i} {kind}: HTTP {status} {body[:200]!r}")
            continue
        if kind in ("get_data", "download"):
            df = (pd.DataFrame(json.loads(body)) if kind == "get_data"
                  else pd.read_csv(io.BytesIO(body)))
            if len(df) != r["limit"]:
                bad.append(f"#{i} {kind}: {len(df)} rows, expected {r['limit']}")
                continue
            row_frames.append(df[gen.BAR_COLUMNS].assign(_resp=i))
        elif kind == "timeseries":
            got = pd.DataFrame(json.loads(body))
            want = oracle.timeseries(r["symbol"], r["day"])
            if len(got) != len(want):
                bad.append(f"#{i} timeseries: {len(got)} rows, expected {len(want)}")
            elif not (
                (_naive_utc(got["timestamp"]).to_numpy() == want["timestamp"].to_numpy()).all()
                and all(_close(got[c], want[c]).all() for c in PRICE_COLUMNS)
                and (got["volume"].to_numpy() == want["volume"].to_numpy()).all()
            ):
                bad.append(f"#{i} timeseries {r['symbol']} {r['day']}: values differ")
        elif kind == "moving_average":
            got = pd.DataFrame(json.loads(body))
            if len(got) != r["limit"]:
                bad.append(f"#{i} moving_average: {len(got)} rows, expected {r['limit']}")
                continue
            ma_frames.append(got[gen.BAR_COLUMNS + ["moving_avg"]].assign(_resp=i))
        elif kind == "correlation":
            got = json.loads(body)
            want = oracle.correlation(r["a"], r["b"])
            if len(got) != 1 or not _close([got[0]["correlation"]], [want], 1e-9).all():
                bad.append(f"#{i} correlation {r['a']}/{r['b']}: {got} != {want}")
        elif kind == "dataset_info":
            got = json.loads(body)
            info = info or oracle.info_choices()
            ok = (
                got["record_count"] in info["record_count"]
                and pd.Timestamp(got["first_date"]) == info["first_date"]
                and pd.Timestamp(got["last_date"]) in info["last_date"]
                and got["symbols"] == info["symbols"]
            )
            if not ok:
                bad.append(f"#{i} dataset_info: {got}")
        elif kind == "ingest":
            got = json.loads(body)
            if got.get("status") != "success" or got.get("records_count") != r["rows"]:
                bad.append(f"#{i} ingest: {got}")
    if row_frames:
        rows = pd.concat(row_frames, ignore_index=True)
        ok = oracle.rows_exist(rows)
        for i in sorted(set(rows["_resp"][~ok])):
            bad.append(f"#{i} {records[i]['kind']}: rows not in the dataset")
    if ma_frames:
        ma = pd.concat(ma_frames, ignore_index=True)
        ok = oracle.rows_exist(ma) & _close(ma["moving_avg"], oracle.moving_average(ma), 1e-9)
        for i in sorted(set(ma["_resp"][~ok])):
            bad.append(f"#{i} moving_average: values differ")
    return bad


def check_table_rows(path: str, expected_rows: int) -> list[str]:
    """Final row count of a lake table, read by DuckDB."""
    got = len(read_table(path))
    return [] if got == expected_rows else [f"{path}: {got} rows, expected {expected_rows}"]


# -- lake_write, batch half -----------------------------------------------------

def expected_gold(clean: pd.DataFrame) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        con.register("clean", clean)
        return con.sql(
            "SELECT date_trunc('day', timestamp) AS period, symbol,"
            " arg_min(open, timestamp) AS open, max(high) AS high, min(low) AS low,"
            " arg_max(close, timestamp) AS close, sum(volume)::BIGINT AS volume"
            " FROM clean GROUP BY ALL ORDER BY symbol, period"
        ).df()
    finally:
        con.close()


def expected_indicators(gold: pd.DataFrame, band: int = 20, vol: int = 10) -> pd.DataFrame:
    """``operators.finance.window_indicators`` defaults, as DuckDB windows."""
    ann = float(np.sqrt(252.0))
    con = duckdb.connect()
    try:
        con.register("gold", gold)
        return con.sql(f"""
            WITH s1 AS (
              SELECT symbol, period, close,
                count(close) OVER w20 AS cnt, sum(close) OVER w20 AS s1,
                sum(close * close) OVER w20 AS s2,
                ln(close / lag(close) OVER w) AS log_return,
                max(close) OVER wrun AS run_max
              FROM gold
              WINDOW w AS (PARTITION BY symbol ORDER BY period),
                     w20 AS (PARTITION BY symbol ORDER BY period
                             ROWS BETWEEN {band - 1} PRECEDING AND CURRENT ROW),
                     wrun AS (PARTITION BY symbol ORDER BY period
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            s2 AS (
              SELECT *, s1 / cnt AS sma,
                CASE WHEN cnt > 1 THEN sqrt(greatest((s2 - cnt * (s1 / cnt) * (s1 / cnt))
                     / (cnt - 1), 0.0)) END AS sd,
                count(log_return) OVER wv AS vcnt, sum(log_return) OVER wv AS v1,
                sum(log_return * log_return) OVER wv AS v2
              FROM s1
              WINDOW wv AS (PARTITION BY symbol ORDER BY period
                            ROWS BETWEEN {vol - 1} PRECEDING AND CURRENT ROW)),
            s3 AS (
              SELECT *, v1 / vcnt AS vmean,
                greatest((v2 - vcnt * (v1 / vcnt) * (v1 / vcnt)) / (vcnt - 1), 0.0) AS vvar
              FROM s2)
            SELECT symbol, period, close, sma, sma + 2.0 * sd AS boll_up,
              sma - 2.0 * sd AS boll_dn, log_return, run_max, close / run_max - 1.0 AS drawdown,
              CASE WHEN vcnt > 1 THEN sqrt(vvar) * {ann} END AS volatility,
              CASE WHEN vcnt > 1 AND vvar > 0 THEN vmean / sqrt(vvar) * {ann} END AS sharpe
            FROM s3 ORDER BY symbol, period""").df()
    finally:
        con.close()


def expected_correlations(gold: pd.DataFrame) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        con.register("gold", gold)
        return con.sql("""
            WITH r AS (
              SELECT symbol, period,
                ln(close / lag(close) OVER (PARTITION BY symbol ORDER BY period)) AS ret
              FROM gold QUALIFY ret IS NOT NULL)
            SELECT a.symbol AS key_a, b.symbol AS key_b, count(*) AS n_days,
              corr(a.ret, b.ret) AS correlation
            FROM r a JOIN r b ON a.period = b.period AND a.symbol < b.symbol
            GROUP BY ALL ORDER BY key_a, key_b""").df()
    finally:
        con.close()


def compare_frames(got: pd.DataFrame, want: pd.DataFrame, keys: list[str], values: list[str],
                   what: str, rel: float = 1e-9) -> list[str]:
    """Order-insensitive comparison on ``keys``; floats within ``rel``."""
    if len(got) != len(want):
        return [f"{what}: {len(got)} rows, expected {len(want)}"]
    got = got.copy()
    want = want.copy()
    for df in (got, want):
        for k in keys:
            if k in ("period", "timestamp", "ts"):
                df[k] = _naive_utc(df[k])
    got = got.sort_values(keys).reset_index(drop=True)
    want = want.sort_values(keys).reset_index(drop=True)
    for k in keys:
        if not (got[k].to_numpy() == want[k].to_numpy()).all():
            return [f"{what}: key column {k} differs"]
    bad = [c for c in values if not _close(got[c], want[c], rel).all()]
    return [f"{what}: column {c} differs" for c in bad]


def check_medallion_pass(p: dict, clean: pd.DataFrame, csv_rows: int) -> list[str]:
    """One lifecycle pass: record counts per layer, gold OHLCV, indicators,
    correlations and the compacted bronze table."""
    bad = []
    n_clean = len(clean)
    for step, want in (("ingest", csv_rows), ("clean", n_clean), ("normalize", n_clean)):
        if p["counts"].get(step) != want:
            bad.append(f"{step}: {p['counts'].get(step)} records, expected {want}")
    gold_want = expected_gold(clean)
    gold_got = read_table(p["gold_path"])
    bad += compare_frames(gold_got, gold_want, ["symbol", "period"],
                          PRICE_COLUMNS + ["volume"], "gold")
    ind_cols = ["close", "sma", "boll_up", "boll_dn", "log_return", "run_max", "drawdown",
                "volatility", "sharpe"]
    bad += compare_frames(p["indicators"], expected_indicators(gold_want), ["symbol", "period"],
                          ind_cols, "window_indicators", 1e-7)
    bad += compare_frames(p["correlations"], expected_correlations(gold_want),
                          ["key_a", "key_b"], ["n_days", "correlation"], "returns_correlation",
                          1e-7)
    bad += check_table_rows(p["bronze_path"], csv_rows)
    compact = p["compact"]
    if compact["rows"] != csv_rows or compact["files_after"] != 1:
        bad.append(f"compact: {compact}")
    return bad


# -- lake_write, stream half ----------------------------------------------------

TICK_COLUMNS = ["tick_id", "symbol", "ts", "price", "size"]


def check_ticks(bronze: pd.DataFrame, expected: pd.DataFrame, first_file: np.ndarray) -> list[str]:
    """The bronze table must hold each distinct tick exactly once with its
    values.  Returns one message per input file with a lost, duplicated or
    altered tick (``first_file`` maps each expected row to its file)."""
    got = bronze[TICK_COLUMNS].copy()
    got["ts"] = _naive_utc(got["ts"])
    want = expected[TICK_COLUMNS].copy()
    want["ts"] = _naive_utc(want["ts"])
    want["_file"] = first_file
    dup_ids = set(got["tick_id"][got["tick_id"].duplicated()])
    m = want.merge(got.drop_duplicates("tick_id"), on="tick_id", how="left",
                   suffixes=("", "_got"))
    ok = m["symbol_got"].notna().to_numpy()
    ok &= (m["symbol"] == m["symbol_got"]).to_numpy()
    ok &= (m["ts"] == m["ts_got"]).to_numpy()
    ok &= _close(m["price"], m["price_got"])
    ok &= (m["size"].to_numpy() == m["size_got"].fillna(-1).to_numpy())
    ok &= ~m["tick_id"].isin(dup_ids).to_numpy()
    bad_files = sorted(set(m["_file"][~ok]))
    extra = len(set(got["tick_id"]) - set(want["tick_id"]))
    out = [f"file {f}: ticks lost, duplicated or altered" for f in bad_files]
    if extra:
        out.append(f"{extra} ticks in bronze that were never sent")
    return out


def list_files(path: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
