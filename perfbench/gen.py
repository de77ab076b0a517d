"""Seeded input generators.  The same seed always yields byte-identical
inputs; the program under test only ever sees what these functions write.

- minute bars: OHLC-valid (low <= open, close <= high), 390 bars per
  trading day, a log-normal random walk per symbol;
- request targets: symbol popularity follows a Zipf law;
- messy CSVs: the loader's synonym headers (``Date,Open,High,Low,
  Adj_Close,Vol`` with the symbol in the file name;
  ``datetime,ticker,opening,highest,lowest,closing,quantity``; and
  ``datetime,ticker,opening,closing,volume`` with no high/low) carrying
  dirty rows: empty cells, exact duplicates and unparseable numerics;
- ticks: files of trade ticks, with re-deliveries of recent ticks and
  event times out of order inside a few seconds.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BAR_COLUMNS = ["symbol", "timestamp", "open", "high", "low", "close", "volume"]
MINUTES_PER_DAY = 390
FIRST_DAY = np.datetime64("2024-01-02T09:30", "m")
ZIPF_S = 1.1

# seed-stream tags, so one workload's inputs never shift another's
_BARS, _REQUESTS, _INGEST, _CSV, _TICKS = range(5)


def rng_for(seed: int, *tag: int) -> np.random.Generator:
    return np.random.default_rng([seed, *tag])


def symbols(n: int, prefix: str = "S") -> list[str]:
    return [f"{prefix}{i:03d}" for i in range(n)]


def minute_bars(
    rng: np.random.Generator, syms: list[str], days: int, start=FIRST_DAY, day_step: int = 1
) -> pd.DataFrame:
    """``len(syms) * days * 390`` bars, sorted by (symbol, timestamp)."""
    minutes = (
        start
        + (np.arange(days) * day_step).astype("timedelta64[D]")[:, None]
        + np.arange(MINUTES_PER_DAY).astype("timedelta64[m]")[None, :]
    ).ravel()
    per = minutes.size
    n = per * len(syms)
    start_px = np.repeat(rng.uniform(20.0, 500.0, len(syms)), per)
    steps = rng.normal(0.0, 1e-3, n).reshape(len(syms), per)
    close = start_px * np.exp(np.cumsum(steps, axis=1).ravel())
    open_ = close * np.exp(rng.normal(0.0, 5e-4, n))
    high = np.maximum(open_, close) * (1.0 + np.abs(rng.normal(0.0, 5e-4, n)))
    low = np.minimum(open_, close) * (1.0 - np.abs(rng.normal(0.0, 5e-4, n)))
    return pd.DataFrame({
        "symbol": np.repeat(np.array(syms, dtype=object), per),
        "timestamp": np.tile(minutes, len(syms)).astype("datetime64[us]"),
        "open": open_.round(4),
        "high": high.round(4),
        "low": low.round(4),
        "close": close.round(4),
        "volume": rng.integers(100, 100_000, n).astype("int64"),
    })


def write_parquet(df: pd.DataFrame, path: str) -> str:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return path


# -- api_serve ----------------------------------------------------------------

def served_bars(seed: int, n_symbols: int, days: int) -> pd.DataFrame:
    """The lake served by ``api_serve`` (built during set-up)."""
    return minute_bars(rng_for(seed, _BARS), symbols(n_symbols), days)


def zipf_weights(n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return w / w.sum()


def ingest_symbol(k: int) -> str:
    """Symbols of ingested batches sort after every served symbol, so the
    capped symbol list of ``dataset_info`` stays fixed."""
    return f"ZZ{k:05d}"


def ingest_batch(seed: int, k: int, bars: int, after: np.datetime64) -> pd.DataFrame:
    """Batch ``k`` appended by ``POST /api/ingest``: one new symbol, on days
    after ``after``, so no timeseries, correlation or moving-average answer
    over the served symbols changes."""
    days = -(-bars // MINUTES_PER_DAY)
    start = (after.astype("datetime64[D]") + np.timedelta64(2 + 2 * days * k, "D")).astype(
        "datetime64[m]"
    ) + np.timedelta64(9 * 60 + 30, "m")
    df = minute_bars(rng_for(seed, _INGEST, k), [ingest_symbol(k)], days, start)
    return df.iloc[:bars].reset_index(drop=True)


# -- lake_write, batch half ---------------------------------------------------

HISTORY_HEADER = ["Date", "Open", "High", "Low", "Adj_Close", "Vol"]
WIDE_HEADER = ["datetime", "ticker", "opening", "highest", "lowest", "closing", "quantity"]
NARROW_HEADER = ["datetime", "ticker", "opening", "closing", "volume"]
UNPARSEABLE = ("n/a", "#VALUE!", "--", "NaN?")


def _fmt_ts(ts: pd.Series) -> pd.Series:
    return pd.Series(pd.DatetimeIndex(ts).strftime("%Y-%m-%d %H:%M:%S"), index=ts.index)


def _dirty(rng: np.random.Generator, text: pd.DataFrame, numeric: list[str], valid: np.ndarray):
    """Blank ~4% of rows in one cell, put an unparseable token into ~2% of
    rows, then append exact copies of ~2% of the untouched rows.  ``valid``
    is updated in place: a row survives cleaning only if it was untouched."""
    n = len(text)
    pick = rng.permutation(n)
    n_null, n_bad = n * 4 // 100, n * 2 // 100
    for rows, tokens in ((pick[:n_null], ("",)), (pick[n_null:n_null + n_bad], UNPARSEABLE)):
        cols = rng.integers(0, len(numeric), rows.size)
        for j, c in enumerate(numeric):
            hit = rows[cols == j]
            text.iloc[hit, text.columns.get_loc(c)] = rng.choice(tokens, hit.size)
        valid[rows] = False
    dup = np.sort(pick[n_null + n_bad:][: n * 2 // 100])
    return pd.concat([text, text.iloc[dup]], ignore_index=True)


def _bar_text(bars: pd.DataFrame) -> pd.DataFrame:
    out = bars.copy()
    out["timestamp"] = _fmt_ts(out["timestamp"])
    for c in ("open", "high", "low", "close"):
        out[c] = out[c].map(float.__repr__)
    out["volume"] = out["volume"].astype(str)
    return out.astype(object)


def messy_csvs(seed: int, out_dir: str, n_symbols: int, days: int) -> dict:
    """Write the messy CSV drop for one medallion pass.

    Returns ``{"files": [...], "csv_rows": n, "csv_bytes": n, "clean": df}``
    where ``clean`` holds the bars that must survive cleaning: the untouched
    rows of the files that have every price column."""
    rng = rng_for(seed, _CSV)
    os.makedirs(out_dir, exist_ok=True)
    syms = symbols(n_symbols, "C")
    bars = minute_bars(rng, syms, days)
    files, csv_rows, survivors = [], 0, []
    # first symbol: a history file, symbol taken from the file name; the
    # last: the narrow file; the rest: one wide multi-symbol file
    groups = [("history", syms[:1]), ("wide", syms[1:-1]), ("narrow", syms[-1:])]
    for kind, group in groups:
        part = bars[bars["symbol"].isin(group)].reset_index(drop=True)
        text = _bar_text(part)
        valid = np.ones(len(part), dtype=bool)
        if kind == "history":
            name = f"{group[0]}_history.csv"
            text = text[["timestamp", "open", "high", "low", "close", "volume"]]
            text.columns = HISTORY_HEADER
            numeric = HISTORY_HEADER[1:]
        elif kind == "wide":
            name = "prices_wide.csv"
            text = text[["timestamp", "symbol", "open", "high", "low", "close", "volume"]]
            text.columns = WIDE_HEADER
            numeric = WIDE_HEADER[2:]
        else:
            name = "prices_mixed.csv"
            text = text[["timestamp", "symbol", "open", "close", "volume"]]
            text.columns = NARROW_HEADER
            numeric = NARROW_HEADER[2:]
            valid[:] = False  # no high/low: every row is dropped by clean
        text = _dirty(rng, text, numeric, valid)
        path = os.path.join(out_dir, name)
        text.to_csv(path, index=False, lineterminator="\n")
        files.append(path)
        csv_rows += len(text)
        survivors.append(part[valid])
    return {
        "files": files,
        "csv_rows": csv_rows,
        "csv_bytes": sum(os.path.getsize(f) for f in files),
        "clean": pd.concat(survivors, ignore_index=True),
    }


# -- lake_write, stream half --------------------------------------------------

TICK_SCHEMA = pa.schema([
    ("tick_id", pa.int64()),
    ("symbol", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("price", pa.float64()),
    ("size", pa.int64()),
])
REDELIVER_SHARE = 0.02
OUT_OF_ORDER_SHARE = 0.05


class TickFiles:
    """Deterministic tick files: file ``i`` carries ``ticks`` new ticks
    (event time advancing ``event_step_ms`` per file, ~5% of them stamped up
    to 3 s early) plus ~2% re-deliveries of ticks first sent in the three
    files before it.  ``first_file[tick_id]`` is the file that first
    delivered the tick."""

    def __init__(self, seed: int, tag: int, ticks: int, n_symbols: int = 100,
                 event_step_ms: int = 200, start_id: int = 0):
        self.seed, self.tag, self.ticks = seed, tag, ticks
        self.n_symbols, self.event_step_ms, self.start_id = n_symbols, event_step_ms, start_id
        self.syms = np.array(symbols(n_symbols, "T"), dtype=object)
        self.weights = zipf_weights(n_symbols)

    def fresh(self, i: int) -> pd.DataFrame:
        rng = rng_for(self.seed, _TICKS, self.tag, i)
        n = self.ticks
        ids = self.start_id + i * n + np.arange(n, dtype=np.int64)
        base_us = np.int64(FIRST_DAY.astype("datetime64[us]").astype(np.int64))
        t_us = base_us + (i * self.event_step_ms * 1000) + np.sort(
            rng.integers(0, self.event_step_ms * 1000, n)
        )
        late = rng.random(n) < OUT_OF_ORDER_SHARE
        t_us = t_us - late * rng.integers(0, 3_000_000, n)
        return pd.DataFrame({
            "tick_id": ids,
            "symbol": rng.choice(self.syms, n, p=self.weights),
            "ts": pd.to_datetime(t_us, unit="us", utc=True),
            "price": rng.uniform(10.0, 500.0, n).round(4),
            "size": rng.integers(1, 1_000, n).astype("int64"),
        })

    def delivery(self, i: int) -> pd.DataFrame:
        """File ``i`` as delivered: its fresh ticks plus re-deliveries."""
        out = [self.fresh(i)]
        if i > 0:
            rng = rng_for(self.seed, _TICKS, self.tag, i, 1)
            back = max(0, i - 3)
            pool = pd.concat([self.fresh(j) for j in range(back, i)], ignore_index=True)
            k = int(self.ticks * REDELIVER_SHARE)
            out.append(pool.iloc[np.sort(rng.choice(len(pool), k, replace=False))])
        return pd.concat(out, ignore_index=True)

    def write(self, i: int, directory: str) -> int:
        """Write file ``i`` atomically (hidden temp name, then rename), so
        the file source never lists a half-written file; returns its rows."""
        name = f"ticks-{self.tag}-{i:06d}.parquet"
        tmp = os.path.join(directory, f".{name}.tmp")
        rows = self.delivery(i)
        pq.write_table(pa.Table.from_pandas(rows, schema=TICK_SCHEMA, preserve_index=False), tmp)
        os.replace(tmp, os.path.join(directory, name))
        return len(rows)

    def distinct(self, n_files: int) -> pd.DataFrame:
        """Every distinct tick of files ``0..n_files-1``."""
        return pd.concat([self.fresh(i) for i in range(n_files)], ignore_index=True)
