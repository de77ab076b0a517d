"""The generators are deterministic per seed and produce the input shapes
the workloads promise."""

from __future__ import annotations

import hashlib
import os

import numpy as np

from perfbench import gen


def _digest(paths: list[str]) -> list[str]:
    return [hashlib.sha256(open(p, "rb").read()).hexdigest() for p in paths]


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    def make(seed: int, d) -> list[str]:
        d.mkdir()
        paths = [gen.write_parquet(gen.served_bars(seed, 5, 2), str(d / "bars.parquet"))]
        last = np.datetime64("2024-02-01T16:00")
        paths.append(gen.write_parquet(gen.ingest_batch(seed, 3, 1000, last),
                                       str(d / "ingest.parquet")))
        paths += gen.messy_csvs(seed, str(d / "csv"), 5, 2)["files"]
        ticks = gen.TickFiles(seed, 0, 500)
        for i in range(3):
            ticks.write(i, str(d))
        return paths + sorted(str(p) for p in d.glob("ticks-*.parquet"))

    a, b, c = make(7, tmp_path / "a"), make(7, tmp_path / "b"), make(8, tmp_path / "c")
    assert [os.path.basename(p) for p in a] == [os.path.basename(p) for p in b]
    assert _digest(a) == _digest(b)
    assert all(x != y for x, y in zip(_digest(a), _digest(c)))


def test_bars_are_ohlc_valid_and_ingest_batches_fall_outside_served_days():
    bars = gen.served_bars(1, 4, 3)
    assert len(bars) == 4 * 3 * gen.MINUTES_PER_DAY
    assert (bars["low"] <= bars[["open", "close"]].min(axis=1)).all()
    assert (bars["high"] >= bars[["open", "close"]].max(axis=1)).all()
    assert not bars.duplicated(["symbol", "timestamp"]).any()
    last = bars["timestamp"].max().to_datetime64()
    b0, b1 = (gen.ingest_batch(1, k, 1000, last) for k in (0, 1))
    assert len(b0) == 1000 and b0["timestamp"].min() > bars["timestamp"].max()
    assert b1["timestamp"].min() > b0["timestamp"].max()
    assert b0["symbol"].iloc[0] > bars["symbol"].max()


def test_zipf_weights_fall_with_rank():
    w = gen.zipf_weights(100)
    assert abs(w.sum() - 1) < 1e-12 and (np.diff(w) < 0).all()


def test_messy_csvs_use_synonym_headers_and_carry_dirty_rows(tmp_path):
    out = gen.messy_csvs(3, str(tmp_path), 6, 2)
    headers = [open(f).readline().strip().split(",") for f in out["files"]]
    assert headers[0] == gen.HISTORY_HEADER and os.path.basename(out["files"][0]) == "C000_history.csv"
    assert headers[1] == gen.WIDE_HEADER and headers[2] == gen.NARROW_HEADER
    text = "".join(open(f).read() for f in out["files"])
    assert ",," in text or ",\n" in text  # empty cells
    assert any(tok in text for tok in gen.UNPARSEABLE)
    lines = [ln for f in out["files"] for ln in open(f).read().splitlines()[1:]]
    assert len(lines) == out["csv_rows"] and len(set(lines)) < len(lines)  # duplicates
    clean = out["clean"]
    assert 0 < len(clean) < out["csv_rows"] and clean[gen.BAR_COLUMNS].notna().all().all()
    assert not clean.duplicated(["symbol", "timestamp"]).any()


def test_tick_files_redeliver_and_reorder():
    ticks = gen.TickFiles(5, 0, 1000)
    d2 = ticks.delivery(2)
    fresh = ticks.fresh(2)
    resent = d2[~d2["tick_id"].isin(fresh["tick_id"])]
    assert len(resent) == int(1000 * gen.REDELIVER_SHARE)
    assert resent["tick_id"].isin(ticks.distinct(2)["tick_id"]).all()
    assert (np.diff(fresh["ts"].astype("int64").to_numpy()) < 0).any()  # out of order
    assert len(ticks.distinct(3)) == 3000 and ticks.distinct(3)["tick_id"].is_unique
