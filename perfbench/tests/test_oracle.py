"""Each oracle accepts a correct output and rejects a corrupted one.  The
"engine outputs" here are built with pandas from the generated inputs, in
the formats the engine returns them."""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from perfbench import gen, oracle

ISO = "%Y-%m-%dT%H:%M:%S.%fZ"


def _json_rows(df: pd.DataFrame) -> bytes:
    out = df.copy()
    out["timestamp"] = out["timestamp"].dt.strftime(ISO)
    return json.dumps(out.to_dict(orient="records")).encode()


@pytest.fixture(scope="module")
def api():
    bars = gen.served_bars(4, 6, 3)
    ora = oracle.ApiOracle(bars, 4, 1000, 2, 7)
    yield bars, ora
    ora.close()


def _rec(kind: str, body: bytes, **kw) -> dict:
    return {"kind": kind, "status": 200, "body": body, "limit": kw.pop("limit", None),
            "rows": 1000, **kw}


def test_api_oracle_accepts_correct_answers(api):
    bars, ora = api
    day = str(bars["timestamp"].min().date())
    sym = bars["symbol"].iloc[0]
    series = bars[(bars["symbol"] == sym) & (bars["timestamp"].dt.date.astype(str) == day)]
    ma = bars.sort_values(["symbol", "timestamp"]).copy()
    ma["moving_avg"] = ma.groupby("symbol")["close"].transform(
        lambda s: s.rolling(7, min_periods=1).mean())
    hourly = bars.assign(h=bars["timestamp"].dt.floor("h")).pivot_table(
        index="h", columns="symbol", values="close", aggfunc="mean")
    corr = float(hourly["S001"].corr(hourly["S002"]))
    batch = ora.batches[1]
    records = [
        _rec("get_data", _json_rows(pd.concat([bars.sample(90, random_state=1), batch.head(10)])),
             limit=100),
        _rec("download", pd.concat([bars.tail(999), batch.head(1)]).assign(
            timestamp=lambda d: d["timestamp"].dt.strftime(ISO)).to_csv(index=False).encode(),
             limit=1000),
        _rec("timeseries", _json_rows(series), symbol=sym, day=day),
        _rec("moving_average", _json_rows(ma.sample(100, random_state=2)), limit=100),
        _rec("correlation", json.dumps([{"correlation": corr}]).encode(), a="S001", b="S002"),
        _rec("dataset_info", json.dumps({
            "record_count": len(bars) + 1000, "first_date": str(bars["timestamp"].min()),
            "last_date": str(ora.batches[0]["timestamp"].max()),
            "symbols": sorted(bars["symbol"].unique())}).encode()),
        _rec("ingest", json.dumps({"status": "success", "records_count": 1000}).encode()),
    ]
    assert oracle.check_api(records, ora) == []


def test_api_oracle_rejects_corrupted_answers(api):
    bars, ora = api
    rows = bars.sample(100, random_state=3).copy()
    rows.iloc[5, rows.columns.get_loc("close")] += 0.01
    day = str(bars["timestamp"].min().date())
    sym = bars["symbol"].iloc[0]
    series = bars[(bars["symbol"] == sym) & (bars["timestamp"].dt.date.astype(str) == day)]
    ma = bars.head(100).assign(moving_avg=bars.head(100)["close"])  # not a trailing mean
    records = [
        _rec("get_data", _json_rows(rows), limit=100),
        _rec("get_data", _json_rows(bars.head(99)), limit=100),
        _rec("timeseries", _json_rows(series.iloc[1:]), symbol=sym, day=day),
        _rec("moving_average", _json_rows(ma), limit=100),
        _rec("correlation", json.dumps([{"correlation": 0.123}]).encode(), a="S001", b="S002"),
        _rec("dataset_info", json.dumps({
            "record_count": len(bars) + 5, "first_date": str(bars["timestamp"].min()),
            "last_date": str(bars["timestamp"].max()),
            "symbols": sorted(bars["symbol"].unique())}).encode()),
        _rec("ingest", json.dumps({"status": "success", "records_count": 999}).encode()),
        {**_rec("get_data", b"boom", limit=100), "status": 500},
    ]
    bad = oracle.check_api(records, ora)
    assert sorted(int(m.split()[0][1:]) for m in bad) == list(range(len(records)))


def _write_table(df: pd.DataFrame, path: str) -> str:
    os.makedirs(path)
    gen.write_parquet(df, os.path.join(path, "part-0.parquet"))
    return path


@pytest.fixture(scope="module")
def medallion(tmp_path_factory):
    d = tmp_path_factory.mktemp("medallion")
    csv = gen.messy_csvs(2, str(d / "csv"), 5, 3)
    gold = oracle.expected_gold(csv["clean"])
    n = len(csv["clean"])
    p = {
        "counts": {"ingest": csv["csv_rows"], "clean": n, "normalize": n, "aggregate": len(gold)},
        "gold_path": _write_table(gold, str(d / "gold")),
        "bronze_path": _write_table(pd.DataFrame({"x": np.arange(csv["csv_rows"])}),
                                    str(d / "bronze")),
        "indicators": oracle.expected_indicators(gold),
        "correlations": oracle.expected_correlations(gold),
        "compact": {"rows": csv["csv_rows"], "files_before": 4, "files_after": 1},
    }
    return csv, gold, p, d


def test_medallion_oracle_accepts_correct_pass(medallion):
    csv, _, p, _ = medallion
    assert len(p["indicators"]) > 0 and len(p["correlations"]) > 0
    assert oracle.check_medallion_pass(p, csv["clean"], csv["csv_rows"]) == []


@pytest.mark.parametrize("corrupt", ["count", "gold", "indicator", "correlation", "compact"])
def test_medallion_oracle_rejects_corrupted_pass(medallion, corrupt):
    csv, gold, p, d = medallion
    p = {**p, "counts": dict(p["counts"])}
    if corrupt == "count":
        p["counts"]["clean"] += 1
    elif corrupt == "gold":
        bad = gold.copy()
        bad.loc[3, "high"] *= 1.01
        p["gold_path"] = _write_table(bad, str(d / "gold_bad"))
    elif corrupt == "indicator":
        p["indicators"] = p["indicators"].copy()
        p["indicators"].loc[7, "sma"] += 1e-3
    elif corrupt == "correlation":
        p["correlations"] = p["correlations"].iloc[1:]
    else:
        p["compact"] = {**p["compact"], "files_after": 2}
    assert oracle.check_medallion_pass(p, csv["clean"], csv["csv_rows"]) != []


@pytest.fixture(scope="module")
def ticks():
    files = gen.TickFiles(9, 0, 200)
    expected = files.distinct(5)
    first = (expected["tick_id"].to_numpy() - files.start_id) // files.ticks
    bronze = expected.assign(_batch_id=first // 2)
    return expected, first, bronze


def test_stream_oracle_accepts_exact_bronze(ticks):
    expected, first, bronze = ticks
    assert oracle.check_ticks(bronze.sample(frac=1, random_state=0), expected, first) == []


@pytest.mark.parametrize("corrupt", ["lost", "duplicate", "altered", "extra"])
def test_stream_oracle_rejects_corrupted_bronze(ticks, corrupt):
    expected, first, bronze = ticks
    if corrupt == "lost":
        bad = bronze.drop(index=450)
    elif corrupt == "duplicate":
        bad = pd.concat([bronze, bronze.iloc[[450]]])
    elif corrupt == "altered":
        bad = bronze.copy()
        bad.loc[450, "price"] += 0.5
    else:
        bad = pd.concat([bronze, bronze.iloc[[0]].assign(tick_id=-1)])
    msgs = oracle.check_ticks(bad, expected, first)
    assert msgs and (corrupt == "extra" or msgs == ["file 2: ticks lost, duplicated or altered"])
