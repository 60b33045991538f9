"""Expected outputs, computed without Spark from the naive replay oracle.

* Replay: ``count(*)`` plus an order-insensitive sum of CRC-32 row hashes
  over all seven tick columns. CRC-32 is the same function in Spark
  (``crc32``) and Python (``zlib.crc32``), so the digest of the naive
  oracle's rows is computed here, in plain Python.
* Notebook queries: each cell of ``bbo.ipynb`` recomputed in pandas over
  the oracle ticks.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd

from polymarket_data_ingestor_spark.operators.replay import TICK_COLUMNS

#: The digest as Spark SQL: prices and sizes enter as integer micro-units
#: so both engines hash the same text.
DIGEST_SQL = (
    "count(*) AS n",
    "sum(crc32(concat_ws('|', timestamp, kind, market, asset, side, "
    "cast(round(price * 1000000) AS bigint), "
    "cast(round(size * 1000000) AS bigint)))) AS h",
)


def digest(rows: list[tuple]) -> tuple[int, int]:
    """The :data:`DIGEST_SQL` value of oracle tick tuples."""
    h = 0
    for ts, kind, market, asset, side, price, size in rows:
        h += zlib.crc32(
            f"{ts}|{kind}|{market}|{asset}|{side}|"
            f"{round(price * 1e6)}|{round(size * 1e6)}".encode())
    return len(rows), h


def ticks_frame(rows: list[tuple]) -> pd.DataFrame:
    df = pd.DataFrame(rows, columns=TICK_COLUMNS)
    df["event_time"] = pd.to_datetime(df["timestamp"].astype("int64"),
                                      unit="ms")
    return df


def expected_queries(ticks: pd.DataFrame, hour_rows: slice, market: str,
                     outcomes: dict[str, str]) -> dict[str, pd.DataFrame]:
    """The notebook cells over oracle ticks in log order.

    ``hour_rows`` selects the ticks of the queried hour file, ``market``
    the queried market, ``outcomes`` maps token id to outcome label.
    """
    one = ticks.iloc[hour_rows]
    one = one[one["market"] == market][TICK_COLUMNS]
    label = one.assign(outcome=one["asset"].map(outcomes))
    bbo = ticks[(ticks["market"] == market) & (ticks["kind"] == "BBO")]
    bbo = (bbo.assign(bar_time=bbo["event_time"].dt.floor("1min"))
           .groupby(["bar_time", "asset", "side"], sort=False)
           [["price", "size"]].last().reset_index())
    trades = ticks[ticks["kind"] == "TRADE"]
    vol = (trades.assign(bar_time=trades["event_time"].dt.floor("1h"))
           .groupby(["bar_time", "asset"])["size"]
           .agg(volume="sum", n_trades="count").reset_index())
    summary = {}
    for c in ("price", "size"):
        s = trades[c]
        summary.update({
            f"{c}_count": len(s), f"{c}_mean": s.mean(),
            f"{c}_std": s.std(), f"{c}_min": s.min(),
            f"{c}_p25": s.quantile(0.25), f"{c}_p50": s.quantile(0.5),
            f"{c}_p75": s.quantile(0.75), f"{c}_max": s.max(),
        })
    return {"filter": one, "label": label, "bbo_1min": bbo,
            "volume_1h": vol, "summary": pd.DataFrame([summary])}


#: Sort keys that make each query's rows comparable.
_KEYS = {
    "filter": TICK_COLUMNS,
    "label": TICK_COLUMNS,
    "bbo_1min": ["bar_time", "asset", "side"],
    "volume_1h": ["bar_time", "asset"],
    "summary": [],
}


def same(name: str, got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Rows equal up to order; floats to a relative 1e-9."""
    cols = list(want.columns)
    if len(got) != len(want) or not set(cols) <= set(got.columns):
        return False
    keys = _KEYS[name]
    got, want = got[cols].copy(), want[cols].copy()
    for df in (got, want):
        for c in cols:
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = df[c].dt.tz_localize(None).astype("datetime64[ns]")
    if keys:
        got = got.sort_values(keys, kind="stable").reset_index(drop=True)
        want = want.sort_values(keys, kind="stable").reset_index(drop=True)
    for c in cols:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if np.issubdtype(b.dtype, np.floating):
            if not np.allclose(a.astype(float), b, rtol=1e-9, atol=1e-12):
                return False
        elif not (a == b).all():
            return False
    return True
