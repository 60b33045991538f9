"""Cross-engine check of the query catalog.

Runs every catalog query on Spark AND its oracle SQL on DuckDB over the same
parquet tables, then compares row count, column names, and (order-insensitive)
values. Reports max float deltas so near-misses are visible.

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from polymarket_data_ingestor_spark.plans.catalog import CATALOG  # noqa: E402
from polymarket_data_ingestor_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            if getattr(df[c].dtype, "tz", None) is not None:
                df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object:
            # The REAL driver's canonicalizer sort_values over object
            # columns crashes on list/dict cells (unhashable) — r8 lost
            # two window slots to exactly this while astype(str) here
            # masked it. Fail the same way the driver would.
            head = df[c].dropna().head(50)
            if any(isinstance(v, (list, dict, np.ndarray)) for v in head):
                raise TypeError(
                    f"column {c!r} holds complex-typed cells — the "
                    "driver cannot canonicalize these; serialize in the "
                    "catalog wrapper (see test_no_catalog_entry_emits_"
                    "complex_typed_columns)"
                )
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> tuple[bool, str]:
    if len(got) != len(want):
        return False, f"row count {len(got)} != {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return False, f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    g, w = normalize(got), normalize(want)
    max_delta = 0.0
    for c in g.columns:
        if pd.api.types.is_float_dtype(g[c]):
            a, b = g[c].to_numpy(), w[c].to_numpy()
            both_nan = np.isnan(a) & np.isnan(b)
            exact = (a == b) | both_nan
            if not exact.all():
                delta = np.nanmax(np.abs(a - b))
                max_delta = max(max_delta, float(delta))
                if not np.allclose(a, b, rtol=0, atol=1e-9, equal_nan=True):
                    i = int(np.argmax(~exact))
                    return False, (
                        f"float col {c} differs: row {i}: {a[i]!r} vs {b[i]!r} "
                        f"(max |delta| {delta:.3e})"
                    )
        else:
            if not g[c].equals(w[c]):
                diff = g[c] != w[c]
                i = int(diff.idxmax())
                return False, f"col {c} differs at row {i}: {g[c][i]!r} vs {w[c][i]!r}"
    note = "bit-exact" if max_delta == 0.0 else f"max float delta {max_delta:.3e}"
    return True, note


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="check")
    con = duck_connect(sf_dir)
    n_fail = 0
    for name, q in CATALOG.items():
        if only and name not in only:
            continue
        try:
            got = q.spark(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if q.sql is None:
            print(f"ROWS  {name}: {len(got)} rows (no oracle)")
            continue
        try:
            want = con.execute(q.sql).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb raised {type(e).__name__}: {e}")
            n_fail += 1
            continue
        ok, msg = compare(name, got, want)
        status = "OK  " if ok else "FAIL"
        if not ok:
            n_fail += 1
        print(f"{status}  {name}: {len(got)} rows; {msg}")
    print(f"\n{'ALL OK' if n_fail == 0 else f'{n_fail} FAILURES'}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
