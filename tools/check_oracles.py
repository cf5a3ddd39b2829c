"""Local mimic of the driver's correctness gate: run every queries() entry
in Spark and its oracle_sql() in DuckDB at sf0.01, compare row count, column
names, and order-insensitive values (exact for non-floats; bitwise for
floats since our oracles are designed deterministic).

Usage: python tools/check_oracles.py [sf_dir] [query ...]

The Spark master is ``$SPARK_GRAFT_MASTER`` when set (for example
``local-cluster[2,1,2048]``), else ``local[8]``.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from seraster_spark.io import TABLES  # noqa: E402
from seraster_spark.session import get_spark  # noqa: E402


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(name: str, a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    errs = []
    if sorted(a.columns) != sorted(b.columns):
        return [f"{name}: column mismatch {sorted(a.columns)} vs {sorted(b.columns)}"]
    if len(a) != len(b):
        return [f"{name}: row count {len(a)} vs {len(b)}"]
    # dtype parity: the driver's value hash is dtype-sensitive (a DuckDB
    # HUGEINT/DECIMAL surfacing as float64/object hash-mismatches even when
    # values are equal) — flag kind differences up front
    for c in sorted(a.columns):
        ka, kb = a[c].dtype.kind, b[c].dtype.kind
        if ka != kb and {ka, kb} not in ({"i", "O"},):  # object may hold ints/str
            errs.append(f"{name}.{c}: dtype kind mismatch spark={a[c].dtype} oracle={b[c].dtype}")
    ca, cb = canon(a), canon(b)
    for c in ca.columns:
        va, vb = ca[c].to_numpy(), cb[c].to_numpy()
        if np.issubdtype(va.dtype, np.floating) or np.issubdtype(vb.dtype, np.floating):
            va = va.astype(np.float64)
            vb = vb.astype(np.float64)
            bad = ~(np.isclose(va, vb, rtol=0, atol=0) | (np.isnan(va) & np.isnan(vb)))
            if bad.any():
                i = int(np.argmax(bad))
                errs.append(
                    f"{name}.{c}: {bad.sum()} value mismatches, first at row {i}: "
                    f"{va[i]!r} vs {vb[i]!r} (diff {abs(va[i]-vb[i])!r})"
                )
        else:
            bad = va != vb
            if bad.any():
                i = int(np.argmax(bad))
                errs.append(
                    f"{name}.{c}: {bad.sum()} mismatches, first at row {i}: {va[i]!r} vs {vb[i]!r}"
                )
    return errs


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    master = os.environ.get("SPARK_GRAFT_MASTER") or "local[8]"
    spark = get_spark("check_oracles", master=master, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(got)} rows)")
            assert len(got) >= 0
            continue
        try:
            exp = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            failures += 1
            continue
        errs = compare(name, got, exp)
        if errs:
            failures += 1
            for e in errs:
                print("FAIL", e)
        else:
            print(f"ok   {name}: {len(got)} rows match")
    spark.stop()
    print("failures:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
