#!/usr/bin/env python
"""Strict emulation of the driver's CORRECTNESS hash.

The driver canonicalizes both result frames with pandas — sort columns by
name, ``sort_values`` over all columns, then value-hash — which is stricter
than a rounded value comparison in two ways:

1. list / struct / map cells make ``sort_values`` raise
   (``TypeError: unhashable type``) — every oracle-checked query must emit
   scalar columns only;
2. dtype drift shows up in the hash: DuckDB ``sum(int)`` returns HUGEINT,
   which pandas renders as float64 (``21.0`` vs Spark's int64 ``21``).

This tool reproduces that pipeline: Spark ``toPandas()`` vs DuckDB
``.df()``, canonicalize, render every cell with ``repr`` (floats rounded to
9 significant-ulp-safe decimals first, mirroring the explicit rounding our
queries already do), and compare the row streams.

Usage:
    python tools/driver_hash_check.py [query_name ...] [--sf=DIR]
Exit 0 iff every checked query matches.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if pd.isna(v) if not isinstance(v, (list, tuple, dict)) else False:
        return "NULL"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return repr(v)  # keep the .0 so int-vs-float drift is visible
        return repr(round(v, 9))
    if isinstance(v, bool):
        return repr(v)
    if hasattr(v, "isoformat"):
        # DuckDB DATE arrives as pandas datetime64 (midnight Timestamp)
        # while Spark DATE collects as datetime.date — the driver hashes
        # these equal (cohort_retention green r5), so a tz-naive midnight
        # timestamp canonicalizes to its date
        t = getattr(v, "time", None)
        if t is not None and getattr(v, "tzinfo", None) is None:
            tv = t() if callable(t) else t
            if (tv.hour, tv.minute, tv.second, tv.microsecond) == (0, 0, 0, 0):
                return v.date().isoformat() if hasattr(v, "date") else v.isoformat()
        return v.isoformat()
    return repr(v)


def canon(df: pd.DataFrame) -> list[str]:
    df = df[sorted(df.columns, key=str.lower)]
    df.columns = [str(c).lower() for c in df.columns]
    # this sort_values is exactly where the driver blew up on list cells
    df = df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)
    return ["|".join(_cell(v) for v in row) for row in df.itertuples(index=False)]


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = "/root/testdata/sf0.01"
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]

    import __spark_entry__ as entry_mod
    from restaurant_etl_code_spark import get_spark

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = args or sorted(queries)

    spark = get_spark("driver-hash-check",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []
    for name in names:
        if name not in queries:
            print(f"[SKIP] {name}: not in queries()")
            continue
        t0 = time.time()
        try:
            spdf = queries[name](spark, sf_dir).toPandas()
            if name not in oracles:
                print(f"[ROWS] {name}: {len(spdf)} rows (no oracle) "
                      f"{time.time()-t0:.1f}s")
                continue
            ddf = con.execute(oracles[name]).df()
            s_rows, d_rows = canon(spdf), canon(ddf)
            if s_rows == d_rows:
                print(f"[PASS] {name}: hash ok ({len(s_rows)} rows, "
                      f"{time.time()-t0:.1f}s)")
            else:
                failures.append(name)
                diff = next(
                    (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows))
                    if a != b
                ) if len(s_rows) == len(d_rows) else ("len", len(s_rows), len(d_rows))
                print(f"[FAIL] {name}: first diff {diff}")
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"[ERR ] {name}: {type(exc).__name__}: {exc}")
        finally:
            # release per-query persisted blocks (winnow/persist-once
            # queries cache intra-query scans): a 255-query session
            # would otherwise accumulate cached blocks that evict each
            # other — bench.py's per-row hygiene, applied here too
            spark.catalog.clearCache()

    print(f"\n{len(names) - len(failures)}/{len(names)} hash-matched")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
