"""Local emulation of the driver's correctness gate: run each
queries() entry on Spark and its oracle_sql() twin on DuckDB at the
given sf dir, compare row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted)."""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from deja_view_spark.session import get_spark  # noqa: E402
from deja_view_spark.sources.catalog import TESTDATA_TABLES  # noqa: E402
import __spark_entry__ as E  # noqa: E402


def norm_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_float_dtype(col):
            # + 0.0 maps IEEE -0.0 to +0.0 — engines that round a tiny
            # negative to negative zero would otherwise hash-diverge
            # from numerically equal outputs ("-0.0" != "0.0" as str)
            df[c] = col.round(6) + 0.0
        if pd.api.types.is_datetime64_any_dtype(col):
            df[c] = col.astype("datetime64[us]").astype(str)
    rows = sorted(df.astype(str).itertuples(index=False, name=None))
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def main(sf_dir: str, only: list[str], budget: float = 0.0) -> int:
    """``budget`` > 0 = time-boxed sweep: queries run in registry order
    (the driver's priority order) until the box is exhausted, then the
    skipped names are printed — keeps local sweeps and pre-commit
    checks predictable as the registry grows (72+ entries)."""
    t_start = time.time()
    spark = get_spark(cores=int(os.environ.get("SPARK_GRAFT_CPUS", "16")))
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, oracles = E.queries(), E.oracle_sql()
    failures = 0
    skipped: list[str] = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if budget and (time.time() - t_start) > budget:
            skipped.append(name)
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir).toPandas()
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"{name:34s} rows={len(sdf):7d}  (no oracle, rows-only)")
            continue
        t0 = time.time()
        odf = con.sql(oracles[name]).df()
        t_duck = time.time() - t0
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        ok_hash = ok_rows and ok_cols and norm_hash(sdf) == norm_hash(odf)
        status = "OK " if (ok_rows and ok_cols and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{name:34s} {status} rows={len(sdf)}/{len(odf)} cols={ok_cols} "
            f"hash={ok_hash} spark={t_spark:.1f}s duck={t_duck:.1f}s"
        )
        if not ok_hash and ok_rows and ok_cols:
            m = sdf[sorted(sdf.columns)].astype(str).sort_values(list(sorted(sdf.columns))).head(3)
            o = odf[sorted(odf.columns)].astype(str).sort_values(list(sorted(odf.columns))).head(3)
            print("  spark:", m.values.tolist())
            print("  duck :", o.values.tolist())
    if skipped:
        print(
            f"BUDGET ({budget:.0f}s) exhausted after "
            f"{time.time() - t_start:.0f}s — skipped {len(skipped)}: "
            + ", ".join(skipped)
        )
    return failures


if __name__ == "__main__":
    args = sys.argv[1:]
    budget = 0.0
    if "--budget" in args:
        i = args.index("--budget")
        budget = float(args[i + 1])
        del args[i : i + 2]
    sf = args[0] if args else "/root/testdata/sf0.01"
    sys.exit(main(sf, args[1:], budget=budget))
