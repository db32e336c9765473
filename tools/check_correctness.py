"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark at a given sf_dir and its
``oracle_sql()`` twin in DuckDB on the same parquet files, then
compares row count, column names, and order-insensitive values.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from openalex_collaboration_crawler_spark.session import get_spark  # noqa: E402
from openalex_collaboration_crawler_spark.sources.tables import TABLES  # noqa: E402


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            # lists → tuples so they sort/compare
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, tuple)) else v)
        elif str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(name: str, sdf: pd.DataFrame, ddf: pd.DataFrame) -> list[str]:
    errs = []
    if len(sdf) != len(ddf):
        errs.append(f"rowcount spark={len(sdf)} duckdb={len(ddf)}")
    if sorted(sdf.columns) != sorted(ddf.columns):
        errs.append(f"columns spark={sorted(sdf.columns)} duckdb={sorted(ddf.columns)}")
        return errs
    a, b = normalize(sdf), normalize(ddf)
    for c in a.columns:
        da, db = str(a[c].dtype), str(b[c].dtype)
        # datetime64 resolution (ns vs us) is a pandas artifact, not a
        # schema difference
        if da.startswith("datetime64") and db.startswith("datetime64"):
            continue
        if da != db:
            errs.append(f"dtype {c}: spark={da} duckdb={db}")
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c], b[c]
            try:
                if str(av.dtype).startswith("float") or str(bv.dtype).startswith("float"):
                    ok = ((av.isna() & bv.isna()) | (av == bv)).all()
                else:
                    ok = av.astype(object).where(pd.notna(av), None).equals(
                        bv.astype(object).where(pd.notna(bv), None)
                    )
            except Exception as e:  # noqa: BLE001
                ok = False
                errs.append(f"col {c}: compare error {e}")
                continue
            if not ok:
                neq = (av.astype(str) != bv.astype(str)).to_numpy().nonzero()[0][:3]
                sample = [(i, av.iloc[i], bv.iloc[i]) for i in neq]
                errs.append(f"col {c}: values differ, e.g. {sample}")
    return errs


def oracle_connection(sf_dir: str, tmp: str) -> duckdb.DuckDBPyConnection:
    """DuckDB over ``sf_dir``'s tables, capped at half the physical RAM
    (DuckDB's own default is 80 %) because Spark shares the machine, and
    spilling under ``tmp`` up to a quarter of its free disk: an oracle
    that outgrows both fails alone instead of starving the run."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    con = duckdb.connect(
        config={
            "memory_limit": f"{ram // 2 >> 20}MB",
            "temp_directory": tmp,
            "max_temp_directory_size": f"{shutil.disk_usage(tmp).free // 4 >> 20}MB",
        }
    )
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    with tempfile.TemporaryDirectory(prefix="check_correctness-") as tmp:
        return check(sf_dir, only, tmp)


def check(sf_dir: str, only: set[str], tmp: str) -> int:
    spark = get_spark()
    con = oracle_connection(sf_dir, tmp)

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        t1 = time.time()
        if name not in oracles:
            print(f"SKIP-ORACLE {name}: rows={len(sdf)} ({t1 - t0:.1f}s)")
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        errs = compare(name, sdf, ddf)
        if errs:
            n_fail += 1
            print(f"FAIL {name} ({t1 - t0:.1f}s): " + "; ".join(errs))
        else:
            print(f"OK   {name}: rows={len(sdf)} ({t1 - t0:.1f}s)")
    con.close()
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
