"""Local mimic of the driver's correctness gate: run every queries() entry
and its oracle_sql() side-by-side at a given SF and compare row count,
column names, and order-insensitive values.

Each entry runs under its own Spark job group, and its line reports the
number of Spark jobs it ran and the number of classes whole-stage codegen
compiled for it beside its seconds. The seconds come from one run in a
shared session and move by up to 2x between runs; the job and compile
counts are exact for a given entry order (an entry reuses the classes
that earlier entries compiled), so they are the figures to compare
between two versions of an entry.

Usage: python tools/validate_entry.py [sf_dir] [query ...]

A query name that is not an entry is reported and exits 2 before Spark
starts.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from peregrine_spark.session import codegen_compiles, get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    qs = entrymod.queries()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    spark = get_spark(app_name="validate_entry")
    con = duckdb.connect()
    con.sql("SET threads TO 16")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    oracles = entrymod.oracle_sql()
    sc = spark.sparkContext
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        group = f"validate_entry:{name}"
        sc.setJobGroup(group, name)
        t0 = time.time()
        compiled = codegen_compiles(spark)
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {ex}")
            failures.append(name)
            continue
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        t_spark = time.time() - t0
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        compiled = codegen_compiles(spark) - compiled
        spark_cost = f"{t_spark:.1f}s spark, {jobs} jobs, {compiled} compiles"
        if name not in oracles:
            print(f"OK?  {name}: rows-only ({len(sdf)} rows, {spark_cost})")
            continue
        t0 = time.time()
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {ex}")
            failures.append(name)
            continue
        t_duck = time.time() - t0
        s, d = normalize(sdf), normalize(odf)
        if list(s.columns) != list(d.columns):
            print(f"FAIL {name}: columns {list(s.columns)} vs {list(d.columns)}")
            failures.append(name)
            continue
        if len(s) != len(d):
            print(f"FAIL {name}: rows {len(s)} vs {len(d)}")
            failures.append(name)
            continue
        if not s.equals(d):
            neq = (s != d) & ~(s.isna() & d.isna())
            bad = neq.any(axis=1)
            print(f"FAIL {name}: {int(bad.sum())}/{len(s)} mismatched rows")
            print(pd.concat([s[bad].head(3), d[bad].head(3)], keys=["spark", "duck"]))
            failures.append(name)
            continue
        print(f"PASS {name}: {len(s)} rows ({spark_cost}, {t_duck:.1f}s duckdb)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
