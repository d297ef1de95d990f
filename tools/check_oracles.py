"""Local replica of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry AND its ``oracle_sql()`` DuckDB
twin at a given scale factor, compare row count / schema / values.

Usage: python tools/check_oracles.py [sf_dir] [query_name ...]

The session runs on ``local[$SPARK_GRAFT_CPUS]`` (default: every core)
with 1 GB of driver memory per core.  A query name that is not in
``queries()`` is an error: the script exits 2 before starting Spark.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def compare(name: str, sdf: pd.DataFrame, ddf: pd.DataFrame) -> list[str]:
    problems = []
    if len(sdf) != len(ddf):
        problems.append(f"rowcount spark={len(sdf)} duck={len(ddf)}")
    scols = sorted(sdf.columns)
    dcols = sorted(ddf.columns)
    if scols != dcols:
        problems.append(f"columns spark={scols} duck={dcols}")
        return problems
    if len(sdf) != len(ddf):
        return problems
    s = sdf[scols].sort_values(scols, na_position="last").reset_index(drop=True)
    d = ddf[scols].sort_values(scols, na_position="last").reset_index(drop=True)
    for c in scols:
        sv, dv = s[c], d[c]
        if sv.dtype.kind in "fc" or dv.dtype.kind in "fc":
            a = sv.to_numpy(dtype=np.float64, na_value=np.nan)
            b = dv.to_numpy(dtype=np.float64, na_value=np.nan)
            both_nan = np.isnan(a) & np.isnan(b)
            exact = (a == b) | both_nan
            close = np.isclose(a, b, rtol=0, atol=1e-9) | both_nan
            if not close.all():
                i = int(np.nonzero(~close)[0][0])
                problems.append(
                    f"col {c}: {np.count_nonzero(~close)} mismatches, "
                    f"first at row {i}: spark={a[i]!r} duck={b[i]!r}"
                )
            elif not exact.all():
                problems.append(
                    f"col {c}: WARNING {np.count_nonzero(~exact)} rows differ "
                    f"at <1e-9 (hash-compare would flag these)"
                )
        else:
            sv2 = sv.astype(object).where(pd.notna(sv), None)
            dv2 = dv.astype(object).where(pd.notna(dv), None)
            neq = [
                i for i in range(len(sv2))
                if sv2.iloc[i] != dv2.iloc[i]
                and not (sv2.iloc[i] is None and dv2.iloc[i] is None)
            ]
            if neq:
                i = neq[0]
                problems.append(
                    f"col {c}: {len(neq)} mismatches, first at row {i}: "
                    f"spark={sv2.iloc[i]!r} duck={dv2.iloc[i]!r}"
                )
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from pyspark.sql import SparkSession

    qs = E.queries()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown query name(s): {', '.join(unknown)}", file=sys.stderr)
        return 2
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", f"{cpus}g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    oracles = E.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows ({time.time()-t0:.1f}s) [rows-only]")
            n_rowsonly += 1
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {str(ex).splitlines()[0][:150]}")
            n_fail += 1
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            print(f"FAIL  {name}: ({time.time()-t0:.1f}s)")
            for p in problems[:4]:
                print(f"      {p}")
            n_fail += 1
        else:
            print(f"pass  {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
