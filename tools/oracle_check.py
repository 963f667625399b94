"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same sf dir, then compares row count, schema (pandas
dtypes), and an order-insensitive value hash (columns sorted by name, rows
sorted by all columns, values stringified). Exit code 1 on any mismatch
or on a named query that is not registered; the summary counts only the
queries checked.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, ".")


def norm_frame(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            df[c] = col.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif pd.api.types.is_float_dtype(col):
            # repr of float64 is exact; both sides produced identical doubles
            df[c] = col.map(lambda v: "null" if pd.isna(v) else repr(float(v)))
        elif pd.api.types.is_bool_dtype(col):
            df[c] = col.map(lambda v: "null" if pd.isna(v) else str(bool(v)))
        else:
            df[c] = col.map(lambda v: "null" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v))
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    n = norm_frame(df)
    h = hashlib.sha256()
    h.update(("|".join(n.columns)).encode())
    for row in n.itertuples(index=False):
        h.update(("\x1f".join(row) + "\x1e").encode())
    return h.hexdigest()


def dtype_sig(df: pd.DataFrame) -> dict[str, str]:
    def simp(d) -> str:
        s = str(d)
        if s.startswith("datetime64"):
            return "timestamp"
        if s in ("int8", "int16", "int32", "int64", "Int32", "Int64", "uint32"):
            return "int"
        if s in ("float32", "float64"):
            return "float"
        return s
    return {c: simp(df[c].dtype) for c in sorted(df.columns)}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from clinical_data_platform_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    from clinical_data_platform_spark.catalog import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = E.queries(), E.oracle_sql()
    failures, no_oracle = [], []
    for name in sorted(only - qs.keys()):
        print(f"FAIL  {name}: no such registered query")
        failures.append(name)
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL  {name}: spark raised\n{traceback.format_exc()}")
            failures.append(name)
            continue
        if name not in oracles:
            no_oracle.append(name)
            print(f"rows  {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"FAIL  {name}: duckdb raised\n{traceback.format_exc()}")
            failures.append(name)
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount spark={len(sdf)} duckdb={len(odf)}")
        if dtype_sig(sdf) != dtype_sig(odf):
            problems.append(f"schema spark={dtype_sig(sdf)} duckdb={dtype_sig(odf)}")
        if not problems and value_hash(sdf) != value_hash(odf):
            problems.append("value-hash mismatch")
            a, b = norm_frame(sdf), norm_frame(odf)
            diff = (a != b).any(axis=1) if a.shape == b.shape else None
            if diff is not None and diff.any():
                i = diff.idxmax()
                problems.append(f"first diff row {i}: spark={a.iloc[i].to_dict()} duckdb={b.iloc[i].to_dict()}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"ok    {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")

    checked = len(only) if only else len(qs)
    print(
        f"\n{checked - len(failures)}/{checked} passed; "
        f"{len(no_oracle)} rows-only ({', '.join(no_oracle) or '-'})"
    )
    if failures:
        print("FAILED: " + ", ".join(failures))
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
