"""Local replica of the driver's correctness gate: run every queries() entry
against its oracle_sql() twin in DuckDB at a given sf_dir and compare
row-count, schema (sorted column names), and order-insensitive values.

Each ``ok`` line carries the sha256 of the query's normalized Spark
output before its first colon, so two runs (say, before and after a
change) compare with ``diff <(cut -d: -f1 a.txt) <(cut -d: -f1 b.txt)``:
no output means byte-identical results.

Usage: python tools/check_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402


def digest(df) -> str:
    """sha256 of a normalized frame's CSV rendering."""
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()


def normalize(df):
    """pandas df -> sorted-by-name columns, rows sorted, values canonicalized.

    Vectorized: numeric columns round/cast column-wise and rows sort via
    pandas (the per-row python-tuple path took >900s on a 2.27M-row result
    at sf0.1; this takes seconds)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        k = df[c].dtype.kind
        if k == "f":
            df[c] = df[c].round(9)
        elif k in "iu":
            df[c] = df[c].astype("int64")
        elif k == "b":
            df[c] = df[c].astype(bool)
        else:
            df[c] = df[c].astype(str)
    df = df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from filterz_spark.spark.session import get_session

    spark = get_session(cores=16, **{"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for name in ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, name + '.parquet')}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__} {str(e)[:200]}")
            failed.append(name)
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ok   {name} sha256={digest(normalize(sdf))}: "
                  f"rows-only ({len(sdf)} rows, {dt:.1f}s)")
            if len(sdf) == 0:
                print(f"     WARNING: zero rows")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:200]}")
            failed.append(name)
            continue
        if len(sdf) != len(odf):
            print(f"FAIL {name}: rows {len(sdf)} vs {len(odf)}")
            failed.append(name)
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            print(f"FAIL {name}: cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
            failed.append(name)
            continue
        a, b = normalize(sdf), normalize(odf)
        neq = ~((a.eq(b) | (a.isna() & b.isna())).all(axis=1))
        if a.columns.tolist() != b.columns.tolist() or neq.any():
            bad = list(zip(a[neq].head(3).itertuples(index=False, name=None),
                           b[neq].head(3).itertuples(index=False, name=None)))
            print(f"FAIL {name}: values differ; first diffs: {bad}")
            failed.append(name)
            continue
        # dtype note (schema check may be stricter in the driver)
        dt_mismatch = [
            (c, str(sdf[c].dtype), str(odf[c].dtype))
            for c in sdf.columns if str(sdf[c].dtype) != str(odf[c].dtype)
        ]
        note = f" DTYPE? {dt_mismatch}" if dt_mismatch else ""
        print(f"ok   {name} sha256={digest(a)}: {len(sdf)} rows match "
              f"({dt:.1f}s){note}")

    print("\n" + ("ALL OK" if not failed else f"FAILED: {failed}"))
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
