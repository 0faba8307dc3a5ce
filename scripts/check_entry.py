"""Mini-driver: replicate the grading driver's correctness check locally.

Runs entry() smoke at sf0.001, then every queries()[name] at sf0.01 and
compares against oracle_sql()[name] via DuckDB: row count, column names,
and an order-insensitive value comparison (columns sorted by name, rows
sorted by all columns).

Usage: python scripts/check_entry.py [names...]
"""

from __future__ import annotations

import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CHECK = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize_pdf(pdf):
    import pandas as pd

    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif str(pdf[c].dtype).startswith(("int", "uint", "Int", "UInt")):
            pdf[c] = pdf[c].astype("int64")
        elif str(pdf[c].dtype).startswith("float"):
            pdf[c] = pdf[c].round(6).astype("float64")
    pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)
    return pdf


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from netbase_spark.session import get_spark

    only = set(sys.argv[1:])
    spark = get_spark(app="check_entry", cpus=8, shuffle_partitions=8,
                      driver_memory="8g", extra={"spark.ui.showConsoleProgress": "false"})

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_CHECK}/{t}.parquet'")

    # smoke
    if not only:
        t0 = time.time()
        edf = entrymod.entry(spark)
        n = edf.count()
        print(f"[smoke] entry() rows={n} secs={time.time()-t0:.1f} schema={edf.schema.simpleString()}")
        assert n >= 0

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_CHECK)
            spdf = sdf.toPandas()
        except Exception as e:
            print(f"[FAIL] {name}: spark error: {e}")
            failed.append(name)
            continue
        secs = time.time() - t0
        if name not in oracles:
            print(f"[rows-only] {name}: rows={len(spdf)} secs={secs:.1f}")
            if len(spdf) == 0:
                print(f"  WARNING {name} returned 0 rows")
            continue
        try:
            opdf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"[FAIL] {name}: duckdb error: {e}")
            failed.append(name)
            continue
        ok = True
        if sorted(spdf.columns) != sorted(opdf.columns):
            print(f"[FAIL] {name}: columns spark={sorted(spdf.columns)} oracle={sorted(opdf.columns)}")
            ok = False
        elif len(spdf) != len(opdf):
            print(f"[FAIL] {name}: rows spark={len(spdf)} oracle={len(opdf)}")
            ok = False
        else:
            a, b = normalize_pdf(spdf), normalize_pdf(opdf)
            if not a.equals(b):
                neq = (a != b).any(axis=1)
                print(f"[FAIL] {name}: value mismatch in {int(neq.sum())}/{len(a)} rows")
                print("  spark:", a[neq].head(3).to_dict("records"))
                print("  oracle:", b[neq].head(3).to_dict("records"))
                ok = False
        if ok:
            print(f"[OK] {name}: rows={len(spdf)} secs={secs:.1f}")
        else:
            failed.append(name)

    print()
    if failed:
        print("FAILED:", failed)
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main()
