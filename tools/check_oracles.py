"""Driver-style correctness harness: run every __spark_entry__ query on
Spark AND its DuckDB oracle at sf0.01, compare row count, column names, and
order-insensitive values (stringified, sorted) — a local stand-in for
CORRECTNESS_r{N}.json so mismatches surface before the round gate."""

from __future__ import annotations

import os
import sys
import time

# the checkout this tool lives in, not whatever copy is installed elsewhere
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

import __spark_entry__ as entrymod

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

# oracle generators embed data-derived constants (IVF centroids, BPE corpus
# vocab) from this dir — thread the harness SF through before oracle_sql()
os.environ["PARAOCR_SF_DIR"] = SF_DIR

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]

    def cell(v):
        # full-precision stringification: the driver hashes str(v) verbatim,
        # so '1136.0' (DuckDB HUGEINT->float64) vs '1136' (Spark bigint) is a
        # REAL mismatch — do not canonicalize floats here
        return str(v)

    rows = [tuple(cell(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows)


def main():
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from read_parquet('{SF_DIR}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error {e!r}"[:300])
            failures += 1
            continue
        dt = time.perf_counter() - t0
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle) [{dt:.1f}s]")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error {e!r}"[:300])
            failures += 1
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            print(f"FAIL  {name}: columns {sorted(sdf.columns)} vs {sorted(odf.columns)}")
            failures += 1
            continue
        a, b = canon(sdf), canon(odf)
        if len(a) != len(b):
            print(f"FAIL  {name}: rowcount {len(a)} vs {len(b)}")
            failures += 1
            continue
        if a != b:
            bad = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL  {name}: value mismatch, e.g. {bad}")
            failures += 1
            continue
        print(f"OK    {name}: {len(a)} rows match [{dt:.1f}s]")

    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
