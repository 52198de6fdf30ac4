"""Local emulation of the driver's correctness gate.

Runs every ``queries()`` entry on Spark at a given sf dir and compares it to
``oracle_sql()`` via DuckDB: row count, column names, and an order-insensitive
value comparison (columns sorted by name, rows sorted by all columns).

Usage: python tests/oracle_harness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def normalize(df):
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: v if v is None else str(v))
        elif "float" in str(df[c].dtype):
            df[c] = df[c].round(9)
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(name, spark_pdf, duck_pdf) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            "schema: spark=%s duck=%s"
            % (sorted(spark_pdf.columns), sorted(duck_pdf.columns))
        )
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append("rows: spark=%d duck=%d" % (len(spark_pdf), len(duck_pdf)))
    # Dtype-strict on the RENDERED class: the driver hashes rendered values,
    # so int64 15 vs float64 15.0 (DuckDB HUGEINT sums land as float64)
    # hash-differ even when element-wise == passes — the round-3 blind spot.
    # Width-only differences (int32 vs int64) render identically and were
    # driver-green, so compare pandas dtype *kind* classes, folding the
    # same-rendering kinds (i/u ints, M/m datetimes) together.
    fold = {"u": "i", "m": "M"}
    for c in sorted(spark_pdf.columns):
        ka = fold.get(spark_pdf[c].dtype.kind, spark_pdf[c].dtype.kind)
        kb = fold.get(duck_pdf[c].dtype.kind, duck_pdf[c].dtype.kind)
        if ka != kb:
            problems.append(
                "dtype col=%s: spark=%s duck=%s"
                % (c, spark_pdf[c].dtype, duck_pdf[c].dtype)
            )
    if problems:
        return problems
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    if len(a) == len(b) and not a.equals(b):
        neq = (a != b) & ~(a.isna() & b.isna())
        bad_cols = [c for c in a.columns if neq[c].any()]
        for c in bad_cols[:3]:
            i = neq[c].idxmax()
            problems.append(
                "value col=%s row=%d: spark=%r duck=%r"
                % (c, i, a[c][i], b[c][i])
            )
    return problems


def connect(sf_dir: str):
    """A DuckDB connection with one view per sf table present in sf_dir."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, "%s.parquet" % t)
        if os.path.exists(path):
            con.sql("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, path))
    return con


def main(sf_dir: str, only=None) -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = connect(sf_dir)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_bad = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            print("FAIL  %-24s spark raised: %s" % (name, exc))
            n_bad += 1
            continue
        if name not in oracles:
            print("ROWS  %-24s %d rows (no oracle)" % (name, len(sdf)))
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as exc:
            print("FAIL  %-24s oracle raised: %s" % (name, exc))
            n_bad += 1
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            n_bad += 1
            print("FAIL  %-24s %s" % (name, "; ".join(problems)))
        else:
            print("OK    %-24s %d rows" % (name, len(sdf)))
    return n_bad


if __name__ == "__main__":
    args = sys.argv[1:]
    sf = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = set(a for a in args if "/" not in a) or None
    sys.exit(1 if main(sf, only) else 0)
