#!/usr/bin/env python
"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and, where an
``oracle_sql()`` entry exists, the same query on DuckDB over the identical
parquet tables; compares row count, schema (column names), and an
order-insensitive value hash (columns sorted by name, rows sorted, floats
rounded). Usage::

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canonicalize(pdf: pd.DataFrame, float_decimals: int = 6) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("float64").round(float_decimals)
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
    pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)
    return pdf


def value_hash(pdf: pd.DataFrame) -> str:
    canon = canonicalize(pdf)
    payload = canon.to_csv(index=False, float_format="%.6f").encode()
    return hashlib.md5(payload).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import __spark_entry__ as entry_mod
    from jvector_spark.session import get_spark

    spark = get_spark(app_name="check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        elapsed = time.time() - t0
        if name not in oracles:
            print(f"ROWS  {name}: {len(spdf)} rows (no oracle, rows-only) [{elapsed:.1f}s]")
            continue
        try:
            opdf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = []
        if len(spdf) != len(opdf):
            problems.append(f"rowcount spark={len(spdf)} oracle={len(opdf)}")
        if sorted(spdf.columns) != sorted(opdf.columns):
            problems.append(f"schema spark={sorted(spdf.columns)} oracle={sorted(opdf.columns)}")
        if not problems:
            hs, ho = value_hash(spdf), value_hash(opdf)
            if hs != ho:
                problems.append("value-hash mismatch")
                a, b = canonicalize(spdf), canonicalize(opdf)
                diff = a.compare(b) if a.shape == b.shape else None
                if diff is not None and len(diff):
                    print(diff.head(10))
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} [{elapsed:.1f}s]")
            failures.append(name)
        else:
            print(f"OK    {name}: {len(spdf)} rows hash-match [{elapsed:.1f}s]")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
