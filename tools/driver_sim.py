#!/usr/bin/env python
"""Simulate the round driver's correctness gate locally.

For every entry in __spark_entry__.queries(): run the Spark query at
--sf (default sf0.01); if an oracle_sql() twin exists, run it in DuckDB
over the same parquet tables and compare row count, schema (column
names), and a canonical value hash (columns sorted by name, rows sorted
by all columns, float values rounded). Rows-only entries just need a
clean collect through the same pandas canonicalizer — which is exactly
what broke round 1's outline_extract (array<struct> columns are
unhashable in pandas sort). Every line also carries ``spark_hash``,
the Spark side's value hash, so two commits' runs can be diffed.

Run: python tools/driver_sim.py [--only name1,name2] [--sf DIR]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _canon(pdf) -> str:
    import pandas as pd

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype.kind == "f":
            pdf[c] = pdf[c].round(6)
    pdf = pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
    payload = pdf.to_csv(index=False, float_format="%.6f")
    return hashlib.sha256(payload.encode()).hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    from pdf_extractor_spark.session import get_spark

    with get_spark("driver_sim", shuffle_partitions=16) as spark:  # stopped on exit
        return _simulate(spark, args)


def _simulate(spark, args) -> int:
    import duckdb

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(args.only.split(",")) if args.only else None

    con = duckdb.connect()
    for t in TABLES:
        p = f"{args.sf}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf)
            spdf = sdf.toPandas()
            spark_hash = _canon(spdf.select_dtypes(exclude=["object"]).join(
                spdf.select_dtypes(include=["object"]).astype(str)
            ))[:16]
            row = {"spark_rows": len(spdf), "spark_hash": spark_hash, "err": None}
            if name in oracles:
                opdf = con.execute(oracles[name]).df()
                row["oracle_rows"] = len(opdf)
                row["rows_match"] = len(spdf) == len(opdf)
                row["schema_match"] = sorted(spdf.columns) == sorted(opdf.columns)
                row["hash_match"] = (
                    row["schema_match"] and _canon(spdf) == _canon(opdf)
                )
            else:
                row["rows_only"] = True
        except Exception as exc:  # driver records errors per query
            row = {"err": f"{type(exc).__name__}: {exc}"[:300]}
        row["sec"] = round(time.time() - t0, 2)
        results[name] = row
        ok = row.get("hash_match", row.get("rows_only", False)) and not row["err"]
        print(("PASS " if ok else "FAIL "), name, json.dumps(row), flush=True)

    bad = [n for n, r in results.items()
           if r.get("err") or (("hash_match" in r) and not r["hash_match"])]
    print(f"\n{len(results) - len(bad)}/{len(results)} green; bad: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
