#!/usr/bin/env python3
"""Oracle-check a subset of registry queries against DuckDB.

Usage: python tools/verify_subset.py [--sf SF_DIR] name1 name2 ...
       python tools/verify_subset.py --regex 'graph_|sim_'

Mirrors the driver's check: rows + sorted-column md5 hash with floats
rounded to 4 decimals.  Exit code 0 iff every named query matches (or is
rows-only).
"""
from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

from flink_1_8_sourcecode_spark.queries import load_all  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "partsupp",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def vhash(pdf: pd.DataFrame) -> str:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_float_dtype(s):
            pdf[c] = s.astype(float).round(4)
        elif pd.api.types.is_datetime64_any_dtype(s):
            pdf[c] = s.astype("datetime64[us]").astype(str)
        else:
            pdf[c] = s.astype(str)
    return hashlib.md5(
        json.dumps(
            sorted(map(tuple, pdf.itertuples(index=False, name=None))),
            default=str,
        ).encode()
    ).hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--regex", default=None)
    ap.add_argument("--cpus", default="8")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    reg = load_all()
    names = list(args.names)
    if args.regex:
        pat = re.compile(args.regex)
        names += [n for n in reg if pat.match(n) and n not in names]
    unknown = [n for n in names if n not in reg]
    if unknown:
        print("unknown queries:", unknown, file=sys.stderr)
        return 2

    from flink_1_8_sourcecode_spark.session import get_spark

    # the engine's own session (UTC, its confs and its session extension)
    spark = get_spark(app_name="verify-subset", master=f"local[{args.cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{args.sf}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    bad = []
    for name in names:
        q = reg[name]
        try:
            sdf = q.spark(spark, args.sf).toPandas()
            if q.oracle is None:
                print(f"{name}: {len(sdf)} rows-only")
                continue
            odf = con.execute(q.oracle).fetchdf()
            ok = vhash(sdf) == vhash(odf) and len(sdf) == len(odf)
            print(f"{name}: {len(sdf)}/{len(odf)} {'match' if ok else 'MISMATCH'}")
            if not ok:
                bad.append(name)
        except Exception as e:  # pragma: no cover - diagnostic path
            print(f"{name}: ERROR {type(e).__name__}: {e}")
            bad.append(name)
    if bad:
        print("FAILED:", bad, file=sys.stderr)
        return 1
    print(f"all {len(names)} green")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
