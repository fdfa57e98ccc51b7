#!/usr/bin/env python3
"""Records perfbench/catalog_digests.json, the expected result digest of
every catalog query on the generated tables.

    python3 perfbench/record_digests.py

Run it from the root of a graft checkout. It runs each query of
catalog_queries.json once, collects the result, and digests it the way the
benchmark does. Every query that carries a DuckDB oracle (`Q.oracle`) is
first checked against DuckDB on the same tables: rows compared exactly,
columns by name, in sorted order. Nothing is written if any check fails.
"""
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        df[c] = df[c].map(lambda v: repr(v.tolist() if hasattr(v, "tolist") else v))
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main():
    java = run.build()
    data = run.catalog_data()
    out = os.path.join(run.WORK, "record-digests")
    run.launch(java, out, ["--record-digests", "--catalog-data", data,
                           "--queries", os.path.join(run.BENCH, "catalog_queries.json")])
    digests = json.load(open(os.path.join(out, "digests.json")))
    con = duckdb.connect()
    for f in os.listdir(data):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data, f)}'")
    bad = 0
    for name, d in sorted(digests.items()):
        if d["oracle"] is None:
            d["oracle"] = "none"
            print(f"   {name}: {d['rows']} rows, no oracle")
            continue
        got = canon(con.sql(f"SELECT * FROM '{os.path.join(out, name)}/*.parquet'").fetchdf())
        want = canon(con.sql(d["oracle"]).fetchdf())
        ok = list(got.columns) == list(want.columns) and got.equals(want)
        d["oracle"] = "duckdb-match" if ok else "duckdb-MISMATCH"
        bad += not ok
        print(f"{'  ' if ok else 'XX'} {name}: {d['rows']} rows, {d['oracle']}")
    if bad:
        run.fail(f"{bad} queries disagree with DuckDB; digests not written")
    path = os.path.join(run.BENCH, "catalog_digests.json")
    with open(path, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
