#!/usr/bin/env python3
"""Cross-check the batch results behind perfbench/expected.json against DuckDB.

    python3 perfbench/oracle.py <corpus dir> <dump dir>

The dump dir holds one parquet result per catalog query and
oracle_sql.json, the DuckDB SQL the catalog gives for those queries
(SparkEntry.oracleSql). Each query with oracle SQL is run in DuckDB over
the same corpus and compared with the engine's result, ignoring row order
and cutting floats to 9 significant digits. run.py --refresh-expected
calls this after writing the digests; a mismatch exits 1.
"""
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        return float(f"{v:.9g}")
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def rows(rel):
    """Rows with columns in name order, as a sorted list."""
    order = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
    return sorted((tuple(norm(r[i]) for i in order) for r in rel.fetchall()), key=repr)


def main():
    corpus, dump = sys.argv[1], sys.argv[2]
    oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
    bad = 0
    for q in sorted(os.listdir(dump)):
        path = os.path.join(dump, q)
        if not os.path.isdir(path):
            continue
        if q not in oracle:
            print(f"oracle: {q}: no DuckDB SQL in the catalog, digest only")
            continue
        ours = rows(con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')"))
        theirs = rows(con.sql(oracle[q]))
        same = ours == theirs
        bad += not same
        print(f"oracle: {q}: {'agrees' if same else 'DIFFERS'} ({len(ours)} vs {len(theirs)} rows)")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
