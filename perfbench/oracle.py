#!/usr/bin/env python3
"""Row counts of the DuckDB twins of the common-67 queries.

Usage: python3 perfbench/oracle.py <oracle_sql.json> <sfdir> <counts.json>

Reads {query: DuckDB twin SQL} and writes {query: row count} over the
fixture at <sfdir>. A twin's count depends only on its SQL and the fixture,
so a checkout computes it once; every run compares its Spark counts with it.
"""
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(sfdir):
    """The fixture tables as DuckDB views, registered as tools/check.py does."""
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sfdir}/{t}.parquet"
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        if t == "events":
            typ = con.execute(
                f"SELECT typeof(ts) FROM read_parquet('{src}') LIMIT 1").fetchone()[0]
            if typ == "BIGINT":
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * REPLACE (make_timestamp(ts // 1000) AS ts) "
                    f"FROM read_parquet('{src}')")
                continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def main():
    sql_file, sfdir, out = sys.argv[1:4]
    with open(sql_file) as f:
        oracle = json.load(f)
    con = connect(sfdir)
    counts = {q: con.execute(f"SELECT count(*) FROM ({sql.strip().rstrip(';')}) AS twin").fetchone()[0]
              for q, sql in sorted(oracle.items())}
    with open(out, "w") as f:
        json.dump(counts, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
