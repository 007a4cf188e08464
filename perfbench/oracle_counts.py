#!/usr/bin/env python3
"""Row counts of DuckDB oracle queries.

usage: oracle_counts.py <sql.json> <sf-dir> <out.tsv> <query>...

<sql.json> maps a query name to its oracle SQL, as `graft.OracleDump` writes
it; the tables are the parquet files of <sf-dir>. Writes one `name<TAB>rows`
line per named query.
"""
import json
import os
import sys

import duckdb


def main():
    sql_file, sf_dir, out, names = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4:]
    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(sf_dir, f).replace("'", "''")
            con.sql(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM '{path}'")
    with open(sql_file) as fh:
        oracle = json.load(fh)
    with open(out, "w") as fh:
        for name in sorted(names):
            n = con.sql(f"SELECT count(*) FROM ({oracle[name]})").fetchone()[0]
            fh.write(f"{name}\t{n}\n")


if __name__ == "__main__":
    main()
