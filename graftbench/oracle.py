"""Checks each query_mix output against the repo's DuckDB oracle SQL (`*Queries.oracleSql`)
over the same generated tables: equal columns, equal row counts, and equal values after
sorting, compared as strings with no tolerance."""
import glob
import json
import os

import duckdb
import pandas as pd


def check(run_dir, tables_dir):
    """Yields (query, ok, detail) for every query the workload dumped."""
    con = duckdb.connect()
    for p in glob.glob(os.path.join(tables_dir, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(run_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    for q, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(run_dir, "outputs", q, "*.parquet"))
        if not sql:
            yield q, False, "no oracle SQL"
            continue
        if not files:
            yield q, False, "no output"
            continue
        sdf = pd.concat([pd.read_parquet(f) for f in files])
        try:
            ddf = con.execute(sql).fetchdf()
        except duckdb.Error as e:
            yield q, False, f"oracle error {e}"
            continue
        cols = sorted(sdf.columns)
        if cols != sorted(ddf.columns):
            yield q, False, f"columns {cols} != {sorted(ddf.columns)}"
            continue
        if len(sdf) != len(ddf):
            yield q, False, f"rows {len(sdf)} != {len(ddf)}"
            continue
        s = sdf[cols].sort_values(cols).reset_index(drop=True)
        d = ddf[cols].sort_values(cols).reset_index(drop=True)
        bad = next((c for c in cols if (s[c].astype(str) != d[c].astype(str)).any()), None)
        yield q, bad is None, "" if bad is None else f"column {bad} differs"
