"""DuckDB cross-check of curate query outputs, run when goldens are
recorded: each query's oracleSql runs in DuckDB over the same generated
tables, and its rows must equal the Spark output (same columns, dtypes
and values after sorting).
"""
import glob
import json
import os

import duckdb


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def cross_check(tables_dir, out_dir, queries):
    """[(query, reason)] for every query whose Spark output disagrees."""
    con = duckdb.connect()
    for p in glob.glob(os.path.join(tables_dir, "*.parquet")):
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (os.path.basename(p)[:-8], p))
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    bad = []
    for q in queries:
        if q not in oracle:
            bad.append((q, "no oracleSql"))
            continue
        d = con.execute(oracle[q]).df()
        s = duckdb.connect().execute(
            "SELECT * FROM read_parquet('%s/*.parquet')" % os.path.join(out_dir, q)).df()
        if sorted(d.columns) != sorted(s.columns):
            bad.append((q, "columns %s vs %s" % (sorted(d.columns), sorted(s.columns))))
        elif len(d) != len(s):
            bad.append((q, "rows oracle=%d spark=%d" % (len(d), len(s))))
        else:
            dc, sc = _canon(d), _canon(s)
            diff = [c for c in dc.columns
                    if dc[c].dtype != sc[c].dtype or not (dc[c].values == sc[c].values).all()]
            if diff:
                bad.append((q, "values differ in %s" % diff))
    return bad
