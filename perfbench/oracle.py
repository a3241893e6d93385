"""Compares each catalog query's Spark output with its DuckDB oracle answer over
the same fixtures: row count, column names, then values row by row, as
tools/check_oracle.py does. Queries without an oracle (hash-based ones) must
return at least one row."""
import glob
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _first_mismatch(got, exp):
    for c in got.columns:
        for i, (a, b) in enumerate(zip(got[c].tolist(), exp[c].tolist())):
            if a is None and b is None:
                continue
            try:
                if pd.isna(a) and pd.isna(b):
                    continue
            except (TypeError, ValueError):
                pass
            eq = a == b
            if hasattr(eq, "all"):
                eq = bool(eq.all())
            if not eq:
                return f"col {c} row {i}: spark={a!r} oracle={b!r}"
    return None


def check(fixtures, outdir, queries, oracle_sql):
    """Returns {query: error message} for every query that does not match."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixtures}/{t}.parquet'")
    fails = {}
    for name in queries:
        files = glob.glob(os.path.join(outdir, name, "*.parquet"))
        if not files:
            fails[name] = "no output written"
            continue
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        if name not in oracle_sql:
            if len(got) == 0:
                fails[name] = "rows-only query returned 0 rows"
            continue
        try:
            exp = con.execute(oracle_sql[name]).fetchdf()
        except Exception as e:  # the oracle itself failing is a mismatch too
            fails[name] = f"oracle SQL error: {e}"
            continue
        gc, ec = sorted(got.columns), sorted(exp.columns)
        if gc != ec:
            fails[name] = f"schema mismatch: got {gc} vs oracle {ec}"
        elif len(got) != len(exp):
            fails[name] = f"rowcount {len(got)} vs {len(exp)}"
        else:
            bad = _first_mismatch(got[gc], exp[gc])
            if bad:
                fails[name] = bad
    con.close()
    return fails
