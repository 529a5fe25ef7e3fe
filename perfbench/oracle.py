"""Result check against the DuckDB oracle.

The comparison is tools/check.py's: columns sorted by name, rows sorted
by every column, floats compared exactly, every other value compared
by its string form, and NULL equal only to NULL. It is vectorized here
because check.py's per-cell loop takes longer than a benchmark run.
"""
import os

import duckdb
import pandas as pd


def _normalized(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _column_matches(a, b):
    null_a, null_b = a.isna(), b.isna()
    if pd.api.types.is_float_dtype(a) and pd.api.types.is_float_dtype(b):
        same = a.values == b.values
    else:
        same = a.map(str).values == b.map(str).values
    return bool(((null_a & null_b) | (~null_a & ~null_b & same)).all())


def mismatch(got, exp):
    """None when the Spark result `got` equals the oracle's `exp`,
    else a one-line reason."""
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} vs {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    got, exp = _normalized(got), _normalized(exp)
    for c in got.columns:
        if not _column_matches(got[c], exp[c]):
            return f"column {c} differs"
    return None


def check(sf, dump, oracle_sql, threads, spill):
    """Compare every dumped result with its oracle SQL; returns
    {query: reason} for the queries that do not match."""
    views = []
    for f in sorted(os.listdir(sf)):
        if f.endswith(".parquet"):  # a file, or a directory of part files
            src = os.path.join(sf, f, "*.parquet") if os.path.isdir(os.path.join(sf, f)) \
                else os.path.join(sf, f)
            views.append(f"CREATE VIEW {f[:-len('.parquet')]} AS FROM read_parquet('{src}')")
    bad = {}
    for name, sql in sorted(oracle_sql.items()):
        con = duckdb.connect()
        try:
            con.execute(f"SET threads={threads}")
            con.execute("SET memory_limit='2GB'")
            con.execute(f"SET temp_directory='{spill}'")
            con.execute("SET preserve_insertion_order=false")
            for v in views:
                con.execute(v)
            got = con.execute(f"FROM read_parquet('{dump}/{name}/*.parquet')").fetchdf()
            reason = mismatch(got, con.execute(sql).fetchdf())
        except Exception as e:  # an oracle or read error is a failed check
            reason = f"{type(e).__name__}: {e}"
        finally:
            con.close()
        if reason:
            bad[name] = reason
    return bad
