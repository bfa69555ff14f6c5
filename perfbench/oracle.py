"""DuckDB oracle check for the query workloads.

Compares one query result (a parquet directory written by the program)
with the query's oracle SQL run by DuckDB over the same input tables, the
way the repository's correctness gate (tools/check.py) compares: results
come through Arrow so wide ints and decimals stay exact, columns are
sorted by name and rows by every column (non-float columns first), and
cells compare exactly, floats included.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

def connect(input_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(glob.glob(os.path.join(input_dir, "*.parquet"))):
        name = os.path.basename(f)[:-8]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    return con


def _read(result_dir):
    return pq.read_table(result_dir).to_pandas()


def compare(con, sql, result_dir):
    """None when the result matches the oracle, else a reason."""
    mine = _read(result_dir)
    ref = con.sql(sql).arrow().to_pandas()
    mine = mine.reindex(sorted(mine.columns), axis=1)
    ref = ref.reindex(sorted(ref.columns), axis=1)
    if list(mine.columns) != list(ref.columns):
        return f"columns {list(mine.columns)} vs {list(ref.columns)}"
    if len(mine) != len(ref):
        return f"rows {len(mine)} vs {len(ref)}"
    if len(mine) == 0:
        return None
    # non-float columns lead the sort so a last-ulp float difference
    # cannot reorder rows and misalign the cell-by-cell compare
    sort_cols = sorted(mine.columns, key=lambda c: pd.api.types.is_float_dtype(mine[c]))
    mine = mine.sort_values(sort_cols, ignore_index=True)
    ref = ref.sort_values(sort_cols, ignore_index=True)
    bad = []
    for c in mine.columns:
        a, b = mine[c], ref[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            a2, b2 = a.astype(float).to_numpy(), b.astype(float).to_numpy()
            if not np.array_equal(a2, b2, equal_nan=True):
                bad.append(f"{c}: float mismatch maxdiff={np.nanmax(np.abs(a2 - b2)):.3e}")
        else:
            try:
                eq = a.equals(b) or (a.astype(str).to_numpy() == b.astype(str).to_numpy()).all()
            except Exception:
                eq = False
            if not eq:
                i = next(j for j in range(len(a)) if str(a.iloc[j]) != str(b.iloc[j]))
                bad.append(f"{c}: row {i}: {a.iloc[i]!r} vs {b.iloc[i]!r}")
    return "; ".join(bad) or None


def check_pairs(pairs, oracle_sql, results_root):
    """pairs: {pair key: (query, input dir)}. Returns ({pair: reason}
    for mismatches, {pair: result rows})."""
    fails, rows = {}, {}
    cons = {}
    for key, (query, input_dir) in sorted(pairs.items()):
        result = os.path.join(results_root, key)
        if not os.path.isdir(result):
            fails[key] = "no result written"
            continue
        rows[key] = sum(pq.read_metadata(f).num_rows
                        for f in glob.glob(os.path.join(result, "*.parquet")))
        con = cons.get(input_dir) or cons.setdefault(input_dir, connect(input_dir))
        try:
            why = compare(con, oracle_sql[query], result) if query in oracle_sql \
                else "no oracle"
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"oracle error: {e}"
        if why:
            fails[key] = why
    for con in cons.values():
        con.close()
    return fails, rows
