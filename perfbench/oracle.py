"""DuckDB oracle check of the catalog workload's checked pass.

Each entry's rows (one parquet directory per entry) are compared with the
entry's oracle SQL run by DuckDB over the same input tables: row count,
column names, and a hash of every value with columns sorted by name and
rows sorted. The canonical form and the hash are those of the engine's
`tools/diffcheck.py`. An entry without an oracle must return rows.
"""
import glob
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from diffcheck import TABLES, table_hash  # noqa: E402


def compare(cols, rows, ocols, orows):
    """None when the rows match the oracle's, else a one-line reason."""
    if len(rows) != len(orows):
        return f"{len(rows)} rows, oracle {len(orows)}"
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)}, oracle {sorted(ocols)}"
    if table_hash(cols, rows) != table_hash(ocols, orows):
        return "values differ from the oracle"
    return None


def check(table_dir, out_dir):
    """[(entry, has_oracle, reason or None)] for every entry directory under
    out_dir."""
    import duckdb
    import pyarrow.dataset as ds
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(table_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    results = []
    for d in sorted(glob.glob(os.path.join(out_dir, "*", ""))):
        name = os.path.basename(os.path.dirname(d))
        tbl = ds.dataset(d, format="parquet").to_table()
        cols = tbl.column_names
        rows = [tuple(r[c] for c in cols) for r in tbl.to_pylist()]
        if name not in oracle:
            results.append((name, False, None if rows else "no rows (entry has no oracle)"))
            continue
        try:
            res = con.execute(oracle[name])
            ocols = [c[0] for c in res.description]
            results.append((name, True, compare(cols, rows, ocols, res.fetchall())))
        except Exception as e:  # an oracle that cannot run is a failed check
            results.append((name, True, f"oracle error: {e}"))
    return results
