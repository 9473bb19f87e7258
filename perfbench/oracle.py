"""Checks each query result of a run against its DuckDB oracle SQL.

Results are compared in the canonical form of the repository's own oracle
compare, `tools/compare_oracle.py` (rows sorted, columns sorted by name,
floats rounded to 9 decimals). The oracle SQL runs on the run's own
generated tables.
"""
import glob
import json
import os
import sys
import time

import duckdb

from gen_data import TABLE_NAMES

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def check(data_dir, check_dir, names):
    """{query name: {"ok": bool, "rows": n, "detail": str}} for `names`."""
    sys.path.insert(0, TOOLS)
    from compare_oracle import canon
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        sql = json.load(f)
    out = {}
    for name in names:
        files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
        if not files:
            out[name] = {"ok": False, "rows": 0, "detail": "no result written"}
            continue
        got = con.execute(f"SELECT * FROM '{files[0]}'").fetchall()
        got_cols = [d[0] for d in con.description]
        if name not in sql:
            out[name] = {"ok": True, "rows": len(got), "detail": "rows only (no oracle)"}
            continue
        t = time.time()
        try:
            want = con.execute(sql[name]).fetchall()
            want_cols = [d[0] for d in con.description]
        except duckdb.Error as e:
            out[name] = {"ok": False, "rows": len(got), "detail": f"oracle SQL error: {e}"}
            continue
        if sorted(got_cols) != sorted(want_cols):
            out[name] = {"ok": False, "rows": len(got),
                         "detail": f"columns {sorted(got_cols)} vs {sorted(want_cols)}"}
            continue
        a, b = canon(got, got_cols), canon(want, want_cols)
        if a != b:
            bad = sum(1 for x, y in zip(a, b) if x != y) + abs(len(a) - len(b))
            out[name] = {"ok": False, "rows": len(got),
                         "detail": f"{len(got)} vs {len(want)} rows, {bad} differ"}
        else:
            out[name] = {"ok": True, "rows": len(got), "detail": "matches oracle"}
        out[name]["oracle_s"] = time.time() - t
    return out
