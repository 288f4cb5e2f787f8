"""DuckDB check of the analytics queries' results.

Each query's engine rows (from the last timed pass) are compared with its
oracle SQL from `SparkEntry.oracleSql`, run by DuckDB over the same
generated tables, by the rules of devtools/compare.py: same column-name
set, same row count, and the same rows once cells are canonicalized and
rows and columns sorted.
"""
import json
import math
from pathlib import Path

import duckdb


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if v is None:
            return "\x00"
        if isinstance(v, float):
            return "nan" if math.isnan(v) else repr(v)
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        if isinstance(v, bytes):
            return v.hex()
        return str(v)

    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def check(results: Path, tables: Path) -> list:
    """Returns one (name, ok, detail) per query."""
    con = duckdb.connect()
    for t in sorted(tables.glob("*.parquet")):
        con.sql(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}'")
    out = []
    for name, res in json.loads(results.read_text()).items():
        check_name = f"analytics.{name}.oracle"
        if res is None:
            out.append((check_name, False, "no engine result"))
            continue
        try:
            ora = con.sql(res["oracle"])
            o_cols, o_rows = [d[0] for d in ora.description], ora.fetchall()
        except duckdb.Error as exc:
            out.append((check_name, False, f"oracle failed: {exc}"))
            continue
        e_cols, e_rows = res["columns"], res["rows"]
        ok = (sorted(e_cols) == sorted(o_cols) and len(e_rows) == len(o_rows)
              and _canon(e_rows, e_cols) == _canon(o_rows, o_cols))
        out.append((check_name, ok, f"rows={len(e_rows)}/{len(o_rows)}"))
    con.close()
    return out
