"""Row comparison against the DuckDB oracle.

The comparison rules mirror `scripts/compare_oracle.py`: columns are
matched by sorted name, rows are sorted, and values must be equal
(floats exactly, decimals numerically, anything else by value or by its
string form).
"""
import datetime as dt
import decimal
import glob
import json
import math
import os

import duckdb


def decode(text):
    """Parses harness JSON, restoring the tagged exact values."""
    def hook(o):
        if len(o) == 1:
            (k, v), = o.items()
            if k == "d":
                return decimal.Decimal(v)
            if k == "t":
                return dt.datetime.fromisoformat(v)
            if k == "f":
                return float(v)
        return o
    return json.loads(text, object_hook=hook)


def connect(table_dir, work):
    """A DuckDB connection with one view per table directory or file."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{work}'")
    con.execute("SET threads = 1")
    for p in sorted(glob.glob(os.path.join(table_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


def rows_of(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    out.sort(key=lambda r: tuple((x is None, str(type(x)), x) for x in r))
    return [cols[i] for i in order], out


def _eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        return (math.isnan(fa) and math.isnan(fb)) or fa == fb
    if isinstance(a, list) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_eq(x, y) for x, y in zip(a, b))
    return a == b or str(a) == str(b)


def mismatch(got_cols, got_rows, exp_cols, exp_rows):
    """None when the results agree, else a one-line reason."""
    gc, gr = _canon(got_cols, [tuple(r) for r in got_rows])
    ec, er = _canon(exp_cols, exp_rows)
    if gc != ec:
        return f"columns {gc} != {ec}"
    if len(gr) != len(er):
        return f"{len(gr)} rows, expected {len(er)}"
    for r1, r2 in zip(gr, er):
        for c, a, b in zip(gc, r1, r2):
            if not _eq(a, b):
                return f"column {c}: got {a!r}, expected {b!r}"
    return None
