"""Answer checks against DuckDB.

Registry queries are checked with `SparkEntry.oracleSql` on the generated
tables.  Values compare exactly (floats included), columns by name, rows as
multisets.
"""
import datetime as dt
import decimal
import glob
import os

import duckdb

from datagen import TABLES

EPOCH = dt.datetime(1970, 1, 1)

# Declared approximate: checked on rows only (a non-empty answer).
ROWS_ONLY = {"q_approx_distinct"}


def connect(data_dir, work_dir):
    con = duckdb.connect()
    os.makedirs(work_dir, exist_ok=True)
    con.execute(f"SET temp_directory='{work_dir}'")
    con.execute("SET memory_limit='2GB'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def canon(v):
    """A comparable form of one value from DuckDB or from the harness."""
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, decimal.Decimal)):
        return float(v) if float(v) == v else v
    if isinstance(v, float):
        return ("nan",) if v != v else v
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        if v.time() == dt.time():   # a midnight timestamp reads as its date
            return v.date().isoformat()
        return (v - EPOCH) // dt.timedelta(microseconds=1)
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    return str(v)


def _key(row):
    return tuple((x is None, type(x).__name__, x if x is not None else 0)
                 for x in row)


def table(cols, rows):
    """Rows with columns sorted by name and values canonical, sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    return [cols[i] for i in order], sorted(out, key=_key)


def diff(expected, actual):
    """'' if the (cols, rows) pairs match, else a one-line reason."""
    (ec, er), (ac, ar) = expected, actual
    if ec != ac:
        return f"columns {ac} != {ec}"
    if len(er) != len(ar):
        return f"{len(ar)} rows != {len(er)}"
    for i, (e, a) in enumerate(zip(er, ar)):
        if e != a:
            return f"row {i}: {a} != {e}"
    return ""


def query(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def answer(con, result_dir):
    """A dumped registry answer as (cols, rows), or None if none was
    written."""
    files = glob.glob(os.path.join(result_dir, "*.parquet"))
    if not files:
        return None
    return table(*query(con, f"SELECT * FROM read_parquet({files!r})"))
