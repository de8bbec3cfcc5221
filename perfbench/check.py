"""Output checks for the benchmark, run after the timed JVM has exited.

Every comparison is order-insensitive and exact: rows become tuples of
canonical values (ints, doubles and decimals compared as exact numbers,
so an int and a double of the same value agree but no rounding is
forgiven), and the two sorted row lists must be equal. Each check returns a list of problems;
an empty list means the outputs are correct.
"""
import datetime
import decimal
import glob
import json
import math
from fractions import Fraction

THREADS_MAX = 4


def canon(v):
    """A value as a sortable, exactly comparable tuple."""
    if v is None:
        return (0,)
    if isinstance(v, bool):
        return (1, v)
    if isinstance(v, (int, float)):
        # int, float and Fraction compare exactly with each other
        return (2, repr(v)) if v != v or v in (math.inf, -math.inf) else (3, v)
    if isinstance(v, decimal.Decimal):
        return (3, Fraction(v))
    if isinstance(v, str):
        tag, _, rest = v.partition(":")
        if tag == "decimal" and rest:
            return (3, Fraction(decimal.Decimal(rest)))
        if tag == "ts" and rest:
            return (4, rest)
        if tag == "date" and rest:
            return (5, rest)
        if tag == "bytes":
            return (6, rest)
        return (7, v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return (4, v.strftime("%Y-%m-%d %H:%M:%S.%f"))
    if isinstance(v, datetime.date):
        return (5, v.isoformat())
    if isinstance(v, (bytes, bytearray)):
        return (6, bytes(v).hex())
    if isinstance(v, dict):  # a DuckDB struct; the harness writes structs as arrays
        return (8, tuple(canon(x) for x in v.values()))
    if isinstance(v, (list, tuple)):
        return (8, tuple(canon(x) for x in v))
    return (7, str(v))


def table(columns, rows):
    """(sorted column names, sorted canonical rows)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    rs = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    return cols, rs


def compare(name, got, want):
    """Problems found comparing two (columns, rows) results."""
    gc, gr = table(*got)
    wc, wr = table(*want)
    if gc != wc:
        return [f"{name}: columns {gc} != expected {wc}"]
    if len(gr) != len(wr):
        return [f"{name}: {len(gr)} rows, expected {len(wr)}"]
    for i, (a, b) in enumerate(zip(gr, wr)):
        if a != b:
            return [f"{name}: sorted row {i} is {a}, expected {b}"]
    return []


def load_rows(path):
    """A (columns, rows) result written by the harness."""
    with open(path) as f:
        o = json.load(f)
    return o["columns"], o["rows"]


def duck(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def connect(data_dir, tables, threads):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads={max(1, min(threads, THREADS_MAX))}")
    con.execute("SET TimeZone='UTC'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def parquet_rows(con, directory):
    files = sorted(glob.glob(f"{directory}/*.parquet"))
    if not files:
        return None
    flist = "[" + ",".join(f"'{f}'" for f in files) + "]"
    return duck(con, f"SELECT * FROM read_parquet({flist})")


# -- shingle Jaccard, as the program defines it (word 5-shingles) ---------

def shingles(text, n=5):
    w = text.split(" ")
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    u = len(sa | sb)
    return len(sa & sb) / u if u else 0.0
