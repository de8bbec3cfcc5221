#!/usr/bin/env python3
"""Profiles table directories side by side, as a Markdown table.

Usage:
  python3 perfbench/profile.py DIR [DIR ...]

Each DIR holds `<table>.parquet` files (the benchmark's generated base
tables under perfbench/_work/data/<key>, or a tier of the program's test
data). The statistics are the ones the TPC-H and corpus queries are
sensitive to: lines per order, the ship-date lag behind the order date,
line numbers, flag and status mixes, value ranges, and the document and
embedding shapes. Sizes differ between tiers; the shares and quantiles
are what should agree.
"""
import sys

import duckdb

STATS = [
    ("orders, lineitem rows",
     "SELECT (SELECT count(*) FROM orders) || ', ' || (SELECT count(*) FROM lineitem)"),
    ("lines per order: mean, max",
     "SELECT round(avg(n), 2) || ', ' || max(n) FROM "
     "(SELECT count(*) n FROM lineitem GROUP BY l_orderkey)"),
    ("share of orders with no lines",
     "SELECT round(1 - (SELECT count(DISTINCT l_orderkey) FROM lineitem) / count(*), 4) "
     "FROM orders"),
    ("ship lag (days): share < 0",
     "SELECT round(avg((lag < 0)::int), 3) FROM (SELECT date_diff('day', o_orderdate, "
     "l_shipdate) lag FROM lineitem JOIN orders ON l_orderkey = o_orderkey)"),
    ("ship lag (days): p1, Q1, median, Q3, p99",
     "SELECT list_transform(quantile_disc(lag, [0.01, 0.25, 0.5, 0.75, 0.99]), "
     "x -> x::int)::varchar FROM (SELECT date_diff('day', o_orderdate, l_shipdate) lag "
     "FROM lineitem JOIN orders ON l_orderkey = o_orderkey)"),
    ("l_linenumber range; share of duplicate (orderkey, linenumber)",
     "SELECT min(l_linenumber) || '–' || max(l_linenumber) || '; ' || round(1 - "
     "(SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)) "
     "/ count(*), 3) FROM lineitem"),
    ("l_shipdate range",
     "SELECT min(l_shipdate)::date || ' … ' || max(l_shipdate)::date FROM lineitem"),
    ("o_orderdate range",
     "SELECT min(o_orderdate)::date || ' … ' || max(o_orderdate)::date FROM orders"),
    ("(returnflag, linestatus) combos; largest share",
     "SELECT count(*) || '; ' || round(max(n) / sum(n), 3) FROM "
     "(SELECT count(*) n FROM lineitem GROUP BY l_returnflag, l_linestatus)"),
    ("l_quantity: min, mean, max",
     "SELECT min(l_quantity) || ', ' || round(avg(l_quantity), 1) || ', ' || "
     "max(l_quantity) FROM lineitem"),
    ("l_extendedprice: min, mean, max",
     "SELECT round(min(l_extendedprice)) || ', ' || round(avg(l_extendedprice)) || ', ' "
     "|| round(max(l_extendedprice)) FROM lineitem"),
    ("distinct l_discount, l_tax",
     "SELECT count(DISTINCT l_discount) || ', ' || count(DISTINCT l_tax) FROM lineitem"),
    ("o_orderstatus shares F/O/P",
     "SELECT string_agg(round(n / t, 3)::varchar, '/' ORDER BY s) FROM (SELECT "
     "o_orderstatus s, count(*) n, sum(count(*)) OVER () t FROM orders GROUP BY 1)"),
    ("o_totalprice: mean",
     "SELECT round(avg(o_totalprice)) FROM orders"),
    ("customers without orders",
     "SELECT round(1 - (SELECT count(DISTINCT o_custkey) FROM orders) / count(*), 3) "
     "FROM customer"),
    ("documents: rows, words min–max, mean",
     "SELECT count(*) || ', ' || min(w) || '–' || max(w) || ', ' || round(avg(w), 1) FROM "
     "(SELECT len(string_split(text, ' ')) w FROM documents)"),
    ("documents: share of repeated texts; vocabulary",
     "SELECT round(1 - count(DISTINCT text) / count(*), 3) || '; ' || (SELECT "
     "count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w FROM documents)) "
     "FROM documents"),
    ("documents: share of lang = en",
     "SELECT round(avg((lang = 'en')::int), 2) FROM documents"),
    ("embeddings: rows, dim, mean squared norm",
     "SELECT count(*) || ', ' || max(len(embedding)) || ', ' || round(avg(list_aggregate("
     "list_transform(embedding, x -> x * x), 'sum')), 4) FROM embeddings"),
]
TABLES = ["orders", "lineitem", "customer", "documents", "embeddings"]


def profile(d):
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
    return [str(con.execute(sql).fetchone()[0]) for _, sql in STATS]


def main():
    dirs = sys.argv[1:]
    if not dirs:
        sys.exit(__doc__)
    cols = [profile(d) for d in dirs]
    print("| statistic | " + " | ".join(dirs) + " |")
    print("|---" * (len(dirs) + 1) + "|")
    for i, (name, _) in enumerate(STATS):
        print(f"| {name} | " + " | ".join(c[i] for c in cols) + " |")


if __name__ == "__main__":
    main()
