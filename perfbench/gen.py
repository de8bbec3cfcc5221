"""Input generation for the benchmark.

The base tables (a TPC-H-style star schema plus the `documents` and
`embeddings` corpus tables) follow the column layout and value
distributions of the program's test data, scaled by `sf`. They depend
only on their own fixed generator seed, so every run of a workload
reads the same tables. What a run's `--seed` changes is the work done
over them: the query order, the DAG's stage order, and the lake
schedule (its document batches and DML statements), all made here.
"""
import datetime
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data spark table row column key value query join group "
         "order sort scan filter hash merge batch stream window agg line "
         "part customer vector fast slow big small").split()
NATIONS = 25
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EPOCH = datetime.datetime(1970, 1, 1)
TABLE_SEED = 20261019


def _ts(days_lo, days_hi, rng, n):
    """Midnight timestamps (µs) uniform over a day range since 1970."""
    days = rng.integers(days_lo, days_hi + 1, n)
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _days(y, m, d):
    return (datetime.datetime(y, m, d) - EPOCH).days


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def doc_text(rng, n_words):
    return " ".join(rng.choice(WORDS, n_words))


def make_docs(rng, ids, dup_frac=0.05, exact_frac=0.004, pool=None):
    """Random-word documents; a share of them are near-duplicates (an
    earlier text plus one word) or exact copies of another document."""
    texts = []
    pool = list(pool or [])
    for _ in ids:
        u = rng.random()
        if pool and u < dup_frac:
            texts.append(pool[int(rng.integers(len(pool)))] + " dup")
        elif pool and u < dup_frac + exact_frac:
            texts.append(pool[int(rng.integers(len(pool)))])
        else:
            texts.append(doc_text(rng, int(rng.integers(8, 101))))
        pool.append(texts[-1])
    langs = rng.choice(LANGS, len(texts), p=LANG_P)
    return {
        "doc_id": pa.array(np.asarray(ids, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(langs.tolist()),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def gen_tables(out, sf, n_docs, n_vecs, dim=64):
    """Writes the base tables as `<out>/<table>.parquet`."""
    rng = np.random.default_rng(TABLE_SEED)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(NATIONS), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(NATIONS)]),
        "n_regionkey": pa.array([i % 5 for i in range(NATIONS)], pa.int32())})
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, NATIONS, n_cust).astype("int32")),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust).tolist())})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, NATIONS, n_supp).astype("int32")),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    pk = np.arange(n_part, dtype="int64")
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part).tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 1))})
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist()),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
        "o_orderdate": _ts(_days(1995, 1, 1), _days(2001, 8, 1), rng, n_ord),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord).tolist())})
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype("int64")),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype("int32")),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_line)),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_line), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_line), 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line).tolist()),
        "l_shipdate": _ts(_days(1995, 1, 2), _days(2001, 11, 4), rng, n_line)})
    _write(f"{out}/documents.parquet", make_docs(rng, list(range(n_docs))))
    vecs = rng.standard_normal((n_vecs, dim)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_vecs, dtype="int64")),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype("int32"))})


# -- per-seed work --------------------------------------------------------

def tpch_orders(keys, seed, n):
    """`n` seeded permutations of the TPC-H keys, one per pass."""
    r = random.Random(seed)
    out = []
    for _ in range(n):
        ks = list(keys)
        r.shuffle(ks)
        out.append(ks)
    return out


def corpus_dag(stages, seed, stage_root):
    """The DAG config with the stages of each wave in seeded order.
    Waves follow the program's rule: a SQL stage sits one level above
    the highest stage it names; query stages are level 0."""
    r = random.Random(seed)
    query = [s for s in stages if "query" in s]
    sql = [s for s in stages if "sql" in s]
    r.shuffle(query)
    return {"cacheRoot": stage_root, "stages": query + sql}


def lake_inputs(out, seed, n_batches, batch_rows, orders_path, n_orders,
                min_chars, maint_every):
    """Document batches, the starting orders-derived table, MERGE
    update sets, and the schedule that interleaves them."""
    rng = np.random.default_rng(seed)
    r = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    batches, pool = [], []
    for b in range(n_batches):
        ids = list(range(b * batch_rows, (b + 1) * batch_rows))
        cols = make_docs(rng, ids, dup_frac=0.08, exact_frac=0.02, pool=pool)
        # a few documents too short to pass the quality rule
        texts = cols["text"].to_pylist()
        for i in rng.choice(batch_rows, max(1, batch_rows // 25), replace=False):
            texts[i] = doc_text(rng, int(rng.integers(2, 5)))
        cols["text"] = pa.array(texts)
        cols["n_chars"] = pa.array([len(t) for t in texts], pa.int64())
        pool.extend(texts)
        path = f"{out}/batch-{b}.parquet"
        _write(path, cols)
        batches.append(path)
    orders = pq.read_table(orders_path).slice(0, n_orders)
    base = {
        "o_orderkey": orders["o_orderkey"],
        "o_custkey": orders["o_custkey"],
        "o_orderstatus": orders["o_orderstatus"],
        "o_totalprice": orders["o_totalprice"],
        "o_orderpriority": orders["o_orderpriority"],
    }
    base_path = f"{out}/orders_base.parquet"
    _write(base_path, base)
    dml = []
    next_key = n_orders
    for j in range(3):
        kind = ("merge", "update", "delete")[j]
        if kind == "merge":
            old = sorted(r.sample(range(n_orders), 20))
            new = list(range(next_key, next_key + 10))
            next_key += 10
            keys = old + new
            path = f"{out}/merge-{j}.parquet"
            _write(path, {
                "o_orderkey": pa.array(keys, pa.int64()),
                "o_custkey": pa.array([int(x) for x in rng.integers(0, 1000, len(keys))], pa.int64()),
                "o_orderstatus": pa.array([r.choice("FOP") for _ in keys]),
                "o_totalprice": pa.array(_money(rng, 1000, 500_000, len(keys))),
                "o_orderpriority": pa.array([r.choice(PRIORITIES) for _ in keys])})
            dml.append({"op": "merge", "updates": path})
        elif kind == "update":
            lo = r.randrange(0, n_orders - 200)
            dml.append({"op": "update", "lo": lo, "hi": lo + 200,
                        "status": r.choice("FOP"), "delta": r.choice([0.5, 1.25, 10.0])})
        else:
            lo = r.randrange(0, n_orders - 300)
            dml.append({"op": "delete", "lo": lo, "hi": lo + 300,
                        "priority": r.choice(PRIORITIES)})
    # DML statements spread between and after the batches; after each
    # batch a read of the accepted documents at that batch's version;
    # at the end reads of the orders table at the latest version and
    # two statements back
    schedule = []
    for b in range(n_batches):
        schedule.append({"op": "ingest", "batch": b})
        schedule.append({"op": "read", "table": "docs", "batch": b, "name": f"docs-b{b}"})
        schedule.extend(dml[b::n_batches])
    schedule.append({"op": "read", "table": "orders", "back": 0, "name": "orders-latest"})
    schedule.append({"op": "read", "table": "orders", "back": 2, "name": "orders-back2"})
    return {"batches": batches, "orders_base": base_path, "schedule": schedule,
            "min_chars": min_chars, "maint_every": maint_every}
