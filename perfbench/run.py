#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

Usage (from the root of the repository):
  python3 perfbench/run.py --workload {tpch,corpus_lake} --seed N \
      --seconds S --trace {0,1}

The first run in a checkout builds the program and the harness with
sbt (offline) and generates the base tables; both are kept under
perfbench/_work and reused while their sources are unchanged. Each run
then starts one JVM (perfbench.Harness) with a fixed heap, `local[N]`
(N = min(4, nproc)) and fixed shuffle partitions, in a run directory
of its own that also serves as its artifact roots. After the JVM has
exited, the outputs are checked against DuckDB and the last line of
stdout is one JSON object: correct, attempted, failed, metrics. An
operation that throws ends the JVM, and then the run exits with code 2
and prints no result, so a printed result always has failed = 0.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(and keeps the span file under perfbench/_work/traces).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(BENCH, "_work")
HARNESS = os.path.join(BENCH, "harness")
CPUS = max(1, min(4, os.cpu_count() or 1))
HEAP = "3g"
# The JVM gets --seconds plus this long: set-up (about 7 s), the pass
# that is still running when the budget ends (at most about 100 s at
# these input sizes) and the writing of the outputs.
JVM_SLACK_S = 155

# Input sizes, chosen so that both workloads' runs fit the time limit
# on a 4-core machine (see README.md).
TPCH_SF = 0.02
N_DOCS, N_VECS = 400, 256
LAKE = dict(n_batches=2, batch_rows=150, n_orders=3000, min_chars=40, maint_every=2)
THRESHOLD = 0.8

TPCH_TABLES = "region nation customer supplier part orders lineitem".split()
CORPUS_TABLES = ["documents", "embeddings"]
TPCH_KEYS = [
    "q1_pricing_summary", "q2_min_cost_supp", "q3_top_unshipped",
    "q4_order_priority", "q5_multiway_join", "q6_forecast_revenue",
    "q7_volume_shipping", "q8_market_share", "q9_product_profit",
    "q10_returned_revenue", "q11_important_stock", "q12_latency_priority",
    "q13_order_count_dist", "q14_promo_ratio", "q15_top_supplier",
    "q16_supplier_cnt", "q17_small_qty_revenue", "q18_large_orders",
    "q19_disjunctive_pred", "q20_excess_suppliers", "q21_last_shipper",
    "q22_idle_balance"]
# The corpus DAG. Every stage is stage-cached, so the rerun is the
# stage cache's hit path; this also keeps the engine's cross-run output
# caches (near-dup pairs, kNN top-5, IVF top-3) from serving the rerun.
# docs_quality_logreg stays uncached: "cache": true aborts the run on it.
CORPUS_STAGES = [
    {"name": "exact", "query": "docs_dedup_exact", "cache": True},
    {"name": "near", "query": "docs_dedup_near", "cache": True},
    {"name": "survivors", "query": "docs_dedup_resolve", "cache": True},
    {"name": "quality", "query": "docs_quality_logreg"},
    {"name": "rules", "query": "docs_gopher_rules", "cache": True},
    {"name": "knn", "query": "emb_knn_bruteforce", "cache": True},
    {"name": "ivf", "query": "emb_ann_ivf", "cache": True},
    {"name": "curated", "cache": True, "sql":
        "SELECT s.doc_id, s.lang, q.p_quality FROM survivors s "
        "JOIN quality q ON s.doc_id = q.doc_id "
        "JOIN rules r ON s.doc_id = r.doc_id AND r.keep = 1"},
]
# Engine artifacts (graft.engine.Artifacts) the cold DAG run computes:
# the near-dup pair list, the kNN top-5 and the IVF top-3 results.
ENGINE_ARTIFACTS = ["neardup_pairs", "knn_top5_v1", "ann_ivf_v1_k3_np4_c16i3"]
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def fingerprint(paths):
    """Content hash of the given files and directory trees."""
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


# -- build ----------------------------------------------------------------

def build():
    """Compiles the program and the harness; returns the classpath."""
    srcs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "src"),
            os.path.join(HARNESS, "project", "build.properties")]
    for p in srcs:
        if not os.path.exists(p):
            fail(f"missing {os.path.relpath(p, ROOT)}: run from the root of "
                 "a checkout that holds the program")
    stamp = fingerprint(srcs)
    out = os.path.join(WORK, "build")
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        with open(cp_file) as f:
            return f.read().strip()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building the program and the harness with sbt")
    t0 = time.time()
    with open(os.path.join(out, "sbt.log"), "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=lf,
            stdin=subprocess.DEVNULL, text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("sbt build failed (see perfbench/_work/build/sbt.log)")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build took {time.time() - t0:.1f} s")
    return lines[-1]


# -- inputs ---------------------------------------------------------------

def base_tables():
    """The generated base tables, made once per generator version."""
    key = hashlib.sha256(json.dumps(
        [TPCH_SF, N_DOCS, N_VECS, fingerprint([os.path.join(BENCH, "gen.py")])]
    ).encode()).hexdigest()[:16]
    d = os.path.join(WORK, "data", key)
    if not os.path.exists(os.path.join(d, "_DONE")):
        log("generating base tables")
        shutil.rmtree(os.path.dirname(d), ignore_errors=True)
        gen.gen_tables(d, TPCH_SF, N_DOCS, N_VECS)
        open(os.path.join(d, "_DONE"), "w").close()
    return d, key


# -- JVM ------------------------------------------------------------------

def run_jvm(classpath, cfg, run_dir, timeout_s):
    """Starts the harness; returns (result dict, launch wall time)."""
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", *opens,
           f"-Djava.io.tmpdir={tmp}",
           f"-Dgraft.cache.root={os.path.join(run_dir, 'engine')}",
           "-cp", classpath, "perfbench.Harness", cfg_path]
    env = dict(os.environ)
    env.pop("GRAFT_CACHE_ROOT", None)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    env["TMPDIR"] = tmp
    logf = open(os.path.join(run_dir, "jvm.log"), "w")
    t_launch = time.time()
    p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf, stderr=logf,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = p.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        code = "timeout"
    finally:
        logf.close()
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"harness JVM failed ({code})")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f), t_launch


def med(xs):
    return statistics.median(xs) if xs else 0.0


# -- workloads ------------------------------------------------------------

def prepare(workload, seed, seconds, trace, data, run_dir):
    cfg = {"workload": workload, "cpus": CPUS, "partitions": CPUS,
           "trace": bool(trace), "seconds": seconds,
           "data": data, "out": run_dir}
    if workload == "tpch":
        cfg["tpch"] = {"keys": TPCH_KEYS,
                       "orders": gen.tpch_orders(TPCH_KEYS, seed, 64)}
        return cfg
    stage_root = os.path.join(run_dir, "stage_cache")
    dag = gen.corpus_dag(CORPUS_STAGES, seed, stage_root)
    dag_path = os.path.join(run_dir, "dag.json")
    with open(dag_path, "w") as f:
        json.dump(dag, f, indent=1)
    cfg["corpus"] = {"dag": dag_path, "stage_root": stage_root,
                     "engine_root": os.path.join(run_dir, "engine"),
                     "query_keys": [s["query"] for s in CORPUS_STAGES if "query" in s]}
    cfg["lake"] = gen.lake_inputs(os.path.join(run_dir, "inputs"), seed,
                                  orders_path=os.path.join(data, "orders.parquet"), **LAKE)
    cfg["lake"]["threshold"] = THRESHOLD
    return cfg


def ops_per_pass(workload, cfg):
    if workload == "tpch":
        return len(TPCH_KEYS)
    return 2 * len(CORPUS_STAGES) + len(cfg["lake"]["schedule"])


def oracle_results(con, data_key, sqls):
    """DuckDB results per key, cached per (input tables, oracle text)."""
    import pickle
    d = os.path.join(WORK, "oracle")
    os.makedirs(d, exist_ok=True)
    out = {}
    for key, sql in sqls.items():
        h = hashlib.sha256(f"{data_key}\n{sql}".encode()).hexdigest()[:24]
        path = os.path.join(d, f"{h}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                out[key] = pickle.load(f)
            continue
        out[key] = check.duck(con, sql)
        with open(path + ".tmp", "wb") as f:
            pickle.dump(out[key], f)
        os.replace(path + ".tmp", path)
    return out


def check_tpch(run_dir, data, data_key):
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    con = check.connect(data, TPCH_TABLES, CPUS)
    want = oracle_results(con, data_key, sqls)
    problems = []
    for key in TPCH_KEYS:
        got = check.load_rows(os.path.join(run_dir, "outputs", f"{key}.json"))
        problems += check.compare(key, got, want[key])
    return problems


def check_corpus(run_dir, data, data_key, result):
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    con = check.connect(data, CORPUS_TABLES, CPUS)
    want = oracle_results(con, data_key, sqls)
    problems = []
    if not result["empty_before_cold"]:
        problems.append("a cache root was not empty before a cold run")
    # The engine's artifacts land under the per-run root given by
    # -Dgraft.cache.root; had the engine fallen back to its default root
    # (<java.io.tmpdir>/graft_artifact_cache, here inside the run
    # directory), they would be there instead.
    if os.path.exists(os.path.join(run_dir, "tmp", "graft_artifact_cache")):
        problems.append("the engine wrote to its default artifact root")
    n_cached = sum(1 for s in CORPUS_STAGES if s.get("cache"))
    for run in result["runs"]:
        missing = sorted(set(ENGINE_ARTIFACTS) - set(run["engine_artifacts"]))
        if missing:
            problems.append(f"cold run left no {', '.join(missing)} under the "
                            "per-run engine root")
        if run["stage_entries"] < n_cached:
            problems.append(f"cold run left {run['stage_entries']} entries in the stage "
                            f"cache root for {n_cached} cached stages")
    for s in CORPUS_STAGES:
        if "sql" in s:
            # the SQL stage over the oracle results of the stages it reads
            import pyarrow as pa
            for q in CORPUS_STAGES:
                if "query" in q and q["name"] in s["sql"]:
                    cols, rows = want[q["query"]]
                    con.register(q["name"], pa.table(
                        {c: [r[i] for r in rows] for i, c in enumerate(cols)}))
            want[s["name"]] = check.duck(con, s["sql"])
    for s in CORPUS_STAGES:
        name = s["name"]
        cold = check.parquet_rows(con, os.path.join(run_dir, "cold", name))
        rerun = check.parquet_rows(con, os.path.join(run_dir, "rerun", name))
        if cold is None or rerun is None:
            problems.append(f"{name}: stage output missing")
            continue
        expected = want[s.get("query", name)]
        problems += check.compare(f"{name} (cold)", cold, expected)
        problems += check.compare(f"{name} (rerun vs cold)", rerun, cold)
    for run in result["runs"]:
        for phase, hit in (("cold", False), ("rerun", True)):
            for st in run[phase]:
                if st["cache"] and st.get("cache_hit") is not hit:
                    problems.append(f"{st['name']}: cache_hit is {st.get('cache_hit')} "
                                    f"on the {phase} run")
    return problems


def check_lake(run_dir, cfg):
    import duckdb
    lake = cfg["lake"]
    out = os.path.join(run_dir, "outputs")
    problems = []
    con = duckdb.connect()
    con.execute(f"SET threads={CPUS}")
    texts, batch_of, batch_ids = {}, {}, []
    for b, path in enumerate(lake["batches"]):
        ids = []
        for doc_id, text in con.execute(
                f"SELECT doc_id, text FROM read_parquet('{path}')").fetchall():
            texts[doc_id] = text
            batch_of[doc_id] = b
            ids.append(doc_id)
        batch_ids.append(ids)
    docs_cols, docs_rows = check.load_rows(os.path.join(out, "docs.json"))
    accepted = {r[docs_cols.index("doc_id")] for r in docs_rows}
    rj_cols, rj_rows = check.load_rows(os.path.join(out, "rejects.json"))
    rejected = {}
    for r in rj_rows:
        rec = dict(zip(rj_cols, r))
        rejected.setdefault(rec["doc_id"], []).append(rec["match_id"])
    fl_cols, fl_rows = check.load_rows(os.path.join(out, "filtered.json"))
    filtered = {r[fl_cols.index("doc_id")] for r in fl_rows}
    for b, ids in enumerate(batch_ids):
        s = set(ids)
        a, r, f = len(accepted & s), len(set(rejected) & s), len(filtered & s)
        if a + r + f != len(ids) or (accepted & set(rejected)) or (accepted & filtered):
            problems.append(f"batch {b}: accepted {a} + rejected {r} + filtered {f} "
                            f"!= {len(ids)} rows")
    for doc_id, matches in rejected.items():
        for m in matches:
            j = check.jaccard(texts[doc_id], texts[m])
            if j < lake["threshold"]:
                problems.append(f"reject {doc_id} ~ {m}: shingle Jaccard {j:.3f} "
                                f"< {lake['threshold']}")
    for r in docs_rows:
        rec = dict(zip(docs_cols, r))
        if texts.get(rec["doc_id"]) != rec["text"]:
            problems.append(f"accepted doc {rec['doc_id']}: text differs from its batch")
            break
    # the DML sequence replayed by DuckDB on the same starting rows
    con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{lake['orders_base']}')")
    cols = [d[0] for d in con.execute("SELECT * FROM t LIMIT 0").description]
    states = [check.duck(con, "SELECT * FROM t")]
    for op in lake["schedule"]:
        kind = op["op"]
        if kind == "merge":
            u = f"read_parquet('{op['updates']}')"
            con.execute(f"DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM {u})")
            con.execute(f"INSERT INTO t SELECT {', '.join(cols)} FROM {u}")
        elif kind == "update":
            con.execute(f"UPDATE t SET o_totalprice = o_totalprice + {op['delta']!r} "
                        f"WHERE o_orderkey BETWEEN {op['lo']} AND {op['hi']} "
                        f"AND o_orderstatus = '{op['status']}'")
        elif kind == "delete":
            con.execute(f"DELETE FROM t WHERE o_orderkey BETWEEN {op['lo']} AND {op['hi']} "
                        f"AND o_orderpriority = '{op['priority']}'")
        elif kind == "read":
            got = check.load_rows(os.path.join(out, f"read-{op['name']}.json"))
            if op["table"] == "orders":
                want = states[len(states) - 1 - op["back"]]
                problems += check.compare(f"read {op['name']}", got, want)
            else:
                ids = sorted(i for i in accepted if batch_of[i] <= op["batch"])
                gid = sorted(r[got[0].index("doc_id")] for r in got[1])
                if gid != ids:
                    problems.append(f"read {op['name']}: {len(gid)} documents, "
                                    f"expected the {len(ids)} accepted up to batch {op['batch']}")
            continue
        else:
            continue
        states.append(check.duck(con, "SELECT * FROM t"))
    problems += check.compare("orders after DML",
                              check.load_rows(os.path.join(out, "orders.json")), states[-1])
    return problems


# -- metrics --------------------------------------------------------------

def end_to_end(result, t_launch):
    return {
        "setup_s": (result["ready_ms"] / 1000.0 - t_launch, "s"),
        "pass_s": (med(result["pass_s"]), "s"),
        "peak_rss_mb": (result["peak_rss_kb"] / 1024.0, "MB"),
    }


def per_layer(workload, result, cfg):
    m = {name: 0.0 for name in PER_LAYER}
    m.update(result.get("counters", {}))
    m["jvm.cpu_s"] = med(result["cpu_s"])
    m["jvm.jit_s"] = result["jvm_jit_s"]
    m["jvm.gc_s"] = result["jvm_gc_s"]
    if workload == "tpch":
        m["queries.construct_s"] = med(result["construct_s"])
        m["plan.plan_s"] = med(result["plan_s"])
        m["exec.exec_s"] = med(result["exec_s"])
        for k, v in result["key_s"].items():
            m[f"tpch.{k}_s"] = med(v)
    else:
        m["pipeline.cold_s"] = med(result["cold_s"])
        m["pipeline.rerun_s"] = med(result["rerun_s"])
        m["cache.written_mb"] = med(result["cache_written_mb"])
        hits = misses = 0
        stage_s = {}
        for run in result["runs"]:
            for phase in ("cold", "rerun"):
                for st in run[phase]:
                    stage_s.setdefault((st["name"], phase), []).append(st["ms"] / 1000.0)
                    if st["cache"]:
                        hits += st["cache_hit"] is True
                        misses += st["cache_hit"] is False
        n = max(1, len(result["runs"]))
        m["cache.hits"], m["cache.misses"] = hits / n, misses / n
        for (name, phase), v in stage_s.items():
            m[f"pipeline.{name}.{phase}_s"] = med(v)
        m["ingest.batch_s"] = med(result["ingest_s"])
        m["ingest.maint_batch_s"] = med(result["maint_s"])
        m["lakedml.merge_s"] = med(result["merge_s"])
        m["lakedml.update_s"] = med(result["update_s"])
        m["lakedml.delete_s"] = med(result["delete_s"])
        m["lakedml.dml_s"] = med(result["merge_s"] + result["update_s"] + result["delete_s"])
        m["lakedml.rewrite_mb"] = med(result["rewrite_mb"])
        m["laketable.read_s"] = med(result["read_s"])
        m["laketable.write_mb"] = med(result["write_mb"])
        m["laketable.commits"] = med(result["commits"])
        m["laketable.log_files"] = med(result["log_files"])
        m["laketable.data_files"] = med(result["data_files"])
        m.update(ingest_counts(cfg))
    return {k: (v, PER_LAYER[k]) for k, v in m.items() if k in PER_LAYER}


def ingest_counts(cfg):
    out = os.path.join(cfg["out"], "outputs")
    n = {}
    for name in ("docs", "rejects", "filtered"):
        cols, rows = check.load_rows(os.path.join(out, f"{name}.json"))
        n[name] = len({r[cols.index("doc_id")] for r in rows}) if rows else 0
    return {"ingest.accepted": n["docs"], "ingest.rejected": n["rejects"],
            "ingest.filtered": n["filtered"]}


def load_per_layer():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


PER_LAYER = {}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["tpch", "corpus_lake"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found: run from the root of the repository")
    PER_LAYER.update(load_per_layer())
    classpath = build()
    data, data_key = base_tables()
    runs = os.path.join(WORK, "runs")
    for old in os.listdir(runs) if os.path.isdir(runs) else []:
        pid = int(old.rsplit("-", 1)[-1])
        if not os.path.exists(f"/proc/{pid}"):  # left by a killed run
            shutil.rmtree(os.path.join(runs, old), ignore_errors=True)
    run_dir = os.path.join(runs, f"{a.workload}-s{a.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    cfg = prepare(a.workload, a.seed, a.seconds, a.trace, data, run_dir)
    t0 = time.time()
    result, t_launch = run_jvm(classpath, cfg, run_dir, a.seconds + JVM_SLACK_S)
    log(f"jvm {time.time() - t0:.1f} s")
    t0 = time.time()
    if a.workload == "tpch":
        problems = check_tpch(run_dir, data, data_key)
    else:
        problems = check_corpus(run_dir, data, data_key, result) + check_lake(run_dir, cfg)
    log(f"checks {time.time() - t0:.1f} s")
    for p in problems:
        log(f"CHECK FAILED: {p}")
    metrics = per_layer(a.workload, result, cfg) if a.trace else end_to_end(result, t_launch)
    if a.trace:
        traces = os.path.join(WORK, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(run_dir, "trace.jsonl"),
                    os.path.join(traces, f"{a.workload}-s{a.seed}.jsonl"))
    log("pass wall times: " + ", ".join(f"{x:.2f}" for x in result["wall_s"])
        + f"; jvm gc {result['jvm_gc_s']:.2f} s, jit {result['jvm_jit_s']:.2f} s")
    for run in result.get("runs", []):
        for phase in ("cold", "rerun"):
            log(phase + ": " + " ".join(f"{st['name']}={st['ms']}" for st in run[phase]))
    log(f"{result['timed_passes']} timed passes: "
        + ", ".join(f"{x:.3f}" for x in result["pass_s"]))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": not problems,
        "attempted": result["timed_passes"] * ops_per_pass(a.workload, cfg),
        "failed": 0,  # a failed operation ends the run without a result
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
