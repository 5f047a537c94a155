#!/usr/bin/env python3
"""The repository's benchmark: one workload in a fresh JVM, checked
outputs, one JSON result line.

    python3 perfbench/run.py --workload mr-apps --seed 1 --seconds 8 --trace 0

Run from the repository root. The program is compiled from source on the
first run (``perfbench/build.py``). The query-mix tables are the reference
tables under ``perfbench/data/sf0.01``; the MapReduce corpus and the lookup
battery are generated from ``--seed`` under ``.bench_build/``. The last
line of standard output is ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics of ``BENCHMARK.json`` with
``--trace 0``, its per-layer metrics with ``--trace 1``. Lines before it
count attempted and failed operations per kind and, with ``--trace 0``,
give each measured pass's figures.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

# The query-mix list: an iterative checkpoint chain, then single passes;
# a query-mix pass ends with one loop over the lookup battery.
QUERY_MIX = [
    ("chain", "q204_pca_power"),
    ("single", "q1_pricing_summary"), ("single", "q166_large_volume_orders"),
]
DATA = os.path.join(HERE, "data", "sf0.01")
CORPUS = dict(n_files=24, tokens_per_file=40000, vocab=20000)
LOOKUPS = 2                # lookups per query-mix pass
FULL_PROBE_EVERY = 2       # every 2nd lookup probes all IVF cells
CELLS = 64

# Per workload: warm-up passes, least measured passes, the within-run
# statistic of pass_s and cpu_s, and extra JVM flags (evidence in the
# README, "End-to-end metrics").
WORKLOADS = {
    "mr-apps": dict(warmup=2, min_passes=4, stat=statistics.median, jvm=[]),
    # the JIT compiler threads at the lowest priority, so that the
    # compilation each pass still queues runs on cycles the program
    # leaves idle instead of delaying its driver thread
    "query-mix": dict(warmup=2, min_passes=3, stat=min,
                      jvm=["-XX:ThreadPriorityPolicy=1", "-XX:CompilerThreadPriority=19"]),
}

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _bench = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _bench["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _bench["per_layer"]}

JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

DEADLINE_S = 170


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def cpus_spec():
    """The local master's slot spec: SPARK_GRAFT_CPUS when set (any form
    the program accepts), else the processors this process may use."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def dir_stats(path, suffix=""):
    files = n_bytes = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix) and not n.startswith("."):
                files += 1
                n_bytes += os.path.getsize(os.path.join(dirpath, n))
    return files, n_bytes


# -- inputs -------------------------------------------------------------------

def prepare_inputs(workload, seed, run):
    args, expect = [], {}
    if workload == "query-mix":
        import pyarrow.parquet as pq
        docs = pq.read_table(os.path.join(DATA, "documents.parquet")).to_pydict()
        emb = pq.read_table(os.path.join(DATA, "embeddings.parquet")).to_pydict()
        corpus = checks.Corpus(docs["doc_id"], docs["text"], emb["vec_id"], emb["embedding"])
        text = dict(zip(docs["doc_id"], docs["text"]))
        battery = []
        ids = set(text) & set(emb["vec_id"])
        for k, i in enumerate(gen.battery(seed, ids, LOOKUPS)):
            nprobe = CELLS if k % FULL_PROBE_EVERY == FULL_PROBE_EVERY - 1 else 4
            battery.append((i, nprobe, checks.query_terms(text[i])))
        path = os.path.join(run, "battery.tsv")
        with open(path, "w") as f:
            for i, nprobe, terms in battery:
                f.write(f"{i}\t{nprobe}\t{' '.join(terms)}\n")
        args += ["--queries", ",".join(f"{h}:{q}" for h, q in QUERY_MIX),
                 "--battery", path, "--cells", str(CELLS)]
        expect = dict(corpus=corpus, battery=battery)
    else:
        paths, counts, docs = gen.corpus(seed, os.path.join(run, "corpus"), **CORPUS)
        path = os.path.join(run, "inputs.txt")
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(paths) + "\n")
        args += ["--inputs", path]
        expect = dict(wc=checks.wc_expected(counts),
                      indexer=checks.indexer_expected(docs))
    return args, expect


# -- checks -------------------------------------------------------------------

def check_pass(workload, p, expect, run, oracle_cache):
    """Mark each operation of pass ``p`` with its check verdict."""
    ops = [o for o in p["ops"] if o["ok"]]
    if workload == "mr-apps":
        for o in ops:
            o["check"] = checks.check_mr_output(
                os.path.join(p["dir"], o["kind"]), expect[o["kind"]])
        return
    con = oracle_cache.setdefault("con", checks.oracle_connection(DATA))
    sql = oracle_cache.setdefault("sql", load_oracle_sql(run))
    rows = {}
    path = os.path.join(p["dir"], "lookups.jsonl")
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                r = json.loads(line)
                rows[r["id"]] = r
    for o in ops:
        if o["kind"] == "lookup":
            r = rows.get(int(o["name"]))
            o["check"] = "no rows recorded" if r is None else checks.check_lookup(
                expect["corpus"], r["id"], r["terms"], r["rows"], r["nprobe"] == CELLS)
        elif o["name"] not in sql:
            o["check"] = "no oracle SQL"
        else:
            if o["name"] not in oracle_cache:
                oracle_cache[o["name"]] = checks.canonical(con, sql[o["name"]])
            o["check"] = checks.check_query_output(
                con, os.path.join(p["dir"], o["name"]), oracle_cache[o["name"]])


def load_oracle_sql(run):
    """The oracle SQL of every query on the list, from the compiled
    program's ``SparkEntry.oracleSql`` (written by the JVM)."""
    with open(os.path.join(run, "out", "oracle_sql.json")) as f:
        return json.load(f)


# -- metrics ------------------------------------------------------------------

def med(values):
    return statistics.median(values) if values else 0.0


def op_seconds(p, kinds=None):
    return sum(o["s"] for o in p["ops"] if kinds is None or o["kind"] in kinds)


def end_to_end(workload, res, passes):
    stat = WORKLOADS[workload]["stat"]
    return {
        "setup_s": res["setup"]["setup_s"],
        "pass_s": stat([op_seconds(p) for p in passes]),
        "cpu_s": stat([p["process_cpu_s"] - p["jit_cpu_s"] for p in passes]),
        "heap_live_mb": med([p["heap_mb"] for p in passes]),
    }


def prelude_s(res, kinds):
    return sum(o["s"] for o in res["prelude"] if o["kind"] in kinds)


def workload_detail(workload, res, passes, run):
    if workload == "mr-apps":
        return {"mr.wc_s": med([op_seconds(p, {"wc"}) for p in passes]),
                "mr.indexer_s": med([op_seconds(p, {"indexer"}) for p in passes])}
    lat = [o["s"] for p in passes for o in p["ops"] if o["kind"] == "lookup"]
    return {
        "mix.chain_s": med([op_seconds(p, {"chain"}) for p in passes]),
        "mix.single_s": med([op_seconds(p, {"single"}) for p in passes]),
        "mix.lookups_s": med([op_seconds(p, {"lookup"}) for p in passes]),
        "serve.build_s": prelude_s(res, {"text_build", "vector_build"}),
        "serve.index_mb": dir_stats(os.path.join(run, "out", "index"))[1] / 1048576,
        "serve.lookup_p50_s": med(lat),
    }


def per_layer(workload, res, passes, run, battery):
    traced = [p for p in passes if p["traced"]]
    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = res["setup"]["start_s"]
    m["session.warmup_s"] = res["setup"]["warmup_s"]
    for k in ("gc_ms", "gc_count", "jit_ms", "jit_cpu_s"):
        m["jvm." + k] = med([p[k] for p in passes])
    layer = lambda k: med([p["layers"][k] for p in traced])  # noqa: E731
    for k in ("jobs", "stages", "tasks", "gap_ms"):
        m["scheduler." + k] = layer(k)
    for k in ("run_ms", "cpu_ms", "gc_ms", "deser_ms", "utilization",
              "task_p50_ms", "task_max_ms"):
        m["executor." + k] = layer(k)
    for k in ("write_bytes", "read_bytes", "write_records", "fetch_wait_ms", "spill_bytes"):
        m["shuffle." + k] = layer(k)
    m["input.bytes"], m["input.records"] = layer("input_bytes"), layer("input_records")
    m.update(workload_detail(workload, res, passes, run))
    # counts that must repeat exactly from one traced pass to the next
    exact = [(p["layers"]["jobs"], p["layers"]["stages"], p["layers"]["tasks"],
              p["layers"]["write_records"] if workload == "mr-apps" else None,
              tuple(o.get("construct_jobs") for o in p["ops"]),
              tuple(o.get("jobs") for o in p["ops"]))
             for p in traced]
    m["trace.counts_exact"] = 1.0 if len(set(exact)) == 1 else 0.0
    m["trace.pass_s"] = WORKLOADS[workload]["stat"]([op_seconds(p) for p in traced])
    if workload == "mr-apps":
        m["core.map_stage_s"] = layer("map_stage_s")
        m["core.reduce_stage_s"] = layer("reduce_stage_s")
        m["core.pairs"] = layer("write_records")
        for kind in ("wc", "indexer"):
            f, b = dir_stats(os.path.join(passes[-1]["dir"], kind))
            m["core.out_files"] += f
            m["core.out_bytes"] += b
        m["apps.map_s"] = res["apps"]["map_s"]
        m["apps.reduce_s"] = res["apps"]["reduce_s"]
        return m
    for half in ("chain", "single"):
        for ph in ("construct_s", "plan_s", "exec_s"):
            m[f"queries.{half}.{ph}"] = med([
                sum(o.get(ph, 0.0) for o in p["ops"] if o["kind"] == half) for p in passes])
    m["ckpt.jobs"] = med([sum(o.get("construct_jobs", 0) for o in p["ops"]) for p in traced])
    m["sinks.text_build_s"] = prelude_s(res, {"text_build"})
    m["sinks.vector_build_s"] = prelude_s(res, {"vector_build"})
    index = os.path.join(run, "out", "index")
    m["sinks.files"], m["sinks.bytes"] = dir_stats(index, ".parquet")
    m["retrieval.prepare_s"] = prelude_s(res, {"prepare"})
    looks = [o for p in passes for o in p["ops"] if o["kind"] == "lookup"]
    m["retrieval.construct_s"] = med([o.get("construct_s", 0.0) for o in looks])
    m["retrieval.exec_s"] = med([o.get("exec_s", 0.0) for o in looks])
    m["retrieval.jobs_per_lookup"] = med([o.get("jobs", 0) for o in looks])
    m["retrieval.tasks_per_lookup"] = med([o.get("tasks", 0) for o in looks])
    hit, total = rowgroups(os.path.join(index, "text", "postings"), battery)
    m["retrieval.rowgroups_hit"], m["retrieval.rowgroups_total"] = hit, total
    return m


def rowgroups(postings, battery):
    """Median over the battery of the postings row groups whose word
    range holds a query term, and the row-group total, from the parquet
    footers."""
    import pyarrow.parquet as pq
    ranges = []
    for dirpath, _, names in os.walk(postings):
        for n in sorted(names):
            if not n.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(dirpath, n)).metadata
            col = md.schema.names.index("word")
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(col).statistics
                ranges.append((st.min, st.max) if st is not None and st.has_min_max
                              else ("", "￿"))
    hits = [sum(1 for lo, hi in ranges if any(lo <= t <= hi for t in terms))
            for _, _, terms in battery]
    return med(hits), len(ranges)


# -- main ---------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_begin = time.monotonic()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail("the program's sources are not in this checkout")
    import build
    classpath = build.build()

    run = os.path.join(ROOT, ".bench_build", "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "out"))
    try:
        return measure(a, run, classpath, t_begin)
    finally:
        shutil.rmtree(run, ignore_errors=True)


def measure(a, run, classpath, t_begin):
    cfg = WORKLOADS[a.workload]
    extra, expect = prepare_inputs(a.workload, a.seed, run)
    t_inputs = time.monotonic()
    out = os.path.join(run, "out")
    tmp = os.path.join(run, "tmp")
    os.makedirs(tmp)
    # A fixed heap and a fixed set of four JIT compiler threads: in a
    # young JVM the compilers, not the program, decide how fast a pass
    # runs, and with fewer threads and a growing heap the passes of
    # repeated runs drifted apart (see README).
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss16m", "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-XX:CICompilerCount=4", "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + cfg["jvm"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in JVM_OPENS]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--data", DATA, "--out", out,
              "--cpus", cpus_spec(), "--trace", str(a.trace),
              "--seconds", str(a.seconds), "--warmup", str(cfg["warmup"]),
              "--min-passes", str(cfg["min_passes"])]
           + extra)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run, "spark-local"))
    log_path = os.path.join(run, "jvm.log")
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                               cwd=run, timeout=max(10, DEADLINE_S - (time.monotonic() - t_begin)))
        except subprocess.TimeoutExpired:
            fail("the JVM did not finish in time")
    result_path = os.path.join(out, "result.json")
    if r.returncode != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"the JVM exited with {r.returncode}")
    with open(result_path) as f:
        res = json.load(f)

    t_jvm = time.monotonic()
    passes = [p for p in res["passes"] if p["measured"]]
    oracle_cache = {}
    kinds = {}
    reasons = []
    for p in passes:
        check_pass(a.workload, p, expect, run, oracle_cache)
    for o in res["prelude"] + [o for p in passes for o in p["ops"]]:
        k = kinds.setdefault(o["kind"], {"attempted": 0, "failed": 0})
        k["attempted"] += 1
        if not o["ok"] or o.get("check") is not None:
            k["failed"] += 1
            if len(reasons) < 5:
                reasons.append(f"{o['name']}: {o['error'] or o['check']}")
    attempted = sum(k["attempted"] for k in kinds.values())
    failed = sum(k["failed"] for k in kinds.values())
    print(json.dumps({"workload": a.workload, "seed": a.seed, "cpus": res["cpus"],
                      "parallelism": res["parallelism"], "passes": len(passes),
                      "ops": kinds, "failures": reasons,
                      "phases_s": {"inputs": round(t_inputs - t_begin, 3),
                                   "jvm": round(t_jvm - t_inputs, 3),
                                   "checks": round(time.monotonic() - t_jvm, 3)}}))
    if a.trace:
        metrics = per_layer(a.workload, res, passes, run,
                            expect.get("battery", []))
        units = PER_LAYER
    else:
        metrics = end_to_end(a.workload, res, passes)
        units = END_TO_END
        print(json.dumps({"detail": workload_detail(a.workload, res, passes, run),
                          "pass_s_each": [op_seconds(p) for p in passes],
                          "cpu_s_each": [p["process_cpu_s"] - p["jit_cpu_s"] for p in passes],
                          "jit_cpu_s_each": [p["jit_cpu_s"] for p in passes]}))
    # A run with a failed or wrong operation is not correct, so a change
    # that breaks an operation can never read as a faster pass.
    print(json.dumps({"correct": failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
