#!/usr/bin/env python3
"""The repository benchmark: one seeded workload, measured for a fixed
time, outputs checked, one JSON result on the last line of stdout.

    python3 perfbench/run.py --workload mart_sql --seed 1 --seconds 5 --trace 0

Workloads (see perfbench/README.md for what each loads and why):
  mart_sql      two closed-loop SQL clients over the Engine facade
  cdc_ingest    Debezium batches -> streaming foreachBatch -> CoW + MoR tables
  corpus_clean  full LLM-corpus cleaning passes (pipeline Runner + dedup)

`--trace 0` reports the end-to-end metrics; `--trace 1` is a separate
run of the same workload that reports per-layer metrics. `--smoke`
shrinks every input to sf 0.001 for the benchmark's own tests.

The first run in a checkout builds the library and the harness with
sbt and caches the classpath under .bench_build/; later runs start the
JVM directly.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import sqls  # noqa: E402

WORKLOADS = ("mart_sql", "cdc_ingest", "corpus_clean")
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

# The ops every run measures (statements per client for mart_sql): two
# refreshes per client cover every template and program, ten rounds
# hold three maintenance rounds, one pass is one pass.
WINDOW = {"mart_sql": 8, "cdc_ingest": 10, "corpus_clean": 1}
REFRESH = 4  # mart_sql calls per dashboard refresh, as gen.mart_plan lays them out
# Input sizes and loop shapes. The smoke configuration keeps the same
# shapes at sf 0.001 so the benchmark's own tests run in seconds.
FULL = {"sf": 0.1, "heap": "3g", "young": "768m", "clients": 2,
        "batch_rows": 2000, "maint_every": 4, "keep": 4, "warm_rounds": 2,
        "corpus_docs": 3000, "warm_docs": 200}
SMOKE = {"sf": 0.001, "heap": "1g", "young": "256m", "clients": 2,
         "batch_rows": 50, "maint_every": 4, "keep": 4, "warm_rounds": 2,
         "corpus_docs": 600, "warm_docs": 300}
WARM_SEED = 0  # the untimed warm-up inputs are the same in every run
CORPUS_STAGES = ["p18_corpus_pipeline", "d02_ngram_jaccard", "d03_minhash_lsh",
                 "t04_fingerprint", "t02_quality_score"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def supervised(cmd, timeout, **kw):
    """Run `cmd` to completion; returns its exit code, or None when it
    outlived `timeout` seconds. The child is killed and reaped if this
    process is told to stop, so no JVM or build outlives the run."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stderr=subprocess.STDOUT, **kw)

    def stop(signum, _frame):
        p.kill()
        p.wait()
        sys.exit(128 + signum)

    sigs = (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)
    for sig in sigs:
        signal.signal(sig, stop)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        return None
    finally:
        for sig in sigs:
            signal.signal(sig, signal.SIG_DFL)


# ---------------------------------------------------------------- build

def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return sorted(files)


def classpath():
    """Build with sbt when the sources changed; return the runtime classpath."""
    h = hashlib.sha1()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cached = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cached):
        with open(cached) as f:
            c = json.load(f)
        if c["stamp"] == stamp and all(os.path.exists(p) for p in c["cp"].split(os.pathsep)):
            return c["cp"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log("building library and harness with sbt ...")
    t0 = time.time()
    os.makedirs(BUILD, exist_ok=True)
    log_path = os.path.join(BUILD, "sbt.log")
    with open(log_path, "w") as logf:
        rc = supervised(["sbt", "--batch", "-Dsbt.log.noformat=true",
                         "export perfbench/Runtime/fullClasspath"],
                        840, cwd=HERE, env=env, stdout=logf)
    with open(log_path) as f:
        output = f.read()
    lines = [l.strip() for l in output.splitlines()]
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write(output[-4000:])
        fail("sbt build failed", 3)
    with open(cached, "w") as f:
        json.dump({"stamp": stamp, "cp": cps[-1]}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return cps[-1]


# ---------------------------------------------------------------- inputs

def generate(workload, seed, cfg, work):
    """Write the workload's inputs under `work`; returns (conf, record)."""
    data = os.path.join(work, "data")
    # cdc_ingest changes `orders`; corpus_clean resamples `documents`
    only = {"cdc_ingest": ["orders"], "corpus_clean": ["documents"]}.get(workload)
    rows = gen.tables(data, cfg["sf"], seed, only)
    # warm-up inputs: the same shapes at sf 0.001, so JIT and code
    # generation warm up without paying for a full-size pass. They do
    # not follow the seed, so their reference answers stay cached.
    warm = os.path.join(work, "warm")
    if workload != "cdc_ingest":
        gen.tables(warm, 0.001, WARM_SEED, only)
    conf = {"data": data, "warm": warm, "oracles": ""}
    record = {"tables_rows": rows,
              "tables_bytes": sum(gen.sizes(os.path.join(data, f)) for f in os.listdir(data))}
    if workload == "mart_sql":
        plans = gen.mart_plan(cfg["clients"], 400)
        conf["plan"] = os.path.join(work, "plan.tsv")
        conf["oracles"] = ",".join(sqls.PROGRAMS)
        gen.write_plan(conf["plan"], plans)
        record.update(loop="closed", clients=cfg["clients"], program_share=0.25,
                      distinct_statements=len(sqls.statements()) + len(sqls.PROGRAMS))
    elif workload == "cdc_ingest":
        staging = os.path.join(work, "staging")
        # enough batches for rounds three times faster than today's
        n = int(cfg["seconds"] * 3) + cfg["warm_rounds"] + 8
        rec = gen.cdc(staging, os.path.join(data, "orders.parquet"), seed, n,
                      cfg["batch_rows"])
        conf.update(staging=staging, batches=n, maint_every=cfg["maint_every"],
                    keep=cfg["keep"], warm_rounds=cfg["warm_rounds"],
                    hot_keys=",".join(str(k) for k in rec["hot_keys"]))
        record.update(loop="closed", clients=1, **rec,
                      batch_bytes=gen.sizes(staging) // n,
                      maint_every=cfg["maint_every"], keep_snapshots=cfg["keep"])
    else:
        corpus = os.path.join(work, "corpus")
        rec = gen.corpus(corpus, os.path.join(data, "documents.parquet"), seed,
                         cfg["corpus_docs"])
        gen.corpus(os.path.join(warm, "corpus"), os.path.join(warm, "documents.parquet"),
                   WARM_SEED, cfg["warm_docs"])
        conf.update(corpus=corpus, oracles=",".join(CORPUS_STAGES))
        record.update(loop="closed", clients=1, **rec,
                      corpus_bytes=gen.sizes(os.path.join(corpus, "documents.parquet")))
    record["flush"] = "parquet writes go to the page cache, no fsync"
    return conf, record


# ---------------------------------------------------------------- run

def run_jvm(cp, conf, work, cfg, budget):
    conf_path = os.path.join(work, "run.conf")
    with open(conf_path, "w") as f:
        for k, v in conf.items():
            f.write(f"{k}={v}\n")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # a fixed young generation keeps the heap's footprint (and so the
    # peak RSS) from following the collector's adaptive sizing
    cmd = [java, f"-Xmx{cfg['heap']}", f"-Xmn{cfg['young']}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", conf_path]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        rc = supervised(cmd, budget, cwd=work, stdout=logf)
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"JVM {'timed out' if rc is None else f'exited with {rc}'}", 4)


def load(out):
    with open(os.path.join(out, "ops.jsonl")) as f:
        recs = [json.loads(l) for l in f if l.strip()]
    with open(os.path.join(out, "meta.json")) as f:
        meta = json.load(f)
    return recs, meta


def pct(xs, p):
    """Linear-interpolated percentile of `xs` (0 <= p <= 100)."""
    s = sorted(xs)
    if not s:
        return float("nan")
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs):
    """The highest whole percentile with at least ten samples beyond it."""
    n = len(xs)
    if n <= 10:
        return None
    p = int(100 * (n - 10) / n)
    return {"pct": p, "value": round(pct(xs, p), 6), "samples": n}


def by_client(recs):
    out = {}
    for r in recs:
        out.setdefault(r["client"], []).append(r)
    return out


def dur(r):
    return (r["t1"] - r["t0"]) / 1e9


# ---------------------------------------------------------------- checks

def check_outputs(workload, recs, meta, work, conf, record, seed, cfg):
    """Set r["correct"] on every op record; returns extra (name, ok) checks."""
    def cache(tag):
        s = WARM_SEED if tag == "warm" else seed
        return os.path.join(BUILD, "expected",
                            f"{workload}-{tag}-sf{cfg['sf']}-seed{s}.json")

    with open(os.path.join(work, "out", "oracles.json")) as f:
        oracles = json.load(f)
    if workload in ("mart_sql", "corpus_clean"):
        # warm-up ops ran on the small warm-up inputs
        for phase, tag in (("warm", "warm"), ("timed", "full")):
            rs = [r for r in recs if r["phase"] == phase]
            if workload == "mart_sql":
                catalog = sqls.statements()
                queries = {k: oracles.get(k) or catalog[k]["duck"] for k in {r["key"] for r in rs}}
                data, tables = conf["warm"] if phase == "warm" else conf["data"], check.TABLES
            else:
                queries = {k: oracles[k] for k in {r["key"] for r in rs}}
                data = os.path.join(conf["warm"], "corpus") if phase == "warm" else conf["corpus"]
                tables = ["documents"]
            exp = check.expected_sql(data, queries, cache(tag), tables)
            for r in rs:
                r["correct"] = r["ok"] and r["digest"] == exp[r["key"]]
        return []
    ops = [r for r in recs if r["kind"] in ("commit", "read")]
    capacity = record["initial_keys"] + conf["batches"] * cfg["batch_rows"] + 1
    extra, model = check.check_cdc(ops, meta, os.path.join(conf["data"], "orders.parquet"),
                                   os.path.join(work, "landing"), record["hot_keys"],
                                   capacity)
    meta["live_rows"] = int(model.live.sum())
    return extra


# ---------------------------------------------------------------- metrics

# the workload-named metrics behind op_p50_s, op_p90_s and throughput_per_s
GENERIC = {"mart_sql": ("refresh_p50_s", "refresh_p90_s", "stmts_per_s"),
           "cdc_ingest": ("commit_p50_s", "commit_p90_s", "changes_per_s"),
           "corpus_clean": ("pass_p50_s", "pass_p90_s", "docs_per_s")}


def end_to_end(workload, timed, meta, record, gen_s, window):
    """Returns ({metric: (value, unit)} under the workload's own names,
    {timing: tail percentile}, the unit-op latencies).

    Latency and throughput come from a fixed amount of work at the start
    of the timed loop, `window` unit ops (per client for mart_sql), so
    that every run measures the same mix of statements, maintenance
    rounds or passes; the loop still runs for the whole time, and every
    op counts for correctness."""
    start = meta["loop_start_ns"]
    setup = gen_s + meta["jvm_to_session_s"] + meta["setup_median_s"] + meta["warmup_s"]
    m = {"setup_s": (setup, "s"), "peak_rss_mb": (meta["peak_rss_mb"], "MB")}
    tails = {}
    if workload == "mart_sql":
        first = [sorted(rs, key=lambda r: r["t0"])[:window]
                 for rs in by_client(timed).values()]
        stmts = [dur(r) for rs in first for r in rs]
        # the unit op is one dashboard refresh: a client's four
        # back-to-back calls (three templates, one program), first
        # submit to last row
        lat = [(rs[i + REFRESH - 1]["t1"] - rs[i]["t0"]) / 1e9
               for rs in first for i in range(0, len(rs) - REFRESH + 1, REFRESH)]
        # each client's rate up to its last measured completion, summed
        m.update(stmts_per_s=(sum(len(rs) / ((rs[-1]["t1"] - start) / 1e9) for rs in first), "1/s"),
                 stmt_p50_s=(pct(stmts, 50), "s"), stmt_p90_s=(pct(stmts, 90), "s"))
        tails["stmt"] = tail(stmts)
    elif workload == "cdc_ingest":
        rounds = sorted({r["batch"] for r in timed})[:window]
        rs = [r for r in timed if r["batch"] in rounds]
        lat = [dur(r) for r in rs if r["kind"] == "commit"]
        reads = [dur(r) for r in rs if r["kind"] == "read"]
        end = max(r["t1"] for r in rs)
        m.update(changes_per_s=(len(lat) * record["batch_rows"] / ((end - start) / 1e9), "1/s"),
                 read_p50_s=(pct(reads, 50), "s"), read_p90_s=(pct(reads, 90), "s"),
                 disk_bytes_per_live_row=(meta["warehouse_bytes"] / meta["live_rows"], "B"))
        tails.update(commit=tail(lat), read=tail(reads))
    else:
        passes = {}
        for r in timed:
            passes.setdefault(r["pass"], []).append(dur(r))
        lat = [sum(v) for p, v in sorted(passes.items())
               if len(v) == len(CORPUS_STAGES)][:window]
        m["docs_per_s"] = (record["docs"] / pct(lat, 50), "1/s")
        tails["pass"] = tail(lat)
    p50, p90, _ = GENERIC[workload]
    m[p50] = (pct(lat, 50), "s")
    m[p90] = (pct(lat, 90), "s")
    return m, tails, lat


PER_LAYER_SPANS = {
    "Engine.plan_s": "Engine.plan", "Engine.exec_s": "Engine.exec",
    "Engine.open_s": "Engine.open", "queries.plan_s": "queries.plan",
    "queries.exec_s": "queries.exec", "operators.plan_s": "operators.plan",
    "operators.exec_s": "operators.exec", "pipeline.run_s": "pipeline.run",
    "sources.merge_s": "sources.merge", "sources.mor_upsert_s": "sources.mor_upsert",
    "sources.compact_s": "sources.compact", "sources.expire_s": "sources.expire",
    "streaming.drain_s": "streaming.drain", "streaming.batch_s": "streaming.batch"}
PER_OP_COUNTERS = {
    # metric: (counter, scale)
    "pipeline.models_built": ("models_built", 1), "streaming.batches": ("batches", 1),
    "streaming.input_rows": ("input_rows", 1),
    "streaming.wal_commit_s": ("wal_commit_ms", 1e-3),
    "streaming.query_planning_s": ("query_planning_ms", 1e-3),
    "streaming.latest_offset_s": ("latest_offset_ms", 1e-3),
    "spark.jobs": ("jobs", 1), "spark.stages": ("stages", 1), "spark.tasks": ("tasks", 1),
    "spark.sched_wait_s": ("sched_wait_ms", 1e-3), "spark.task_run_s": ("task_run_ms", 1e-3),
    "spark.task_cpu_s": ("task_cpu_ns", 1e-9), "spark.task_gc_s": ("task_gc_ms", 1e-3),
    "spark.shuffle_write_mb": ("shuffle_write_b", 1e-6),
    "spark.shuffle_read_mb": ("shuffle_read_b", 1e-6), "spark.spill_mb": ("spill_b", 1e-6),
    "spark.input_mb": ("input_b", 1e-6), "spark.output_mb": ("output_b", 1e-6),
    "spark.output_rows": ("output_rows", 1)}


UNITS = {"pipeline.models_built": "count", "streaming.batches": "count",
         "streaming.input_rows": "rows", "spark.jobs": "count", "spark.stages": "count",
         "spark.tasks": "count", "spark.output_rows": "rows",
         "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
         "spark.spill_mb": "MB", "spark.input_mb": "MB", "spark.output_mb": "MB",
         "jvm.heap_after_gc_peak_mb": "MB", "spark.cache_mb_peak": "MB",
         "sources.disk_mb": "MB", "sources.data_files": "count",
         "sources.versions": "count", "sources.mor_pending_delete_commits": "count",
         "operators.lsh_candidates_per_true_pair": "ratio",
         "spark.core_util": "ratio", "trace.unattributed_share": "ratio"}


def _union_ms(intervals, lo, hi):
    """Milliseconds of [lo, hi] covered by the union of `intervals`."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, end = 0.0, lo
    for a, b in iv:
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


def per_layer(workload, recs, timed, meta, record, lat, cores, trace):
    """Per-layer metrics from the trace, each divided by the number of
    unit ops (statements, rounds, passes) unless it is a peak, a ratio
    or an end-of-run state. Returns (metrics, per-op self-time report)."""
    if workload == "mart_sql":
        units = len(timed)
    elif workload == "cdc_ingest":
        units = sum(1 for r in timed if r["kind"] == "commit")
    else:
        units = len({r["pass"] for r in timed})
    units = max(units, 1)
    op_ids = {r["id"] for r in timed}
    names = trace["names"]
    spans = [s for s in trace["spans"] if s[2] in op_ids]
    by_name = {}
    for s in spans:
        by_name[names[s[3]]] = by_name.get(names[s[3]], 0) + (s[5] - s[4])
    m = {k: by_name.get(v, 0) / 1e9 / units for k, v in PER_LAYER_SPANS.items()}
    m["streaming.engine_s"] = m["streaming.drain_s"] - m["streaming.batch_s"]
    counters = {}
    for op, c in trace["ops"].items():
        if int(op) in op_ids:
            for k, v in c.items():
                counters[k] = counters.get(k, 0) + v
    for k, (c, scale) in PER_OP_COUNTERS.items():
        m[k] = counters.get(c, 0) * scale / units
    wall = meta["loop_wall_s"]
    m["spark.core_util"] = counters.get("task_run_ms", 0) / 1e3 / (wall * cores)
    offset = meta["epoch_offset_ns"]
    driver_ms = 0.0
    for r in timed:
        lo, hi = (r["t0"] + offset) / 1e6, (r["t1"] + offset) / 1e6
        jobs = trace["job_intervals_ms"].get(str(r["id"]), [])
        driver_ms += (hi - lo) - _union_ms(jobs, lo, hi)
    m["spark.driver_s"] = driver_ms / 1e3 / units
    m["jvm.gc_pause_s"] = trace["gc_pause_ms"] / 1e3 / units
    m["jvm.heap_after_gc_peak_mb"] = trace["heap_after_gc_peak_b"] / 1e6
    m["spark.cache_mb_peak"] = trace["cache_peak_b"] / 1e6
    lsh = [r for r in timed if r["key"] == "d03_minhash_lsh" and r.get("n_candidates")]
    m["operators.lsh_candidates_per_true_pair"] = (
        sum(r["n_candidates"] for r in lsh) / (2 * record["near_dup_pairs"] * len(lsh))
        if lsh and record.get("near_dup_pairs") else 0.0)
    probes = [r for r in recs if r.get("kind") == "pending" and r["id"] in op_ids]
    m["sources.mor_pending_delete_commits"] = (
        statistics.mean(r["pending_deletes"] for r in probes) if probes else 0.0)
    m["sources.data_files"] = meta.get("data_files", 0)
    m["sources.disk_mb"] = meta.get("warehouse_bytes", 0) / 1e6
    m["sources.versions"] = meta.get("cow_versions", 0) + meta.get("mor_commits", 0)
    # self time: a span's duration minus its children's; what no span
    # covers inside an op is reported as unattributed
    children = {}
    for s in spans:
        children[s[1]] = children.get(s[1], 0) + (s[5] - s[4])
    report, unattributed, total_wall = [], 0, 0
    for r in timed:
        own = [s for s in spans if s[2] == r["id"]]
        selfs = {}
        for s in own:
            n = names[s[3]]
            selfs[n] = selfs.get(n, 0) + (s[5] - s[4]) - children.get(s[0], 0)
        wall_ns = r["t1"] - r["t0"]
        top = sum(s[5] - s[4] for s in own if s[1] == 0)
        un = wall_ns - top
        unattributed += un
        total_wall += wall_ns
        report.append({"op": r["id"], "key": r["key"], "wall_s": wall_ns / 1e9,
                       "self_s": {k: v / 1e9 for k, v in sorted(selfs.items())},
                       "unattributed_s": un / 1e9,
                       "sum_self_plus_unattributed_s": (sum(selfs.values()) + un) / 1e9})
    m["trace.unattributed_share"] = unattributed / total_wall if total_wall else 0.0
    m["trace.op_p50_s"] = pct(lat, 50)
    m["trace.listener_s"] = trace["overhead_ns"] / 1e9 / units
    return m, report


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="sf 0.001 inputs")
    a = ap.parse_args()
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the library sources (build.sbt, src/main/scala/graft) are not "
             "next to perfbench/; run from a full checkout")
    cfg = dict(SMOKE if a.smoke else FULL, seconds=a.seconds, window=WINDOW[a.workload])
    cp = classpath()
    started = time.time()  # the build may take longer; the run itself may not
    work = os.path.join(BUILD, "run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    conf, record = generate(a.workload, a.seed, cfg, work)
    gen_s = time.time() - t0
    cores = os.cpu_count() or 1
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    conf.update(workload=a.workload, seconds=a.seconds, trace=a.trace, cores=cores,
                window=cfg["window"], work=work, out=os.path.join(work, "out"))
    t0 = time.time()
    run_jvm(cp, conf, work, cfg, budget=max(30.0, 170.0 - (time.time() - started)))
    jvm_s = time.time() - t0
    recs, meta = load(conf["out"])
    ops = [r for r in recs if r.get("kind") != "pending"]
    t0 = time.time()
    extra = check_outputs(a.workload, ops, meta, work, conf, record, a.seed, cfg)
    check_s = time.time() - t0
    wrong = [r for r in ops if not r["correct"]] + [x for x in extra if not x[1]]
    for r in wrong[:5]:
        log(f"wrong or failed output: {r}")
    attempted = len(ops) + len(extra)
    timed = [r for r in ops if r["phase"] == "timed"]
    named, tails, lat = end_to_end(a.workload, timed, meta, record, gen_s, cfg["window"])
    named["fail_ratio"] = (len(wrong) / attempted, "ratio")
    detail = {"metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
              "samples": len(lat), "tails": tails, "generate_s": gen_s, "jvm_s": jvm_s,
              "check_s": check_s, "cores": cores,
              "jvm_phases_s": {k: meta.get(k) for k in ("jvm_to_session_s", "setup_reps_s",
                                                        "warmup_s", "loop_wall_s")}}
    p50, p90, thr = GENERIC[a.workload]
    metrics = {"setup_s": named["setup_s"], "op_p50_s": named[p50], "op_p90_s": named[p90],
               "throughput_per_s": named[thr], "peak_rss_mb": named["peak_rss_mb"]}
    os.makedirs(os.path.join(BUILD, "reports"), exist_ok=True)
    report_base = os.path.join(BUILD, "reports", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    if a.trace:
        with open(os.path.join(conf["out"], "trace.json")) as f:
            trace = json.load(f)
        layer, report = per_layer(a.workload, recs, timed, meta, record, lat, cores, trace)
        with open(report_base + ".self_time.json", "w") as f:
            json.dump(report, f, indent=1)
        untraced = os.path.join(BUILD, "reports", f"{a.workload}-last-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["metrics"]["op_p50_s"]["value"]
            detail["tracing_overhead_op_p50"] = layer["trace.op_p50_s"] / base - 1
        out_metrics = {k: {"value": v, "unit": UNITS.get(k, "s")} for k, v in layer.items()}
        detail["self_time_report"] = os.path.relpath(report_base + ".self_time.json", ROOT)
    else:
        out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "record": record}))
    print(json.dumps({"workload": a.workload, "detail": detail}))
    result = {"correct": not wrong, "attempted": attempted, "failed": len(wrong),
              "metrics": out_metrics}
    with open(os.path.join(BUILD, "reports", f"{a.workload}-last-trace{a.trace}.json"), "w") as f:
        json.dump(result, f)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
