#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the query surface and the ingest path.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py oracle --seed <n>      # keep DuckDB answers for every drawn query
    python3 perfbench/run.py selftest               # each checker must catch a perturbed output
    python3 perfbench/run.py select [query ...]     # apply the sf0.1 data-sensitivity rule

A run builds the program from `src/main/scala` (once per source state),
generates its inputs from the seed, starts one JVM with the program's
defaults, checks the outputs and prints one JSON line last.  See README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen_chain  # noqa: E402
import gen_tables  # noqa: E402
import selftest  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
# Two Spark cores leave the other vCPUs of the 4-vCPU reference machine to
# the driver's own threads (JIT compilers, GC, the listener bus, the
# stream's micro-batch thread): with local[4] an ingest pass was about 15 %
# slower than with local[2], and query passes no faster.
CORES = min(2, os.cpu_count() or 1)
HEAP = "4g"
JVM_TIMEOUT_S = 150

# The query lists are what `run.py select` prints for seed 1; the rule and
# its limits are in README.md.
SMALL_PASS_S, SMALL_COUNT = 6.0, 6
LARGE_PASS_S, LARGE_COUNT = 6.0, 8
QUERIES_SMALL = [
    "q_funnel", "q_tpch_q19", "q_sort_multi", "q_drift_psi", "q_win_cume_dist",
    "q_filter_null_semantics",
]
QUERIES_LARGE = ["q_sort_multi", "q_win_cume_dist", "q_dedup_exact", "q_reshape_unpivot"]

# A run times a fixed number of passes, one per `pass_s` of --seconds (about
# one pass at the seed commit) and at least one, not as many as fit: passes
# keep getting faster as the JIT warms up, so a count that grew with speed
# would move pass_s by itself, and the known-fault files of `ingest` fail
# in every pass, so a faster program must not attempt (and fail) more ops.
WORKLOADS = {
    "queries_sf0.001": {"kind": "queries", "sf": 0.001, "warm": 5, "pass_s": 2.5,
                        "queries": QUERIES_SMALL},
    "queries_sf0.1": {"kind": "queries", "sf": 0.1, "warm": 2, "pass_s": LARGE_PASS_S,
                      "queries": QUERIES_LARGE},
    "ingest": {"kind": "ingest", "warm": 1, "pass_s": 20.0, "batches": 2, "blocks": 45,
               "stream_blocks": 3},
}

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s"}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -------------------------------------------------------------------- build


def _sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compiles the program and the harness with scalac from the Spark
    distribution; the classes are kept per source hash."""
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        sys.exit(f"perfbench: no program sources at {main}; run from the repository root")
    if not os.path.isdir(SPARK_JARS):
        sys.exit("perfbench: SPARK_HOME must name a Spark 4 distribution (with jars/)")
    srcs = _sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    cls = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(cls, "oracle_sql.json")):
        return cls
    log(f"compiling {len(srcs)} sources")
    tmp = cls + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = f"{SPARK_JARS}/*"
    r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.exit("perfbench: build failed\n" + r.stdout[-4000:])
    scratch = tmp + ".run"
    os.makedirs(scratch, exist_ok=True)
    jvm(tmp, ["oracle-sql", f"out={tmp}/oracle_sql.json"], scratch, timeout=120)
    shutil.rmtree(scratch, ignore_errors=True)
    shutil.rmtree(cls, ignore_errors=True)
    os.replace(tmp, cls)
    return cls


def jvm(cls, args, run_dir, timeout=JVM_TIMEOUT_S):
    tmpdir = os.path.join(run_dir, "tmp")
    os.makedirs(tmpdir, exist_ok=True)
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmpdir}", "-Dspark.sql.session.timeZone=UTC",
            f"-Dderby.stream.error.file={tmpdir}/derby.log",
            "-cp", f"{cls}:{SPARK_JARS}/*", "perfbench.Harness"] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"perfbench: harness exited with {rc}")


# ------------------------------------------------------------------- inputs


def query_inputs(w, seed, run_dir, in_dir):
    data = os.path.join(run_dir, "data")
    gen_tables.generate(data, w["sf"], seed)
    names = list(w["queries"])
    random.Random(seed).shuffle(names)
    with open(os.path.join(in_dir, "queries.txt"), "w") as f:
        f.write("\n".join(names) + "\n")
    return {"data": data, "names": names}


def answers(cls, data, sf, seed, names):
    """DuckDB answers for `names`, kept under .bench_build keyed by the
    oracle SQL text and the generator source, (re)made when absent."""
    sqls = json.load(open(os.path.join(cls, "oracle_sql.json")))
    gen = open(os.path.join(HERE, "gen_tables.py"), "rb").read()
    adir = os.path.join(BUILD, "answers")
    os.makedirs(adir, exist_ok=True)
    out, con = {}, None
    for n in names:
        if n not in sqls:
            out[n] = None
            continue
        key = hashlib.sha256(sqls[n].encode() + gen + f"|{sf}|{seed}".encode()).hexdigest()[:20]
        path = os.path.join(adir, f"{n}-{key}.parquet")
        if not os.path.exists(path):
            con = con or duckdb.connect()
            check.make_answer(con, data, sqls[n], path)
        out[n] = path
    return out


# ------------------------------------------------------------------ metrics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(kind, result, truth_counts):
    """Per-layer metrics from the traced run's per-op records: means per op
    over the timed ops that ran the layer, ratios over totals."""
    timed = [o for o in result["ops"] if o["timed"]]
    m = {}

    def phase(o, p, k):
        return o.get("phase", {}).get(p, {}).get(k, 0)

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    wall = sum(o["wall_s"] for o in timed)
    run_all = sum(sum(v["run_s"] for v in o.get("phase", {}).values()) for o in timed)
    m["exec.idle_s"] = mean([o["wall_s"] - o["busy_s"] for o in timed])
    m["exec.slot_busy_share"] = run_all / (wall * result["cores"]) if wall else 0.0
    m["exec.gc_s"] = mean([o["gc_s"] for o in timed])
    m["catalog.held_mb"] = mean([o["held_mb"] for o in timed])
    m["catalog.scan_mb"] = mean([sum(v["scan_mb"] for v in o["phase"].values()) for o in timed])
    m["plans.codegen_compiles"] = mean([o["codegen_compiles"] for o in timed])
    m["plans.catalyst_s"] = mean([o["catalyst_s"] for o in timed])
    q = [o for o in timed if "exec.run" in o["layers"]]
    m["queries.build_s"] = mean([o["layers"]["queries.build"] for o in q])
    m["queries.build_jobs"] = mean([phase(o, "queries.build", "jobs") for o in q])
    m["plans.plan_s"] = mean([o["layers"]["plans.plan"] for o in q])
    m["exec.run_s"] = mean([o["layers"]["exec.run"] for o in q])
    for k, src in (("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks"),
                   ("task_run_s", "run_s"), ("task_cpu_s", "cpu_s"),
                   ("shuffle_write_mb", "shuffle_write_mb"),
                   ("shuffle_read_mb", "shuffle_read_mb"), ("spill_mb", "spill_mb")):
        m[f"exec.{k}"] = mean([phase(o, "exec.run", src) for o in q])
    ing = [o for o in timed if "msgs" in o]
    for k in ("append", "write_bronze", "write_logs", "compact"):
        xs = [o["layers"][f"ingest.{k}"] for o in timed if f"ingest.{k}" in o["layers"]]
        m[f"ingest.{k}_s"] = mean(xs)
    m["ingest.shuffle_mb"] = mean([sum(v["shuffle_write_mb"] for v in o["phase"].values())
                                   for o in timed if kind == "ingest"])
    msgs = sum(o["msgs"] for o in ing)
    # block-queue records the block write reads, per block message
    reads = sum(phase(o, "ingest.write_bronze", "scan_records") +
                phase(o, "ingest.stream", "scan_records") for o in ing)
    m["ingest.reads_per_msg"] = reads / msgs if msgs else 0.0
    ing_s = sum(o["wall_s"] for o in timed) if kind == "ingest" else 0.0
    m["ingest.msgs_per_s"] = msgs / ing_s if ing_s else 0.0
    npass = len({o["pass"] for o in timed}) or 1
    m["ingest.files_out"] = sum(o.get("files_out", 0) for o in timed) / npass
    st = [o for o in timed if "ingest.stream" in o["layers"]]
    batches = sum(o["stream"]["batches"] for o in st)

    def per_file(k):
        return mean([o["stream"][k] for o in st])
    m["ingest.jobs_per_batch"] = (sum(phase(o, "ingest.stream", "jobs") for o in st) / batches
                                  if batches else 0.0)
    m["ingest.stream_trigger_s"] = per_file("trigger_s")
    m["ingest.stream_add_batch_s"] = per_file("add_batch_s")
    m["ingest.stream_plan_s"] = per_file("plan_s")
    m["ingest.stream_log_s"] = per_file("log_s")
    m["ingest.stream_wait_s"] = mean([o["wall_s"] - o["stream"]["trigger_s"] for o in st])
    m["ingest.skipped_msgs"] = sum(o.get("skipped_msgs", 0) for o in timed
                                   if "ingest.write_bronze" in o["layers"]) / npass
    m["ingest.rows_out"] = truth_counts.get("rows_out", 0)
    m["ingest.quarantined_logs"] = truth_counts.get("logs_quarantine", 0)
    m["process.peak_rss_mb"] = result["peak_rss_mb"]
    return m


PER_LAYER = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "plans.plan_s": "s", "plans.codegen_compiles": "count", "plans.catalyst_s": "s",
    "exec.run_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.idle_s": "s", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.slot_busy_share": "ratio", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB", "exec.gc_s": "s",
    "catalog.scan_mb": "MB", "catalog.held_mb": "MB",
    "ingest.append_s": "s", "ingest.write_bronze_s": "s", "ingest.write_logs_s": "s",
    "ingest.compact_s": "s", "ingest.shuffle_mb": "MB", "ingest.reads_per_msg": "ratio",
    "ingest.files_out": "count", "ingest.msgs_per_s": "msg/s",
    "ingest.jobs_per_batch": "count", "ingest.stream_trigger_s": "s",
    "ingest.stream_add_batch_s": "s", "ingest.stream_plan_s": "s",
    "ingest.stream_log_s": "s", "ingest.stream_wait_s": "s",
    "ingest.rows_out": "count", "ingest.skipped_msgs": "count",
    "ingest.quarantined_logs": "count", "process.peak_rss_mb": "MB", "trace.pass_s": "s",
}


def self_times(spans):
    """Self time per span name: duration minus the part its children cover."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    out = {}
    for ss in by_op.values():
        for s in ss:
            kids = sorted((c["start"], c["end"]) for c in ss if c["parent"] == s["name"])
            covered, cur = 0.0, s["start"]
            for a, b in kids:
                a, b = max(a, cur), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


# -------------------------------------------------------------------- runs


def check_ingest(run_dir, seed, w, result, batch_truth):
    """Checks both ingest paths of a run against the generator's truth.
    Returns the ids of timed ops that failed, the names of the stream files
    that carry the known fault, and the batch path's counts."""
    timed = [o for o in result["ops"] if o["timed"]]
    bad = set()

    def attribute(ops, violations, truth):
        failed = check.failed_units(violations, truth)
        if violations:
            log(f"{len(violations)} bronze violations, e.g. {sorted(violations.items(), key=str)[:3]}")
        for o in ops:
            if o["name"] in failed or (o["name"] == "compact" and "compacted" in violations):
                bad.add(o["id"])

    # batch path: each pass has its own bronze root
    batch_ops = set(batch_truth["units"]) | {"compact"}
    counts = {}
    for p in sorted({o["pass"] for o in timed}):
        violations, c = check.check_bronze(os.path.join(run_dir, "passes", f"p{p}"),
                                           batch_truth, with_logs=True)
        attribute([o for o in timed if o["pass"] == p and o["name"] in batch_ops],
                  violations, batch_truth)
        counts = {"rows_out": c["blocks"] + c["txs"] + c["logs"],
                  "logs_quarantine": c["logs_quarantine"],
                  "expected": {"rows_out": sum(len(batch_truth[t]) for t in ("blocks", "txs", "logs")),
                               "logs_quarantine": len(batch_truth["logs_quarantine"]),
                               "skipped_msgs": batch_truth["skipped_msgs"]}}
    # stream path: one bronze tree for the whole tail, checked against the
    # truth of the files the run consumed
    consumed = [o for o in result["ops"] if "ingest.stream" in o["layers"]]
    truth = gen_chain.stream(None, seed, w["stream_blocks"], len(consumed))
    violations, _ = check.check_bronze(run_dir, truth, with_logs=False)
    attribute([o for o in timed if o["name"] in set(truth["units"])], violations, truth)
    return bad, set(truth["faulty"]), counts


def run(args):
    w = WORKLOADS.get(args.workload)
    if w is None:
        sys.exit(f"perfbench: unknown workload {args.workload}; one of {sorted(WORKLOADS)}")
    cls = build()
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir = os.path.join(run_dir, "in")
    os.makedirs(in_dir)
    try:
        return _run(args, w, cls, run_dir, in_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, w, cls, run_dir, in_dir):
    kind = w["kind"]
    npass = max(1, round(args.seconds / w["pass_s"]))
    hargs = [kind, f"in={in_dir}", f"run={run_dir}", f"warm={w['warm']}",
             f"timed_passes={npass}", f"trace={args.trace}", f"cores={CORES}"]
    if kind == "queries":
        qi = query_inputs(w, args.seed, run_dir, in_dir)
        hargs.append(f"data={qi['data']}")
        want = answers(cls, qi["data"], w["sf"], args.seed, qi["names"])
    else:
        hargs.append(f"pass_files={gen_chain.PASS_FILES}")
        batch_truth = gen_chain.backfill(in_dir, args.seed, w["batches"], w["blocks"])
        gen_chain.stream(in_dir, args.seed, w["stream_blocks"],
                         (w["warm"] + npass) * gen_chain.PASS_FILES)
    jvm(cls, hargs, run_dir)
    result = json.load(open(os.path.join(run_dir, "result.json")))
    timed = [o for o in result["ops"] if o["timed"]]
    bad_ops = {o["id"] for o in timed if o["error"]}
    counts, known_faults = {}, set()
    if kind == "queries":
        con = duckdb.connect()
        for o in result["ops"]:
            if o["pass"] != -1:
                continue
            n = o["name"]
            why = o["error"] or (check.compare_result(con, os.path.join(run_dir, "results", n), want[n])
                                 if want[n] else "no oracle SQL")
            if why:
                log(f"{n}: {why}")
                bad_ops |= {t["id"] for t in timed if t["name"] == n}
    else:
        bad, known_faults, counts = check_ingest(run_dir, args.seed, w, result, batch_truth)
        bad_ops |= bad
    # only the stream files that carry the known fault may fail; any other
    # failed op makes the run incorrect
    unexpected = sorted({o["name"] for o in timed if o["id"] in bad_ops} - known_faults)
    if unexpected:
        log(f"unexpected failures: {unexpected}")
    passes = [p for p in result["passes"] if p["timed"]]
    metrics = {}
    if args.trace:
        lm = layer_metrics(kind, result, counts)
        lm["trace.pass_s"] = median([p["op_s"] for p in passes])
        metrics = {k: {"value": lm.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
        spans = json.load(open(os.path.join(run_dir, "spans.json")))
        tdir = os.path.join(BUILD, "traces")
        os.makedirs(tdir, exist_ok=True)
        tpath = os.path.join(tdir, f"{args.workload}-seed{args.seed}.json")
        timed_ids = {o["id"] for o in timed}
        per_op = [dict(layer_metrics(kind, dict(result, ops=[o]), counts), op=o["id"], name=o["name"])
                  for o in timed]
        with open(tpath, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "self_s": self_times([s for s in spans if s["op"] in timed_ids]),
                       "per_layer": lm, "expected": counts.get("expected"), "per_op": per_op,
                       "passes": result["passes"],
                       "spans": spans, "ops": result["ops"]}, f)
        log(f"trace written to {os.path.relpath(tpath, ROOT)}")
    else:
        e2e = {"setup_s": result["setup_s"],
               "pass_s": median([p["op_s"] for p in passes]),
               "op_p50_s": median([o["wall_s"] for o in timed])}
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    log("timed ops: " + ", ".join(f"{o['name']}={o['wall_s']:.3f}" for o in timed))
    log(f"passes: " + ", ".join(f"{p['pass']}{'' if p['timed'] else 'w'}={p['op_s']:.3f}"
                                for p in result["passes"]))
    print(json.dumps({"correct": not unexpected, "attempted": len(timed), "failed": len(bad_ops),
                      "metrics": metrics}))


# ------------------------------------------------------------ subcommands


def oracle(args):
    """Makes and keeps the DuckDB answers of every query the query workloads
    can draw, for one seed, and reports how long DuckDB took."""
    cls = build()
    for name, w in WORKLOADS.items():
        if w["kind"] != "queries":
            continue
        run_dir = os.path.join(BUILD, "runs", f"oracle-{name}-{os.getpid()}")
        try:
            t0 = time.time()
            qi = query_inputs(w, args.seed, run_dir, run_dir)
            answers(cls, qi["data"], w["sf"], args.seed, qi["names"])
            log(f"{name}: {len(qi['names'])} answers in {time.time() - t0:.1f} s")
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


def select(args):
    """Times `args.queries` (default: every query with oracle SQL) for one
    warm pass at sf0.001 and at sf0.1 and prints the data-sensitive ones:
    warm time at sf0.1 at least twice the sf0.001 time and 0.5 s more."""
    cls = build()
    names = args.queries or sorted(json.load(open(os.path.join(cls, "oracle_sql.json"))))
    times, fails = {}, {}
    for sf in (0.001, 0.1):
        w = {"kind": "queries", "sf": sf, "queries": names}
        run_dir = os.path.join(BUILD, "runs", f"select-{sf}-{os.getpid()}")
        in_dir = os.path.join(run_dir, "in")
        os.makedirs(in_dir, exist_ok=True)
        try:
            qi = query_inputs(w, args.seed, run_dir, in_dir)
            jvm(cls, ["queries", f"in={in_dir}", f"run={run_dir}", "warm=0", "timed_passes=1",
                      "trace=0", f"cores={CORES}", f"data={qi['data']}"], run_dir, timeout=7200)
            want = answers(cls, qi["data"], sf, args.seed, names)
            con = duckdb.connect()
            for o in json.load(open(os.path.join(run_dir, "result.json")))["ops"]:
                n = o["name"]
                if o["pass"] == -1:
                    why = o["error"] or (check.compare_result(
                        con, os.path.join(run_dir, "results", n), want[n]) if want[n] else "no oracle")
                    if why:
                        fails.setdefault(n, []).append(f"sf{sf}: {why[:200]}")
                elif not o["error"]:
                    times.setdefault(n, {})[sf] = o["wall_s"]
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    picked = []
    for n in names:
        t = times.get(n, {})
        ok = n not in fails and len(t) == 2
        sens = ok and t[0.1] >= 2 * t[0.001] and t[0.1] - t[0.001] >= 0.5
        if sens:
            picked.append(n)
        print(json.dumps({"query": n, "sf0.001_s": t.get(0.001), "sf0.1_s": t.get(0.1),
                          "data_sensitive": sens, "fail": fails.get(n)}))
    print(json.dumps({"data_sensitive": picked}))

    def draw(pool, scale, cost_limit, count_limit):
        """Walks `pool` in sha256-of-name order, keeping one query per
        family while the kept warm times at `scale` stay within the limits."""
        kept, fams, cost = [], set(), 0.0
        for n in sorted(pool, key=lambda q: hashlib.sha256(q.encode()).hexdigest()):
            fam = n.split("_")[1]
            t = times[n][scale]
            if fam in fams or cost + t > cost_limit or len(kept) >= count_limit:
                continue
            kept.append(n)
            fams.add(fam)
            cost += t
        return kept
    ok = [n for n in names if n not in fails and len(times.get(n, {})) == 2]
    print(json.dumps({"queries_sf0.001": draw([n for n in ok if times[n][0.001] < 1.0], 0.001,
                                              SMALL_PASS_S, SMALL_COUNT),
                      "queries_sf0.1": draw(picked, 0.1, LARGE_PASS_S, LARGE_COUNT)}))


def _terminate(signum, frame):
    raise SystemExit(f"perfbench: stopped by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("command", nargs="?", default="run", choices=["run", "oracle", "selftest", "select"])
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.command == "run":
        if not args.workload:
            ap.error("--workload is required")
        run(args)
    elif args.command == "oracle":
        oracle(args)
    elif args.command == "selftest":
        sys.exit(0 if selftest.run(os.path.join(BUILD, "selftest")) else 1)
    elif args.command == "select":
        select(args)


if __name__ == "__main__":
    main()
