#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload corpus_discovery --seed 42 --seconds 4 --trace 0

Builds the engine and the benchmark driver from source on first use (sbt,
offline), then runs one workload in one JVM: set-up, a warm-up iteration and
one timed iteration (an iteration of either workload outlasts --seconds at
the benchmark's 10 s). It prints, as its last line,
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. A full record of the run,
host context included, is kept under perfbench/.work/records/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from benchlib import stats  # noqa: E402

WORKLOADS = ("corpus_discovery", "query_mix")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
# the repo's DuckDB parity checker, run on query_mix's results
ORACLE_CHECK = os.path.join(ROOT, "tools", "check_oracle.py")
# query_mix's tables: a copy of the repo's sf0.01 test tables
DATA = os.path.join(HERE, "data", "sf0.01")
WORK = os.path.join(HERE, ".work")
RUN_LIMIT_S = 170.0
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
XMX = "3g"
# a fixed-size parallel-GC heap with fixed generation sizes (no adaptive
# eden, survivor or tenuring sizing) keeps the peak RSS from following GC
# sizing decisions: without it the RSS quartile spread over ten seeds was 11 %
JVM_FLAGS = ["-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy"]
# the query_mix entries (QueryMix.Queries): their per-layer times are
# reported on every workload, as zero where no query runs
QUERIES = ("q03_lagged_projection", "q02_revenue_by_nation", "q189_bm25_topk",
           "q49_ivf_topk", "q209_stream_complete_topk")
LAYER_SPANS = ("generate.corpus", "generate.fanout", "generate.csv", "causal.moments",
               "causal.decision", "entries.exec")
COUNTERS = (("tasks", "count"), ("executor_cpu_s", "s"), ("gc_s", "s"),
            ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"))


def spark_home():
    """SPARK_HOME, else the install of the first `spark-submit` on PATH that
    has its jars; None when neither has them."""
    cands = [os.environ.get("SPARK_HOME")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            cands.append(os.path.dirname(os.path.dirname(os.path.realpath(exe))))
    for c in cands:
        if c and glob.glob(os.path.join(c, "jars", "spark-core_*.jar")):
            return c
    return None


SPARK_HOME = spark_home()
SPARK_JARS = os.path.join(SPARK_HOME or "", "jars")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    # the JVM flags shape the class-data-sharing archive built with the jar
    h.update(repr((XMX, JVM_FLAGS, JVM_OPENS)).encode())
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(stamp):
    """Compiles and packages once per source stamp, then records a
    class-data-sharing archive of the JVM's start-up classes. Returns
    (classpath, archive or None)."""
    out = os.path.join(WORK, "build")
    jar = os.path.join(out, f"{stamp}.jar")
    jsa = os.path.join(out, f"{stamp}.jsa")
    spark_jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    cp = ":".join([jar] + spark_jars)
    if os.path.exists(jar):
        return cp, (jsa if os.path.exists(jsa) else None)
    log("building engine + benchmark (sbt, offline)")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=SPARK_HOME)
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       f" -Dsbt.offline=true -Xmx2g -Djava.io.tmpdir={tmp}")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=800)
    built = glob.glob(os.path.join(HERE, "target", "scala-2.13", "perfbench_2.13-*.jar"))
    if p.returncode != 0 or len(built) != 1:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(3)
    shutil.rmtree(out, ignore_errors=True)  # artifacts of older sources
    os.makedirs(out)
    shutil.copyfile(built[0], jar + ".tmp")
    os.replace(jar + ".tmp", jar)
    train = os.path.join(WORK, "train")
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(train)
    try:
        rc = subprocess.run(jvm_cmd(cp, None, train) + [f"-XX:ArchiveClassesAtExit={jsa}",
                            "perfbench.Main", "--workload", "train", "--work", train,
                            "--out", os.path.join(train, "out")],
                            cwd=train, stdout=sys.stderr, stderr=sys.stderr,
                            timeout=300).returncode
    finally:
        shutil.rmtree(train, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not os.path.exists(jsa):
        log("no class-data-sharing archive; JVMs start without one")
        return cp, None
    return cp, jsa


def jvm_cmd(cp, jsa, work=None):
    cmd = ["java", f"-Xms{XMX}", f"-Xmx{XMX}"] + JVM_FLAGS
    cmd += [x for o in JVM_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
    if jsa:
        cmd.append(f"-XX:SharedArchiveFile={jsa}")
    if work:
        os.makedirs(f"{work}/tmp", exist_ok=True)
        cmd += [f"-Djava.io.tmpdir={work}/tmp", f"-Dgraft.gen.dir={work}/gen",
                f"-Dderby.system.home={work}/derby"]
    return cmd + ["-cp", cp]


def loadavg():
    with open("/proc/loadavg") as fh:
        return fh.read().split()[:3]


def host_context(stamp, work):
    git_sha = None
    try:
        git_sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                 capture_output=True, timeout=10).stdout.strip() or None
    except OSError:
        pass
    st = os.statvfs(work)
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg_before": loadavg(),
            "work_free_gb": round(st.f_bavail * st.f_frsize / 2**30, 2),
            "xmx": XMX, "git_sha": git_sha, "source_stamp": stamp}


def run_jvm(cp, jsa, args, work, out, data):
    cmd = jvm_cmd(cp, jsa, work) + [
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--trace", str(args.trace), "--work", work, "--out", out]
    if data:
        cmd += ["--data", data]
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log("JVM exceeded the run limit")
        return -1


def end_to_end(rec):
    its = [i for i in rec["iterations"] if not i["traced"]]
    walls = [i["wall_s"] for i in its]
    cpus = [i["cpu_s"] for i in its]
    setup = rec["boot_s"] + rec["build_s"] + rec["warmup_s"]
    ok = stats.ratio(rec["attempted"] - rec["failed"], rec["attempted"])
    # wall time is printed and recorded but not gated: on a shared host its
    # run-to-run spread (CPU steal) exceeds any usable bound
    return {
        "cpu_s": (stats.median(cpus), "s"),
        "peak_rss_mb": (rec["peak_rss_kb"] / 1024.0, "MB"),
        "ok_ratio": (ok["value"], "ratio"),
        "setup_s": (setup, "s"),
    }, {"samples": len(walls), "wall_s": stats.median(walls),
        "wall_quartiles": stats.quartiles(walls),
        "wall_tail": stats.tail_percentile(walls), "ok_ratio_base": ok}


def per_layer(rec, queries):
    """Per-layer metrics of a traced run (zero where the workload does not
    reach the layer), plus a list of check failures."""
    spans = rec["spans"]
    selfs = stats.self_times(spans)
    by_run = {}
    for s in spans:
        by_run.setdefault(s["run"], []).append(s)
    traced = {i["label"]: i for i in rec["iterations"] if i["traced"]}
    errs = []
    per_it = []  # per traced iteration (or the probe): {name: self seconds}
    for run, ss in by_run.items():
        if run in traced:
            total = sum(selfs[s["id"]] for s in ss)
            if total > traced[run]["wall_s"] + 1e-6:
                errs.append(f"{run}: span self times {total:.3f}s exceed wall "
                            f"{traced[run]['wall_s']:.3f}s")
        acc = {}
        for s in ss:
            acc[s["name"]] = acc.get(s["name"], 0.0) + selfs[s["id"]]
            if s["name"].startswith("query."):
                key = s["name"] + "#total"
                acc[key] = acc.get(key, 0.0) + (s["end_s"] - s["start_s"])
        per_it.append((run, acc))

    def med_self(name):
        xs = [acc[name] for _, acc in per_it if name in acc]
        return stats.median(xs) if xs else 0.0

    def med_counter(layer, key):
        xs = []
        for run, ss in by_run.items():
            ids = [str(s["id"]) for s in ss if s["name"] == layer]
            if ids:
                xs.append(sum(rec["counters"].get(i, {}).get(key, 0) for i in ids))
        return stats.median(xs) if xs else 0

    facts = rec["facts"]
    m = {}
    m["core.kernel_s"] = (med_self("core.kernel"), "s")
    m["core.kernel_rows"] = (facts.get("kernel_rows", 0), "rows")
    m["generate.corpus_s"] = (med_self("generate.corpus"), "s")
    m["generate.fanout_s"] = (med_self("generate.fanout"), "s")
    fan_tasks = [t for s in spans if s["name"] == "generate.fanout"
                 for t in rec["counters"].get(str(s["id"]), {}).get("task_ms", [])]
    skew = stats.ratio(max(fan_tasks), stats.median(fan_tasks)) if fan_tasks else None
    m["generate.fanout_task_skew"] = ((skew or {}).get("value") or 0.0, "ratio")
    m["generate.csv_s"] = (med_self("generate.csv"), "s")
    m["generate.csv_bytes"] = (facts.get("csv_bytes", 0), "bytes")
    m["generate.csv_files"] = (facts.get("csv_files", 0), "count")
    m["generate.truth_s"] = (med_self("generate.truth"), "s")
    # every corpus config has the same length, so configs fed to the kernel
    # per config equals rows generated per config row
    gen = stats.ratio(med_counter("generate.corpus", "kernel_configs"),
                      facts.get("configs", 0))
    m["generate.rows_generated_per_row_written"] = (gen["value"] or 0.0, "ratio")
    for name in ("causal.plan", "causal.rank", "causal.moments", "causal.decision",
                 "metrics.score", "entries.plan", "entries.exec"):
        m[f"{name}_s"] = (med_self(name), "s")
    for q in queries:
        m[f"query.{q}_s"] = (med_self(f"query.{q}#total"), "s")
    for layer in LAYER_SPANS:
        for key, unit in COUNTERS:
            m[f"{layer}.{key}"] = (med_counter(layer, key), unit)
    untraced = [i["wall_s"] for i in rec["iterations"] if not i["traced"]]
    tw = [i["wall_s"] for i in rec["iterations"] if i["traced"]]
    over = stats.ratio(stats.median(tw), stats.median(untraced))
    m["trace_overhead_ratio"] = (over["value"], "ratio")
    return m, errs, {"trace_overhead_base": over, "generated_rows_base": gen,
                     "fanout_skew_base": skew}


def oracle_failures(results, oracle_sql):
    """Runs the repo's DuckDB checker on the first pass's results; returns
    one line per query that is not reported as matching its oracle SQL."""
    with open(os.path.join(results, "oracle_sql.json"), "w") as fh:
        json.dump(oracle_sql, fh)
    p = subprocess.run([sys.executable, ORACLE_CHECK, DATA, results], text=True,
                       capture_output=True, timeout=120)
    lines = p.stdout.splitlines()
    ok = {ln.split(":")[0].strip() for ln in lines if ln.startswith("  ") and ": OK" in ln}
    bad = [ln[2:] for ln in lines if ln.startswith("X ")]
    bad += [f"{q}: not reported by the checker (exit {p.returncode})"
            for q in sorted(oracle_sql) if q not in ok and not
            any(b.startswith(f"{q}:") for b in bad)]
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    if not (os.path.isdir(os.path.join(ENGINE_SRC, "graft")) and
            os.path.isfile(ORACLE_CHECK)):
        log(f"engine sources or {ORACLE_CHECK} not found: run from a full checkout")
        return 2
    if SPARK_HOME is None:
        log("no Spark install found: set SPARK_HOME")
        return 2
    stamp = source_stamp()
    cp, jsa = build(stamp)

    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ctx = host_context(stamp, work)
    try:
        return measure(args, cp, jsa, work, ctx, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, cp, jsa, work, ctx, t_start):
    data = DATA if args.workload == "query_mix" else None
    out = os.path.join(work, "record.json")
    rc = run_jvm(cp, jsa, args, work, out, data)
    if rc != 0 or not os.path.exists(out):
        log(f"JVM exited with {rc}")
        return 4
    with open(out) as fh:
        rec = json.load(fh)
    ctx["loadavg_after"] = loadavg()
    ctx["process_cpu_per_wall"] = stats.ratio(rec["loop_cpu_s"], rec["loop_s"])
    ctx["spark_conf"] = rec["spark_conf"]
    ctx["max_heap_mb"] = rec["max_heap_mb"]

    errors = list(rec["checks"])
    failed = rec["failed"]
    if args.workload == "query_mix":
        bad = oracle_failures(os.path.join(work, "results"), rec["facts"]["oracle_sql"])
        errors += [f"oracle {why}" for why in bad]
        failed += len(bad)
    # query_mix reads the same tables on every seed, so its pins hold on all
    if args.seed == 42 or args.workload == "query_mix":
        with open(os.path.join(HERE, "pinned.json")) as fh:
            pinned = json.load(fh).get(args.workload, {})
        got = dict(rec["digests"], **rec["facts"].get("pinned", {}))
        for k, v in pinned.items():
            if got.get(k) != v:
                errors.append(f"seed-42 pin {k}: {got.get(k)} != {v}")
                failed += 1
    rec["failed"] = failed = min(failed, rec["attempted"])

    e2e, e2e_base = end_to_end(rec)
    if args.trace:
        metrics, span_errs, bases = per_layer(rec, QUERIES)
        errors += span_errs
    else:
        metrics, bases = e2e, e2e_base
    bad_names = [n for n in metrics if not stats.valid_name(n)]
    errors += [f"bad metric name {n}" for n in bad_names]
    correct = not errors and failed == 0

    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "host": ctx, "correct": correct,
              "errors": errors, "attempted": rec["attempted"], "failed": failed,
              "end_to_end": {k: v[0] for k, v in e2e.items()}, "bases": bases,
              "metrics": {k: v[0] for k, v in metrics.items()},
              "raw": rec, "run_wall_s": time.time() - t_start}
    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(rec_dir, f"{time.strftime('%Y%m%dT%H%M%S')}-"
                            f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(rec_path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    for e in errors[:20]:
        print(f"check failed: {e}")
    its = [i for i in rec["iterations"] if not i["traced"]]
    print(f"{args.workload} seed={args.seed} trace={args.trace}: "
          f"{len(its)} untraced iterations, {rec['attempted']} ops attempted, "
          f"{failed} failed; load {ctx['loadavg_before']} -> {ctx['loadavg_after']}; "
          f"record {os.path.relpath(rec_path, ROOT)}")
    print(f"  wall_s = {e2e_base['wall_s']} s (median of {e2e_base['samples']}; "
          f"CPU/wall {ctx['process_cpu_per_wall']['value']:.2f}; not gated)")
    for k, (v, unit) in metrics.items():
        print(f"  {k} = {v} {unit}")
    print(f"output check: {'pass' if correct else 'FAIL'}")
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
