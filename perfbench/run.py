#!/usr/bin/env python3
"""graft's benchmark: one seeded closed-loop workload per run.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with the Scala compiler shipped in Spark's jars
(into .bench_build/), generates the workload's tables and computes the
DuckDB oracle answers; later runs reuse all three until a source, the
generator or an oracle changes. One JVM then runs the workload on
local[cores] with a single closed-loop client (perfbench/src), checking
every op's full result.

With --trace 0 the run prints every end-to-end metric (its times are
engine CPU seconds: the JVM's CPU time less the JIT compiler's; wall
times are info lines); with --trace 1 it
prints the per-layer metrics of a traced run, the per-op reconciliation
and the tracing overhead, and writes the spans under .bench_build/. The
last stdout line is one JSON object: correct, attempted, failed, metrics.
See perfbench/README.md for what each workload and metric means.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

sys.dont_write_bytecode = True  # keep the checkout clean

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
# the Spark installation the engine compiles and runs against
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
CORES = min(os.cpu_count() or 4, 4)

# tables per workload: (documents, embeddings, relational tables)
DATA = {
    "olap_mix": (5000, 2000, True),
    "corpus_build": (2000, 16, False),
    "ann_serve": (16, 5000, False),
}
SQL_WORKLOADS = {"olap_mix", "corpus_build"}

END_TO_END = [
    ("setup_s", "s"), ("first_pass_cpu_s", "s"), ("pass_cpu_s", "s"), ("op_p50_cpu_s", "s"),
    ("live_heap_mb", "MB"), ("result_quality", "ratio"),
]
PER_LAYER = [
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"), ("codegen.compiles", "count"),
    ("program.build_s", "s"), ("program.eager_jobs", "count"),
    ("driver.outside_jobs_s", "s"), ("driver.other_s", "s"),
    ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
    ("sched.job_wall_s", "s"), ("sched.task_wait_s", "s"),
    ("exec.run_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.deser_s", "s"), ("exec.busy_frac", "ratio"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.records", "count"), ("spill.disk_bytes", "bytes"),
    ("broadcast.bytes", "bytes"), ("broadcast.collect_s", "s"),
    ("scan.bytes_read", "bytes"), ("scan.rows_read", "count"),
    ("storage.persisted_rdds_left", "count"), ("storage.cached_mb", "MB"),
    ("jvm.gc_s", "s"), ("jvm.code_cache_mb", "MB"), ("jvm.jit_cpu_s", "s"),
    ("trace.overhead_s", "s"), ("trace.reconciled_frac", "ratio"),
]
JVM_TIMEOUT_S = 160
JAR = "graft-perfbench.jar"
MISSING = 1e9  # a failed op misses every latency limit


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_quiet(cmd, log, timeout):
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9


def tail(path, n=30):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


# ---- build ---------------------------------------------------------------

def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    return engine, bench


def jars():
    return sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))


def build():
    """Compile engine + benchmark sources into a jar when any of them
    changed and export the oracle SQL. Returns the build directory."""
    engine, bench = sources()
    if not engine:
        fail("no engine sources under src/main/scala: run from the root of a graft checkout")
    if not jars():
        fail(f"no Spark jars under {SPARK_JARS}: set SPARK_HOME")
    h = hashlib.sha256()
    for path in engine + bench:
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(f.read())
    built = os.path.join(OUT, "build-" + h.hexdigest()[:20])
    if os.path.exists(os.path.join(built, "oracles.json")):
        return built
    os.makedirs(OUT, exist_ok=True)
    for old in glob.glob(os.path.join(OUT, "build-*")):
        shutil.rmtree(old)
    tmp = built + ".tmp"
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    cp = ":".join(jars())
    log = os.path.join(OUT, "build.log")
    t0 = time.time()
    code = run_quiet(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                      "-nowarn", "-d", classes, "-classpath", cp] + engine + bench, log, 800)
    if code != 0:
        fail(f"build failed ({code}):\n{tail(log)}")
    with zipfile.ZipFile(os.path.join(tmp, JAR), "w") as z:
        for d, _, files in os.walk(classes):
            for f in files:
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    os.rename(tmp, built)
    # the oracle export comes last: it marks the build complete
    code = run_quiet(["java", "-XX:-UsePerfData", "-cp", f"{os.path.join(built, JAR)}:{cp}",
                      "perfbench.ExportOracles",
                      os.path.join(built, "oracles.json")], log + ".oracles", 120)
    if code != 0:
        fail(f"oracle export failed:\n{tail(log + '.oracles')}")
    print(f"perfbench: built {len(engine) + len(bench)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return built


# ---- data and oracle answers ---------------------------------------------

def data_dir(workload):
    docs, vecs, rel = DATA[workload]
    out = os.path.join(OUT, "data", f"{workload}-d{docs}-v{vecs}-r{int(rel)}")
    sys.path.insert(0, BENCH)
    import gen_data
    want = gen_data.stamp(docs, vecs, rel)
    stamp = os.path.join(out, "STAMP")
    if os.path.exists(stamp) and open(stamp).read() == want:
        return out
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(out + ".tmp", ignore_errors=True)
    code = run_quiet([sys.executable, os.path.join(BENCH, "gen_data.py"), out, str(docs),
                      str(vecs), "1" if rel else "0"], os.path.join(OUT, "gen.log"), 600)
    if code != 0:
        fail(f"data generation failed:\n{tail(os.path.join(OUT, 'gen.log'))}")
    return out


def oracle_answers(workload, built, data):
    """The DuckDB answer digests for the workload's SQL programs."""
    exported = os.path.join(built, "oracles.json")
    programs = json.load(open(exported))["programs"][workload]
    sql = os.path.join(OUT, "oracle_sql.json")
    with open(sql, "w") as f:
        json.dump(json.load(open(exported))["oracles"], f)
    out = os.path.join(OUT, f"expect-{workload}.tsv")
    log = os.path.join(OUT, "oracle.log")
    code = run_quiet([sys.executable, os.path.join(BENCH, "oracle.py"), data, sql, out,
                      os.path.join(OUT, "oracle-cache")] + programs, log, 800)
    if code != 0:
        fail(f"oracle answers failed:\n{tail(log)}")
    return out


# ---- the measured run ----------------------------------------------------

def jvm(built, args, work):
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]
    # the JIT compiler threads' CPU time (perfbench.Main.jitCpu)
    opens.append("--add-exports=java.management/sun.management=ALL-UNNAMED")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -UsePerfData: no hsperfdata files outside the checkout
    return (["java", "-XX:-UsePerfData"] + opens + [
        # a fixed heap: no resizing between ops
        "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
        # compiler threads live as long as the JVM, so their CPU time never drops
        "-XX:-UseDynamicNumberOfCompilerThreads",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dderby.system.home={tmp}",
        "-cp", f"{os.path.join(built, JAR)}:{SPARK_JARS}/*", "perfbench.Main"] + args)


def pct(values, q):
    """Linear-interpolated percentile; an empty sample is missing."""
    v = sorted(values)
    if not v:
        return MISSING
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def lat(op, key="cpu"):
    """An op's engine CPU seconds (key "cpu": CPU time of the whole JVM
    while it ran, less the JIT compiler's) or its wall seconds ("wall")."""
    if not op["ok"]:
        return MISSING
    return op["cpu_s"] - op["jit_cpu_s"] if key == "cpu" else op["wall_s"]


def by_name(ops, key="cpu"):
    out = {}
    for o in ops:
        out.setdefault(o["name"], []).append(lat(o, key))
    return out


def timings(raw, key):
    """first_pass, pass and op_p50 of one run, in engine CPU or wall seconds."""
    ops = raw["ops"]
    first = [lat(o, key) for o in ops if o["phase"] == "first"]
    reps = by_name([o for o in ops if o["phase"] == "repeat"], key)
    if raw["workload"] == "ann_serve":
        build = sum(lat(o, key) for o in ops if o["phase"] == "build")
        ivf = reps.get("ivf_search", [])
        # one warm round: eight IVF batches, a graph search, an insert
        return {"first_pass": build + sum(first),
                "pass": (8 * pct(ivf, 0.5) + pct(reps.get("nsw_search", []), 0.5)
                         + pct(reps.get("insert", []), 0.5)),
                "op_p50": pct(ivf, 0.5), "op_p90": pct(ivf, 0.9), "build": build,
                "graph_search_p50": pct(reps.get("nsw_search", []), 0.5),
                "insert_p50": pct(reps.get("insert", []), 0.5)}
    # per program: its first run, and the median of its repeats
    med = [pct(v, 0.5) for v in reps.values()]
    return {"first_pass": sum(first), "pass": sum(med), "op_p50": pct(med, 0.5),
            "op_p90": pct(med, 0.9), "first_op_p50": pct(first, 0.5),
            "first_op_p90": pct(first, 0.9)}


def end_to_end(raw):
    """The workload's end-to-end metrics from the raw op records. Times
    are engine CPU seconds: time the host gives other tenants is not
    counted, nor is the JIT compiler's, whose share of an op depends on
    how far compilation has got when the op runs. The wall-clock
    latencies are info lines."""
    ops = raw["ops"]
    cpu, wall = timings(raw, "cpu"), timings(raw, "wall")
    m = {"setup_s": raw["setup_cpu_s"] - raw["setup_jit_cpu_s"],
         "first_pass_cpu_s": cpu["first_pass"], "pass_cpu_s": cpu["pass"],
         "op_p50_cpu_s": cpu["op_p50"], "live_heap_mb": raw["live_heap_mb"]}
    if raw["workload"] == "ann_serve":
        recalls = [o["check"].get("recall", 0.0) for o in ops
                   if o["name"] == "ivf_search" and o["phase"] != "extra"]
        m["result_quality"] = statistics.mean(recalls) if recalls else 0.0
        graph = [o["check"].get("recall", 0.0) for o in ops
                 if o["name"] == "nsw_search" and o["phase"] != "extra"]
        info = {"graph_recall_at_10": statistics.mean(graph or [0.0])}
    else:
        m["result_quality"] = sum(o["ok"] for o in ops) / max(1, len(ops))
        info = {}
    info["setup_wall_s"] = raw["setup_s"]
    info["setup_jit_cpu_s"] = raw["setup_jit_cpu_s"]
    # not gated: a p90 needs ten samples beyond it to be steady; a run has 10-16
    for name, value in cpu.items():
        if f"{name}_cpu_s" not in m:
            info[f"{name}_cpu_s"] = value
    for name, value in wall.items():
        info[f"{name}_s"] = value
    info["samples"] = {p: sum(o["phase"] == p for o in ops)
                       for p in ("first", "warm", "repeat", "extra")}
    return m, info


def reconcile(op):
    """Check one traced op's layers against its wall time. Consistent:
    its program and action windows add up to the client's own wall
    time, no job or planning phase attributed to it lies outside it
    (the remainder is not negative), and every job listed for its tag
    was drained. Reconciled: consistent, and its jobs plus the planning
    outside them cover its wall within 5%; otherwise the remainder is
    named in driver.other_s."""
    L = op["layers"]
    wall, client = L["wall_s"], op["wall_s"]
    tol = 0.05 * wall + 2e-3
    windows = L["program.build_s"] + L["action_s"]
    consistent = (abs(windows - client) <= tol and abs(wall - client) <= tol
                  and L["driver.other_s"] >= -tol
                  and L.get("trace.undrained", 0) == 0 and L.get("trace.unmatched_jobs", 0) == 0)
    return {"op": op["name"], "phase": op["phase"], "wall_s": wall, "client_wall_s": client,
            "windows_s": windows, "job_wall_s": L["sched.job_wall_s"],
            "catalyst_outside_jobs_s": L["catalyst.outside_jobs_s"],
            "other_s": L["driver.other_s"], "close_s": L["trace.close_s"],
            "consistent": consistent, "reconciled": consistent and L["driver.other_s"] <= tol}


def per_layer(raw):
    """Per-op means of every layer metric over the traced ops, the
    reconciliation of each op's layers with its wall, and the tracing
    overhead (traced minus untraced repeat medians of engine CPU, per
    program)."""
    traced = [o for o in raw["ops"] if o["traced"] and o["layers"]]
    m = {}
    for name, _ in PER_LAYER:
        if not name.startswith("trace."):
            m[name] = statistics.mean(o["layers"].get(name, 0.0) for o in traced) if traced else 0.0
    recon = [reconcile(o) for o in traced]
    m["trace.reconciled_frac"] = sum(r["reconciled"] for r in recon) / len(recon) if recon else 0.0
    deltas = []
    reps = [o for o in raw["ops"] if o["phase"] == "repeat" and o["ok"]]
    for name in sorted({o["name"] for o in reps}):
        on = [lat(o) for o in reps if o["name"] == name and o["traced"]]
        off = [lat(o) for o in reps if o["name"] == name and not o["traced"]]
        if on and off:
            deltas.append(statistics.median(on) - statistics.median(off))
    m["trace.overhead_s"] = statistics.median(deltas) if deltas else 0.0
    return {name: m[name] for name, _ in PER_LAYER}, recon


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(DATA))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    built = build()
    data = data_dir(args.workload)
    expect = oracle_answers(args.workload, built, data) if args.workload in SQL_WORKLOADS else None

    work = os.path.join(OUT, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_path = os.path.join(work, "raw.json")
    cmd = jvm(built, ["--workload", args.workload, "--seed", str(args.seed),
                        "--seconds", str(args.seconds), "--trace", str(args.trace),
                        "--cores", str(CORES), "--data", data, "--work", work,
                        "--out", raw_path] + (["--expect", expect] if expect else []), work)
    log = os.path.join(OUT, "jvm.log")
    code = run_quiet(cmd, log, JVM_TIMEOUT_S)
    if code != 0 or not os.path.exists(raw_path):
        fail(f"benchmark JVM exited {code}:\n{tail(log)}")
    raw = json.load(open(raw_path))
    # the run's raw op records stay beside the trace output, for diagnosis
    runs = os.path.join(OUT, "runs")
    os.makedirs(runs, exist_ok=True)
    shutil.move(raw_path, os.path.join(runs, f"{args.workload}-seed{args.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)

    ops = raw["ops"]
    failed = [o for o in ops if not o["ok"]]
    for o in failed:
        print(f"FAILED {o['kind']} {o['name']} ({o['phase']}): {o['error']}")
    e2e, info = end_to_end(raw)
    if args.trace:
        metrics, recon = per_layer(raw)
        units = dict(PER_LAYER)
        trace_dir = os.path.join(OUT, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        trace_file = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(trace_file, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "traced_e2e": e2e,
                       "per_layer": metrics, "reconciliation": recon,
                       "late_events": raw.get("late_events", 0),
                       "ops": ops, "spans": raw.get("spans", [])}, f)
        for r in recon:
            if not r["consistent"]:
                print(f"inconsistent {r['op']} ({r['phase']}): wall {r['wall_s']:.4f} s, client "
                      f"{r['client_wall_s']:.4f} s, windows {r['windows_s']:.4f} s, "
                      f"driver.other_s {r['other_s']:.4f} s")
            elif not r["reconciled"]:
                print(f"remainder {r['op']} ({r['phase']}): driver.other_s {r['other_s']:.4f} s "
                      f"of {r['wall_s']:.4f} s")
        print(f"reconciliation: {sum(r['reconciled'] for r in recon)}/{len(recon)} traced ops "
              f"within 5%, {sum(r['consistent'] for r in recon)}/{len(recon)} consistent; "
              f"spans in {os.path.relpath(trace_file, ROOT)}")
    else:
        metrics, units = {name: e2e[name] for name, _ in END_TO_END}, dict(END_TO_END)
    for name, value in info.items():
        print(f"info {name} {value}")
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
    result = {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {name: {"value": float(value), "unit": units[name]}
                    for name, value in metrics.items()},
    }
    print(json.dumps(result))
    sys.exit(0 if not failed else 1)


if __name__ == "__main__":
    main()
