#!/usr/bin/env python3
"""Self-test of the benchmark.

    python3 perfbench/selftest.py

Checks, from the root of a checkout:
1. BENCHMARK.json lists every end-to-end and per-layer metric run.py
   reports, each with its unit and direction, and workloads run.py
   knows, each with its reason, and nothing else; the seed is a
   required argument of run.py.
2. In a directory holding only BENCHMARK.json and perfbench/, run.py
   exits non-zero without printing a result.
3. A short traced olap_mix run is correct, reports exactly the per-layer
   metrics, and every traced op is consistent: its program and action
   windows add up to the client's own wall time within 5%, no job or
   planning phase attributed to it lies outside it, and every job its
   tag lists was drained. Each op either reconciles (its job time and
   the planning time outside jobs cover its wall within 5%) or its
   remainder is printed as driver.other_s. Every job and stage span is
   nested in its op and every self time is non-negative.
"""
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import run  # noqa: E402

failures = []


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        failures.append(what)


def benchmark_json():
    b = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    check(set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"},
          "BENCHMARK.json has exactly the contract's keys")
    check(b["command"] == ["python3", "perfbench/run.py"] and b["paths"] == ["perfbench"],
          "command and paths name the benchmark")
    check(len(b["workloads"]) >= 2 and all(w["name"] in run.DATA for w in b["workloads"])
          and all(w.get("why") and set(w) == {"name", "why"} for w in b["workloads"]),
          "every listed workload exists and is listed with its reason")
    e2e = {m["name"]: m for m in b["end_to_end"]}
    check(list(e2e) == [n for n, _ in run.END_TO_END]
          and all(e2e[n]["unit"] == u for n, u in run.END_TO_END)
          and all(m["better"] in ("lower", "higher") and 0 < m["bound"] <= 0.25
                  for m in e2e.values()),
          "every end-to-end metric is listed with unit, direction and bound")
    check(e2e.get("setup_s", {}).get("bound") == max(m["bound"] for m in e2e.values()),
          "setup_s carries the largest bound")
    layers = {m["name"]: m for m in b["per_layer"]}
    check(list(layers) == [n for n, _ in run.PER_LAYER]
          and all(layers[n]["unit"] == u and layers[n]["better"] in ("lower", "higher")
                  for n, u in run.PER_LAYER),
          "every per-layer metric is listed with unit and direction")
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "olap_mix",
                        "--seconds", "1"], cwd=ROOT, capture_output=True, text=True)
    check(p.returncode != 0 and "--seed" in p.stderr, "run.py refuses to run without --seed")


def bare_directory():
    bare = os.path.join(run.OUT, "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "olap_mix",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=bare, capture_output=True, text=True, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    check(p.returncode != 0 and '"correct"' not in p.stdout,
          "a directory with only the benchmark exits non-zero without a result")


def traced_run():
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "olap_mix",
                        "--seed", "1", "--seconds", "1", "--trace", "1"],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    check(p.returncode == 0 and result.get("correct") is True and result.get("failed") == 0,
          "short traced olap_mix run is correct")
    check(list(result.get("metrics", {})) == [n for n, _ in run.PER_LAYER],
          "traced run reports exactly the per-layer metrics")
    trace = json.load(open(os.path.join(run.OUT, "trace", "olap_mix-seed1.json")))
    recon = trace["reconciliation"]
    for r in recon:
        if not r["consistent"]:
            check(False, f"{r['op']} ({r['phase']}): windows {r['windows_s']:.4f} s, tracer wall "
                         f"{r['wall_s']:.4f} s, client wall {r['client_wall_s']:.4f} s, "
                         f"remainder {r['other_s']:.4f} s, or undrained jobs")
    check(recon and all(r["consistent"] for r in recon),
          f"{sum(r['consistent'] for r in recon)}/{len(recon)} traced ops consistent: program and "
          "action windows add up to the client's wall within 5%, nothing attributed lies outside "
          "the op, every tagged job drained")
    named = [r for r in recon if not r["reconciled"]]
    check(all(f"remainder {r['op']} ({r['phase']}): driver.other_s {r['other_s']:.4f} s"
              in p.stdout and r["other_s"] > 0 for r in named),
          f"{len(recon) - len(named)}/{len(recon)} traced ops reconcile within 5%; "
          f"the other {len(named)} name their remainder in driver.other_s")
    frac = result.get("metrics", {}).get("trace.reconciled_frac", {}).get("value")
    check(frac == (len(recon) - len(named)) / len(recon) if recon else False,
          "trace.reconciled_frac is the share of ops that reconcile within 5%")
    spans = trace["spans"]
    by_id = {s["id"]: s for s in spans}
    roots = {s["op"]: s for s in spans if s["name"] == "op"}
    nested = all(
        s["parent"] in by_id and s["op"] == by_id[s["parent"]]["op"]
        and s["start_ms"] >= roots[s["op"]]["start_ms"] - 2
        for s in spans if s["name"] != "op")
    check(spans and nested, "every span hangs off a span of its own op, inside the op")
    check(all(s["self_ms"] >= 0 for s in spans), "every span's self time is non-negative")
    check(all(s.get("tag") for s in spans if s["name"] == "job"),
          "every job span carries its op's job tag")
    check("trace.overhead_s" in result.get("metrics", {}), "tracing overhead is reported")


def main():
    benchmark_json()
    bare_directory()
    traced_run()
    print(f"== {len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
