#!/usr/bin/env python3
"""Steadiness check of the engine benchmark on one commit.

For each workload, runs two sets of untraced repetitions (set A and set B,
interleaved, each run on its own seed) and prints, per end-to-end metric,
each set's median and quartiles, the spread (Q3 - Q1) / median of each set
and of both sets together, and whether the sets agree within the bounds of
BENCHMARK.json:

  * the spread of every metric except setup_s stays within its bound, and
  * set B's median is not worse than set A's by more than the bound.

setup_s is held only to the second rule, as the benchmark contract holds it:
its spread is printed but not bounded, because most of it (JVM and session
start, the warm-up) happens once per run and cannot be repeated inside one.

    python3 enginebench/steadiness.py                 # 5 + 5 runs per workload
    python3 enginebench/steadiness.py --runs 3 --workloads incr_stream

Exits 1 if any workload's sets disagree. The per-run results are kept in
.bench_out/enginebench/steadiness.json.
"""
import argparse
import json
import signal
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DECL = json.loads((ROOT / "BENCHMARK.json").read_text())
OUT = ROOT / ".bench_out" / "enginebench" / "steadiness.json"


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, str(ROOT / "enginebench" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                            text=True)
    try:
        stdout, _ = proc.communicate()
    finally:
        if proc.poll() is None:
            proc.terminate()  # run.py stops its JVM on SIGTERM
            proc.wait()
    lines = stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {"correct": False}
    res["exit"] = proc.returncode
    res["seed"] = seed
    return res


def summary(values: list) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / abs(med) if med else float("inf")}


def worse_by(a: float, b: float, better: str) -> float:
    """How much worse median b is than median a, as a share of a."""
    return ((b - a) if better == "lower" else (a - b)) / abs(a)


def main() -> int:
    signal.signal(signal.SIGTERM, lambda signum, _f: sys.exit(128 + signum))
    ap = argparse.ArgumentParser(description="two-set steadiness check")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in DECL["workloads"]))
    ap.add_argument("--runs", type=int, default=5, help="runs per set")
    ap.add_argument("--seconds", type=int, default=DECL["run_seconds"])
    ap.add_argument("--seed-base", type=int, default=1000)
    args = ap.parse_args()

    report, agree_all = {}, True
    for wi, workload in enumerate(args.workloads.split(",")):
        sets = {"A": [], "B": []}
        for i in range(args.runs):
            for k, name in enumerate("AB"):
                seed = args.seed_base + 100 * wi + 2 * i + k
                r = one_run(workload, seed, args.seconds)
                sets[name].append(r)
                print(f"{workload} set {name} seed {seed}: exit={r['exit']} "
                      f"correct={r.get('correct')}", flush=True)
        ok = all(r.get("correct") and r["exit"] == 0 for s in sets.values() for r in s)
        rows = {}
        print(f"\n== {workload}")
        print(f"{'metric':28s} {'set':3s} {'median':>14s} {'q1':>14s} {'q3':>14s} {'spread':>8s}")
        for m in DECL["end_to_end"]:
            name, bound, better = m["name"], m["bound"], m["better"]
            vals = {s: [r["metrics"][name]["value"] for r in sets[s] if r.get("metrics")]
                    for s in sets}
            if min(len(v) for v in vals.values()) < 2:
                ok = False
                continue
            sm = {s: summary(v) for s, v in vals.items()}
            both = summary(vals["A"] + vals["B"])
            for s in ("A", "B"):
                x = sm[s]
                print(f"{name:28s} {s:3s} {x['median']:14.6g} {x['q1']:14.6g} {x['q3']:14.6g} "
                      f"{x['spread']:8.4f}")
            shift = worse_by(sm["A"]["median"], sm["B"]["median"], better)
            spread_ok = name == "setup_s" or all(sm[s]["spread"] <= bound for s in sm)
            agree = spread_ok and shift <= bound
            ok = ok and agree
            print(f"{'':28s} all {both['median']:14.6g} spread(10)={both['spread']:.4f} "
                  f"B-vs-A worse by {shift:+.4f} bound {bound} -> {'agree' if agree else 'DISAGREE'}")
            rows[name] = {"A": sm["A"], "B": sm["B"], "both": both, "shift": shift,
                          "bound": bound, "agree": agree}
        report[workload] = {"agree": ok, "metrics": rows, "runs": sets}
        agree_all = agree_all and ok
        print(f"{workload}: {'AGREE' if ok else 'DISAGREE'}")
    OUT.parent.mkdir(parents=True, exist_ok=True)
    OUT.write_text(json.dumps(report, indent=1))
    return 0 if agree_all else 1


if __name__ == "__main__":
    sys.exit(main())
