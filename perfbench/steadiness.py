#!/usr/bin/env python3
"""Steadiness self-check of the repository benchmark.

    python3 perfbench/steadiness.py [--runs 10] [--first-seed 1] [--workloads a,b]

Runs every workload (untraced) once per seed and reports, for each
end-to-end metric, the median, the quartile spread (Q3 - Q1) / median as
`statistics.quantiles(values, n=4)` gives the quartiles, and the metric's
bound from BENCHMARK.json. A metric whose spread is not under a third of
its bound is marked; setup_s is reported but its spread is not gated.
Every run must also be correct. Exits 1 when a run fails or a gated
spread is too wide. Run it from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, timeout=900)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    a = ap.parse_args()
    ok = True
    for w in a.workloads.split(","):
        values = {m["name"]: [] for m in spec["end_to_end"]}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            r = run(w, seed, spec["run_seconds"])
            if r is None or not r["correct"] or r["failed"]:
                print(f"{w} seed {seed}: run failed or incorrect: {r}")
                ok = False
                continue
            for k, v in r["metrics"].items():
                values[k].append(v["value"])
            print(f"{w} seed {seed}: " + ", ".join(f"{k}={v['value']:.6g}" for k, v in r["metrics"].items()),
                  flush=True)
        for m in spec["end_to_end"]:
            vs = values[m["name"]]
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            gated = m["name"] != "setup_s"
            steady = spread < m["bound"] / 3
            ok &= steady or not gated
            flag = "ok" if steady else ("WIDE" if gated else "wide (not gated)")
            print(f"{w:15s} {m['name']:20s} median {med:12.6g} {m['unit']:6s} "
                  f"spread {spread:7.4f} bound {m['bound']:.2f}  {flag}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
