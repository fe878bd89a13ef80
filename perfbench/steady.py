#!/usr/bin/env python3
"""Steadiness helper: run workloads repeatedly, one seed per run, and print
each metric's median and quartiles.

    python3 perfbench/steady.py [--workloads a,b] [--seeds 1-10] [--seconds N] [--trace 0|1]
                                [--out runs.json]
    python3 perfbench/steady.py --from runs.json

The spread of an end-to-end metric is (q3 - q1) / median over the runs,
quartiles as `statistics.quantiles(values, n=4)` gives them. A metric whose
spread exceeds its bound in BENCHMARK.json is flagged UNSTEADY, one above a
third of its bound `loose`. setup_s is shown but not judged on spread.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    line = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    return {"workload": workload, "seed": seed, "rc": p.returncode, "wall_s": time.time() - t0,
            "line": line, "stderr": p.stderr[-2000:] if p.returncode else ""}


def summarize(runs, bench):
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    worst = 0
    for w in sorted({r["workload"] for r in runs}):
        rs = [r for r in runs if r["workload"] == w]
        ok = [r for r in rs if r["line"]]
        walls = [r["wall_s"] for r in rs]
        print(f"== {w}: {len(ok)}/{len(rs)} runs ok, "
              f"{sum(1 for r in ok if not r['line']['correct'])} incorrect, "
              f"wall median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
        for r in rs:
            if not r["line"]:
                print(f"   seed {r['seed']} FAILED rc={r['rc']}: {r['stderr'][-300:]}")
        if len(ok) < 2:
            continue
        for name in ok[0]["line"]["metrics"]:
            xs = [r["line"]["metrics"][name]["value"] for r in ok]
            med = statistics.median(xs)
            q = statistics.quantiles(xs, n=4) if len(xs) >= 2 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else 0.0
            bound = e2e.get(name, {}).get("bound")
            flag = ""
            if bound is not None and name != "setup_s":
                if spread > bound:
                    flag, worst = "UNSTEADY", 2
                elif spread > bound / 3:
                    flag, worst = "loose", max(worst, 1)
            print(f"   {name:<32} median {med:14.4f}  q1 {q[0]:14.4f}  q3 {q[2]:14.4f}  "
                  f"spread {spread:7.4f}" + (f"  bound {bound}" if bound is not None else "")
                  + (f"  {flag}" if flag else ""))
    return worst


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--from", dest="src")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.src:
        with open(a.src) as f:
            runs = json.load(f)
    else:
        workloads = a.workloads.split(",") if a.workloads else \
            [w["name"] for w in bench["workloads"]]
        runs = []
        for w in workloads:
            for s in seeds_of(a.seeds):
                runs.append(run_once(w, s, a.seconds or bench["run_seconds"], a.trace))
                r = runs[-1]
                print(f"[steady] {w} seed {s}: rc={r['rc']} {r['wall_s']:.1f}s", flush=True)
                if a.out:
                    with open(a.out, "w") as f:
                        json.dump(runs, f)
    return summarize(runs, bench)


if __name__ == "__main__":
    sys.exit(main())
