#!/usr/bin/env python3
"""Repeat-runner: runs one workload k times with seeds base..base+k-1 and
prints, for every metric, the median, the quartiles and the spread
(quartile distance / median, from statistics.quantiles(n=4)). With
--check, each declared end-to-end metric's spread is compared against its
BENCHMARK.json bound (setup_s is exempt, as its bound only caps drift).

    python3 graftbench/repeat.py --workload cdc_serve --runs 10 --check
    python3 graftbench/repeat.py --workload oltp_mix --runs 5 --trace 1

Runs are sequential (one JVM at a time). The per-run result lines are
appended to --log (JSON lines) so two sets can be compared afterwards.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"run failed: seed {seed} exit {r.returncode}")
    detail = next((json.loads(l)["graftbench"] for l in lines
                   if l.startswith('{"graftbench"')), None)
    return json.loads(lines[-1]), detail


def summarize(rows):
    out = {}
    for name in rows[0]:
        vals = [r[name] for r in rows if r.get(name) is not None]
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        out[name] = {"median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / abs(med) if med else float("nan"),
                     "n": len(vals)}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="first seed")
    ap.add_argument("--seconds", type=float, default=None,
                    help="default: BENCHMARK.json run_seconds")
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--all", action="store_true",
                    help="summarize every metric of the detail line, not only the declared ones")
    ap.add_argument("--check", action="store_true")
    ap.add_argument("--log", default=None, help="append per-run results (JSON lines)")
    a = ap.parse_args()

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = a.seconds or bench["run_seconds"]
    rows = []
    for i in range(a.runs):
        seed = a.seed + i
        res, detail = one(a.workload, seed, seconds, a.trace)
        src = detail["metrics"] if a.all else res["metrics"]
        rows.append({k: v["value"] for k, v in src.items()})
        print(f"seed {seed}: " + "  ".join(f"{k}={v['value']:.4g}"
                                           for k, v in res["metrics"].items()),
              file=sys.stderr)
        if a.log:
            with open(a.log, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": seed,
                                    "trace": a.trace, "result": res,
                                    "env": detail["env"]}) + "\n")
    summary = summarize(rows)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    bad = []
    print(f"{'metric':44s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s}  bound")
    for name, s in summary.items():
        b = bounds.get(name)
        flag = ""
        if a.check and b is not None and name != "setup_s":
            if s["spread"] > b:
                flag = "  OVER BOUND"
                bad.append(name)
            elif s["spread"] > b / 3:
                flag = "  over a third of bound"
        print(f"{name:44s} {s['median']:12.5g} {s['q1']:12.5g} {s['q3']:12.5g} "
              f"{s['spread']:8.4f}  {'' if b is None else b}{flag}")
    print(json.dumps({"workload": a.workload, "runs": a.runs, "summary": summary}))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
