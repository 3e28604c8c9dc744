#!/usr/bin/env python3
"""graftbench: one closed-loop workload against graft in a fresh JVM.

    python3 graftbench/run.py --workload oltp_mix --seed 1 --seconds 30 --trace 0

Builds the engine and the benchmark from source (graftbench/build.py),
starts one local[nproc] Spark JVM with a fixed session conf and heap, sets
the workload up from the seed in a private warehouse, drives it for
--seconds, checks every answer and fingerprints every final table, then
deletes the warehouse.

stdout: a human-readable metric table, a `{"graftbench": ...}` line with
every metric (the workload-specific ones too), the seed and an environment
fingerprint, and as the LAST line the result object
{"correct", "attempted", "failed", "metrics"} whose metrics are the ones
BENCHMARK.json declares: end_to_end with --trace 0, per_layer with --trace 1.
The run's log, result and (traced) span dump stay under
$CARGO_TARGET_DIR/graftbench/runs/. Exit 0 only when every op succeeded and
every answer was right.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("oltp_mix", "scan_mor", "cdc_serve")
HEAP = "3g"
# the JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
DEADLINE_S = 175  # a run must end within 180 s once built


def loadavg():
    try:
        return [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except OSError:
        return None


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_rev():
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def declared():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return [m["name"] for m in b["end_to_end"]], [m["name"] for m in b["per_layer"]]


def fmt(v):
    return "nan" if v is None or (isinstance(v, float) and math.isnan(v)) else f"{v:.6g}"


def run_jvm(cp, a, run_dir, work, t_start):
    out = os.path.join(run_dir, "result.json")
    # a fixed heap: heap growth would otherwise vary GC work run to run;
    # no hsperfdata file, which the JVM would write outside the checkout
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(cp), "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out,
            "--spans", os.path.join(run_dir, "spans.jsonl"), "--nproc", str(nproc())]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            p.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            raise RuntimeError("benchmark JVM exceeded its deadline and was killed")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0 or not os.path.exists(out):
        raise RuntimeError(f"benchmark JVM exited {p.returncode}; see "
                           f"{os.path.join(run_dir, 'jvm.log')}")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        e2e_names, layer_names = declared()
        cp, build_key = build.build()
    except (build.BuildError, OSError, ValueError, KeyError) as e:
        print(f"[graftbench] cannot run: {e}", file=sys.stderr)
        return 2
    t_start = time.time()  # the run deadline starts after the build

    runs = os.path.join(build.build_root(), "graftbench", "runs")
    run_dir = os.path.join(runs, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    work = os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"))
    load0 = loadavg()
    try:
        res = run_jvm(cp, a, run_dir, work, t_start)
    except (RuntimeError, OSError, ValueError) as e:
        print(f"[graftbench] {e}", file=sys.stderr)
        return 1
    finally:
        # tables, spill and temp files never outlive the run
        shutil.rmtree(work, ignore_errors=True)
    load1 = loadavg()

    info = res["info"]
    env = {"seed": a.seed, "workload": a.workload, "trace": a.trace,
           "git_rev": git_rev() or f"source-{build_key}", "nproc": nproc(),
           "heap": HEAP, "loadavg_before": load0, "loadavg_after": load1,
           "jdk": info.get("jdk"), "spark": info.get("spark"), "scala": info.get("scala"),
           "rotations": info.get("rotations"), "window_s": info.get("window_s")}
    every = {**res["metrics"], **res["ops"], **res["layers"]}
    for k, m in every.items():
        print(f"{k:44s} {fmt(m['value']):>14s} {m['unit']}")
    for e in res["errors"]:
        print(f"[graftbench] FAILED {e}", file=sys.stderr)
    print(json.dumps({"graftbench": {"env": env, "errors": res["errors"], "metrics": every}}))

    names = layer_names if a.trace else e2e_names
    missing = [n for n in names if n not in every]
    if missing:
        print(f"[graftbench] the run did not measure {missing}", file=sys.stderr)
        return 1
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]),
                      "metrics": {n: every[n] for n in names}}))
    return 0 if res["correct"] and res["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
