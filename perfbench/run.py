#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

  python3 perfbench/run.py --workload retention_delta --seed 1 \
      --seconds 15 --trace 0

Run from the repository root. The first run builds (perfbench/build.py).
The last line of standard output is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric of BENCHMARK.json under --trace 0 and
every per-layer metric under --trace 1. The exit code is 0 when every
output check passed, 1 when one failed, and 2 or more (with no result
line) when the benchmark could not run.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["retention_delta", "query_mix"]
JVM_TIMEOUT_S = 165


def fail(code, msg):
    print(msg, file=sys.stderr)
    sys.exit(code)


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return None


def git_commit():
    if not os.path.isdir(".git"):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    return r.stdout.strip() or None


def run_jvm(cmd):
    """Runs the harness JVM in its own process group and waits for it;
    on timeout the whole group is killed and reaped."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(4, f"harness exceeded {JVM_TIMEOUT_S}s")
    return p.returncode, out, err


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()

    try:
        with open("BENCHMARK.json") as fh:
            spec = json.load(fh)
        jars, stamp = build.ensure()
    except (OSError, ValueError, build.BuildError,
            subprocess.TimeoutExpired) as e:
        fail(3, f"cannot build the benchmark: {e}")

    nproc = len(os.sched_getaffinity(0))
    root = os.getcwd()
    work = os.path.join(root, build.BUILD, "work",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    out_file = os.path.join(root, build.BUILD, "runs",
                            f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.dirname(out_file), exist_ok=True)
    cmd = (build.jvm(jars, work, f"-XX:SharedArchiveFile={build.ARCHIVE}") +
           ["run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--nproc", str(nproc), "--root", root, "--work", work,
            "--out", out_file + ".part",
            "--oracle", os.path.join(root, build.ORACLE_COUNTS)])
    load0 = loadavg()
    try:
        code, out, err = run_jvm(cmd)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out_file + ".part"):
        fail(5, f"harness failed (exit {code}):\n{err[-4000:]}")
    with open(out_file + ".part") as fh:
        art = json.load(fh)
    os.remove(out_file + ".part")
    art["identity"].update({"git_commit": git_commit(), "source_stamp": stamp,
                            "loadavg_start": load0, "loadavg_end": loadavg(),
                            "heap": build.HEAP})
    with open(out_file, "w") as fh:
        json.dump(art, fh, indent=1)

    section = "per_layer" if a.trace else "end_to_end"
    values = art.get(section, {})
    metrics, missing = {}, []
    for m in spec[section]:
        v = values.get(m["name"])
        if isinstance(v, (int, float)) and math.isfinite(v):
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        else:
            missing.append(m["name"])
    problems = [o for o in art["ops"] if not o["ok"]]
    correct = (not problems and not missing and art["selftest_ok"]
               and art["attempted"] > 0)

    print(json.dumps({"identity": art["identity"],
                      "inputs": art["workload_report"],
                      "setup_rounds_s": art["setup_rounds_s"],
                      "selftest": art["selftest"]}))
    for o in problems[:10]:
        print(json.dumps({"failed_op": o}))
    if missing:
        print(json.dumps({"missing_metrics": missing}))
    if a.trace:
        print(module_table(values))
    print(json.dumps({"correct": correct, "attempted": art["attempted"],
                      "failed": art["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


def module_table(v):
    """Per-operation attribution of the traced window, one row a module:
    jobs to wall_s by the module that started the action, task_s and the
    byte columns by the module whose code built the plan nodes."""
    cols = ["jobs", "stages", "tasks", "wall_s", "task_s",
            "shuffle_write_mb", "output_mb"]
    rows = ["module        " + " ".join(f"{c:>16}" for c in cols)]
    for mod in ["retention", "sources", "operators", "functions", "registry",
                "bench", "unattributed"]:
        rows.append(f"{mod:14}" + " ".join(
            f"{v.get(f'{mod}.{c}', 0.0):16.4f}" for c in cols))
    rows.append(f"driver.gap_s {v.get('driver.gap_s', 0.0):.4f}  "
                f"closure {v.get('trace.closure_frac', 0.0):.4f}  "
                f"overlap {v.get('trace.overlap_frac', 0.0):.4f}  "
                f"overhead {v.get('trace.overhead_frac', 0.0):+.4f}  "
                f"ops {v.get('trace.ops', 0.0):.0f}")
    return "\n".join(rows)


if __name__ == "__main__":
    main()
