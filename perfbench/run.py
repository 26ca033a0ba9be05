#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Builds graft and the harness from source (perfbench/build.py), makes
the workload's inputs from --seed (perfbench/gen.py), runs the workload
in one JVM for --seconds, checks its outputs (perfbench/check.py) and
prints, as the last stdout line, one JSON object:
{"correct", "attempted", "failed", "metrics"} — the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. The line before it
is the host-shape stamp. Everything the run writes lives under one
directory in the checkout, removed on exit.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import check  # noqa: E402
import gen    # noqa: E402

WORKLOADS = ("analytics", "speed_layer")
SETUP_REPS = 3
HEAP = "3g"
JVM_TIMEOUT_S = 170


def cgroup_cores():
    try:
        quota, period = open("/sys/fs/cgroup/cpu.max").read().split()
        return None if quota == "max" else max(1, -(-int(quota) // int(period)))
    except (OSError, ValueError):
        return None


def host_stamp(seed, jvm_host, build_key):
    nproc = len(os.sched_getaffinity(0))
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, text=True,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL).stdout.strip()
    except OSError:
        sha = ""
    return {"nproc": nproc, "cgroup_quota_cores": cgroup_cores(),
            "heap_bytes": jvm_host.get("heap_bytes"), "jdk": jvm_host.get("jdk"),
            "spark": jvm_host.get("spark"), "task_threads": jvm_host.get("cores"),
            "git_sha": sha or f"tree-{build_key}", "seed": seed}


def metric_spec(trace):
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write the full result (host stamp, samples) here")
    ap.add_argument("--spans", help="keep the traced run's spans (JSON lines) here")
    a = ap.parse_args()

    classes = build.build()
    units = metric_spec(a.trace)
    nproc = len(os.sched_getaffinity(0))
    cores = min(nproc, cgroup_cores() or nproc)
    root = os.path.join(build.ROOT, ".bench_run", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "tmp"))
    proc = None
    try:
        inputs = os.path.join(root, "inputs")
        gen.generate(a.workload, inputs, a.seed)
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:MaxGCPauseMillis=200",
                "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={root}/tmp", f"-Dderby.system.home={root}",
                f"-Dderby.stream.error.file={root}/derby.log", "-Duser.timezone=UTC"]
               + [x for p in build.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", build.classpath(classes), "graft.perfbench.Main",
                  "--workload", a.workload, "--root", root, "--inputs", inputs,
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--setup-reps", str(SETUP_REPS), "--cores", str(cores),
                  "--out", os.path.join(root, "result.json")])
        env = dict(os.environ, TMPDIR=os.path.join(root, "tmp"))
        with open(os.path.join(root, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=root, env=env)
            try:
                proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(a.workload, "run", f"timed out after {JVM_TIMEOUT_S} s", root)
        with open(os.path.join(root, "jvm.log")) as f:
            sys.stderr.write("".join(line for line in f if line.startswith("[perfbench]")))
        result_file = os.path.join(root, "result.json")
        if proc.returncode != 0 or not os.path.exists(result_file):
            fail(a.workload, "run", f"JVM exited with {proc.returncode}", root)
        with open(result_file) as f:
            res = json.load(f)
        for e in res["errors"]:
            sys.stderr.write(f"perfbench: {a.workload}: op failed: {e}\n")
        failures = check.CHECKS[a.workload](res, inputs)
        if failures:
            for x in failures[:20]:
                sys.stderr.write(f"perfbench: {a.workload}: check failed: {x}\n")
            raise SystemExit(f"perfbench: {a.workload}: {len(failures)} correctness check(s) failed")
        values = res["layers"] if a.trace else res["e2e"]
        missing = sorted(set(units) - set(values))
        if missing:
            raise SystemExit(f"perfbench: {a.workload}: metrics not measured: {missing}")
        stamp = host_stamp(a.seed, res["host"], os.path.basename(classes).split("-")[-1])
        out = {"correct": True, "attempted": res["attempted"], "failed": res["failed"],
               "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}
        if a.out:
            with open(a.out, "w") as f:
                json.dump({"workload": a.workload, "trace": a.trace, "host": stamp,
                           "result": out, "all_metrics": values, "samples": res["samples"]},
                          f, indent=1)
        if a.spans and a.trace:
            shutil.copyfile(os.path.join(root, "spans.jsonl"), a.spans)
        print(json.dumps({"host": stamp}))
        print(json.dumps(out))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(root, ignore_errors=True)
        parent = os.path.dirname(root)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def fail(workload, op, cause, root):
    log = os.path.join(root, "jvm.log")
    if os.path.exists(log):
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
    raise SystemExit(f"perfbench: {workload}: {op} failed: {cause}")


if __name__ == "__main__":
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = time.time()
    main()
    sys.stderr.write(f"perfbench: wall {time.time() - t0:.1f} s\n")
