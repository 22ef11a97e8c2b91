#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload krm_export --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest      # generator determinism + checker self-tests

Builds the program from source on first use (see build.py), generates the
workload's inputs from --seed, measures for --seconds, checks every output,
and prints {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. Host state,
spans and check details of each run are kept under .bench_build/perfbench/runs.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402
import oracle  # noqa: E402

HERE = build.HERE
ROOT = build.ROOT
CONFIG = os.path.join(HERE, "workloads.json")
SPEC = os.path.join(ROOT, "BENCHMARK.json")  # workload and metric names, units
# Run by hand only, not in BENCHMARK.json, because the program fails their
# output checks (README.md, "Known failures"): krm_sync on every seed,
# corpus_curate_lsh (corpus_curate plus dedup_minhash_lsh) on about 2 seeds in 100.
HAND_RUN = ["krm_sync", "corpus_curate_lsh"]


def load_spec():
    with open(SPEC) as f:
        spec = json.load(f)
    return ([w["name"] for w in spec["workloads"]],
            {m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

RUN_TIMEOUT_S = 150  # leaves room for the oracle check within the 180 s a run may take


# ---------------------------------------------------------------- host state

def _cpu_times():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def _loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _java_processes(exclude=()):
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) in exclude:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0")[0]
        except OSError:
            continue
        if os.path.basename(argv0) == b"java":
            n += 1
    return n


class Host:
    """loadavg at start and end, steal fraction between them, and the
    number of JVMs other than the benchmark's own."""

    def __init__(self):
        self.load_start = _loadavg()
        self.cpu_start = _cpu_times()
        self.jvms = _java_processes()

    def finish(self, own_pid=None):
        total, steal = _cpu_times()
        dt = max(1, total - self.cpu_start[0])
        return {
            "host.loadavg_start": self.load_start,
            "host.loadavg_end": _loadavg(),
            "host.steal_frac": (steal - self.cpu_start[1]) / dt,
            "host.competing_jvms": float(max(self.jvms, _java_processes(
                exclude=(own_pid,) if own_pid else ()))),
        }


# ---------------------------------------------------------------- running

def jvm(cp, args, work, timeout):
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap = max(1, min(4, int(mem_gb / 4)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap}g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}", "-Dspark.callstack.depth=80",
        "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp,
        "-cp", cp, "perfbench.Main", "--config", CONFIG, "--work", work] + args
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    try:
        stdout, stderr = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        stdout, stderr = proc.communicate()
        return None, proc.pid, f"timed out after {timeout} s\n" + stderr[-3000:]
    finally:  # also when this process is interrupted: never leave the JVM behind
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if not lines:
        return None, proc.pid, f"exit {proc.returncode}\n" + stderr[-3000:]
    return json.loads(lines[-1]), proc.pid, stderr


def run_workload(a, cp):
    runs = os.path.join(build.BUILD, "runs")
    work = os.path.join(build.BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host = Host()
    try:
        res, pid, stderr = jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                                    "--seconds", str(a.seconds), "--trace", str(a.trace)],
                               work, RUN_TIMEOUT_S)
        hoststate = host.finish(pid)
        if res is None:
            res = {"attempted": 1, "failed": 1, "problems": ["run failed: " + stderr[-2000:]],
                   "e2e": {}, "layers": {}}
        if a.workload.startswith("corpus_curate") and res["e2e"]:
            t = time.time()
            matched, problems = oracle.check_dir(os.path.join(work, "corpus-out"))
            res["phases"]["oracle_s"] = time.time() - t
            res["attempted"] += len(matched)
            res["failed"] += sum(1 for ok in matched.values() if not ok)
            res["problems"] += problems
        spans = []
        if os.path.exists(os.path.join(work, "spans.json")):
            with open(os.path.join(work, "spans.json")) as f:
                spans = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["layers"].update(hoststate)
    os.makedirs(runs, exist_ok=True)
    record = dict(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
                  time=time.time(), host=hoststate, result=res, spans=spans)
    with open(os.path.join(runs, f"{int(time.time() * 1000)}-{a.workload}-{a.seed}-t{a.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1)
    return res, hoststate


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, _terminate)
    try:
        workloads, end_to_end, per_layer = load_spec()
    except (OSError, ValueError, KeyError) as e:
        print(f"perfbench: cannot read {SPEC}: {e}", file=sys.stderr)
        return 2
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=workloads + HAND_RUN)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload or --selftest is required")
    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    if a.selftest:
        work = os.path.join(build.BUILD, "work", f"selftest-{os.getpid()}")
        os.makedirs(work, exist_ok=True)
        try:
            res, _, stderr = jvm(cp, ["--workload", "selftest", "--seed", str(a.seed)], work, 600)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        fails = (res or {"failures": ["self-test JVM failed: " + stderr[-2000:]]})["failures"]
        fails += oracle.selftest()
        for f in fails:
            print("FAIL", f)
        print(json.dumps({"selftest": "fail" if fails else "pass", "failures": len(fails)}))
        return 1 if fails else 0

    res, hoststate = run_workload(a, cp)
    for p in res.get("problems", [])[:20]:
        print("problem:", p)
    print("host: " + json.dumps(hoststate))
    source = res["e2e"] if a.trace == 0 else res["layers"]
    names = end_to_end if a.trace == 0 else per_layer
    complete = a.trace == 1 or all(k in source for k in names)
    metrics = {k: {"value": float(source.get(k, 0.0)), "unit": u} for k, u in names.items()}
    print(json.dumps({"correct": res["failed"] == 0 and complete, "attempted": max(1, res["attempted"]),
                      "failed": res["failed"] if complete else max(1, res["failed"]),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
