#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload graph_distributed --seed 1 --seconds 5 --trace 0

Run from the repository root. Builds the program and the harness on first
use (see build.py), starts one JVM with Spark `local[4]`, and prints as its
last stdout line {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics of BENCHMARK.json with --trace 0, the per-layer metrics
with --trace 1. `--workload all` runs every workload of BENCHMARK.json in
turn, each in its own JVM, and prints their lines in order. The full
record, stamped with its run context, is kept in .bench_build/results/; a
traced run also writes its span tree to .bench_build/traces/. Exits
non-zero when a correctness check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

DRIVER_HEAP = "3g"
JVM_TIMEOUT_S = 165
SHM = "/dev/shm"
REPLAY_PREFIX = "graft-replay-"

# Spark 4 on JDK 17 outside spark-submit needs these (see build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def replay_dirs():
    try:
        return {n for n in os.listdir(SHM) if n.startswith(REPLAY_PREFIX)}
    except OSError:
        return set()


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                             timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def benchmark_spec():
    with open("BENCHMARK.json") as fh:
        return json.load(fh)


def expected_metrics(trace):
    spec = benchmark_spec()
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def workload_names():
    return [w["name"] for w in benchmark_spec()["workloads"]]


def java_cmd(classpath, run_dir, main_args):
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    return (["java"] + opts + [
        f"-Xmx{DRIVER_HEAP}", f"-Xms{DRIVER_HEAP}", "-XX:+UseG1GC",
        f"-Djava.io.tmpdir={run_dir}/tmp",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={run_dir}/local",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        f"-Dderby.system.home={run_dir}/derby",
        "-cp", classpath, "perfbench.PerfBench"] + main_args)


def run_jvm(cmd, log_path):
    """Runs the JVM in its own process group; kills the group on timeout."""
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            log(f"JVM exceeded {JVM_TIMEOUT_S} s and was killed")
            return -1
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def run_workload(workload, seed, seconds, trace, expected, classpath, program_fp):
    """Runs one workload in its own JVM; prints its context and result lines."""
    bdir = os.path.abspath(build.BUILD_DIR)
    tag = f"{workload}-seed{seed}-trace{trace}"
    run_dir = os.path.join(bdir, "runs", f"{tag}-{os.getpid()}")
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    out = os.path.join(bdir, "results", f"{tag}.json")
    spans = os.path.join(bdir, "traces", f"{workload}-seed{seed}.spans.jsonl")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--out", out,
            "--context", f"commit={commit()}", "--context", f"program_sha256={program_fp}",
            "--context", f"host_load_avg_start={os.getloadavg()[0]}"]
    if trace:
        args += ["--spans", spans]

    shm_before = replay_dirs()
    log_path = os.path.join(bdir, "results", f"{tag}.log")
    try:
        code = run_jvm(java_cmd(classpath, run_dir, args), log_path)
    finally:
        # the harness measured (streaming.ckpt_leak_mb) what the program's
        # replay harnesses left in /dev/shm; remove it so runs stay isolated
        for name in replay_dirs() - shm_before:
            shutil.rmtree(os.path.join(SHM, name), ignore_errors=True)
        shutil.rmtree(run_dir, ignore_errors=True)

    if code != 0 or not os.path.exists(out):
        log(f"JVM exited with {code}; last lines of {log_path}:")
        with open(log_path, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        return 1
    with open(out) as fh:
        record = json.load(fh)

    got = {n: m["unit"] for n, m in record["metrics"].items()}
    if got != expected:
        log(f"emitted metrics do not match BENCHMARK.json: "
            f"missing {sorted(set(expected) - set(got))}, "
            f"extra {sorted(set(got) - set(expected))}, "
            f"unit mismatches {sorted(n for n in got if n in expected and got[n] != expected[n])}")
        return 1
    for f in record["failures"]:
        log(f"CHECK FAILED: {f}")
    print(json.dumps({"context": record["context"], "pass_quartiles_s": record["pass_quartiles_s"],
                      "warmup_passes_s": record["warmup_passes_s"],
                      "call_median_s": record["call_median_s"]}))
    print(json.dumps({k: record[k] for k in ("correct", "attempted", "failed", "metrics")}),
          flush=True)
    return 0 if record["correct"] else 1


def main():
    # a SIGTERM unwinds through run_jvm, which then kills the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    help="a workload of BENCHMARK.json, or 'all' to run each in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        expected = expected_metrics(a.trace)
        workloads = [a.workload] if a.workload != "all" else workload_names()
        classpath, program_fp = build.build()
    except (OSError, ValueError, KeyError, build.BuildError) as e:
        log(f"cannot run: {e}")
        return 1
    return max(run_workload(w, a.seed, a.seconds, a.trace, expected, classpath, program_fp)
               for w in workloads)


if __name__ == "__main__":
    sys.exit(main())
