#!/usr/bin/env python3
"""Benchmark of the graft ELB pipeline. Run from the root of a checkout:

    python3 perfbench/run.py --workload elb_warm --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Builds the library and the benchmark (perfbench/build.py), then runs one
JVM at local[4] for the workload. The last line of standard output is one
JSON object: correct, attempted, failed and metrics. Everything the run
writes stays under $CARGO_TARGET_DIR (default .bench_build) in the checkout;
the traced run leaves its spans and its where-the-time-goes table in
<that dir>/perfbench/reports. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("elb_warm", "elb_geo_cold")
TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap():
    """Half the machine's memory in whole GiB, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_jvm(classes, main, args, work, log_path):
    mem = heap()
    cmd = [build.java(), f"-Xmx{mem}", f"-Xms{mem}", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + build.spark_jars(), main] + args
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None, f"timed out after {TIMEOUT_S} s"
    if proc.returncode != 0:
        return None, f"exit code {proc.returncode}"
    return out, None


def tail(path, n=30):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    out = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench"))
    os.makedirs(out, exist_ok=True)
    classes = build.build(out)

    name = "selftest" if a.selftest else f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(out, "work-" + name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log_path = os.path.join(out, name + ".log")
    try:
        if a.selftest:
            stdout, err = run_jvm(classes, "graftbench.SelfTest", ["--work", work], work, log_path)
        else:
            stdout, err = run_jvm(classes, "graftbench.BenchMain", [
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--reports", os.path.join(out, "reports"),
            ], work, log_path)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    summary = [l for l in open(log_path, errors="replace") if l.startswith(("[graftbench]", "[selftest]"))]
    sys.stderr.write("".join(summary))
    if err:
        sys.stderr.write(tail(log_path))
        sys.exit(f"perfbench: {name} failed: {err}; log at {log_path}")
    if a.selftest:
        return
    lines = stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit(f"perfbench: {name} printed no result; log at {log_path}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
