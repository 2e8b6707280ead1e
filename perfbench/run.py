#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload serve|simjoin --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Builds the program from source first (see build.py), then runs one JVM:
Spark in local mode with one worker thread per two cores (at most 4),
driven by perfbench.Main. The JVM's standard output is relayed; its last line
is the JSON result. Spark's log goes to perfbench/out/<workload>.log.
Everything the run writes stays under perfbench/target and perfbench/out.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = build.HERE
OUT = os.path.join(HERE, "out")
WORKLOADS = ("serve", "simjoin")
RUN_TIMEOUT_S = 170
# what spark-submit would pass on JDK 17 (JavaModuleOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cores():
    """Spark worker threads: half the cores the process may use (1 to 4).
    The other half keeps the driver thread, the JIT compiler and the GC
    off the workers' cores, so a shared host's load moves the timings
    less."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(n // 2, 4))


def java_cmd(main, args):
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + ADD_OPENS +
            ["-Xms2g", "-Xmx2g", "-Xss4m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + tmp,
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
             "-Dspark.ui.enabled=false",
             "-cp", build.classpath(), main] + args)


def run_jvm(cmd, log_path):
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            sys.stderr.write(f"run exceeded {RUN_TIMEOUT_S}s; see {log_path}\n")
            out = None
        finally:
            # the JVM removes its work directory itself unless it was killed
            shutil.rmtree(os.path.join(OUT, f"work-{proc.pid}"), ignore_errors=True)
    return (1, "") if out is None else (proc.returncode, out)


def valid_result(line, trace):
    try:
        res = json.loads(line)
    except ValueError:
        return False
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        return False
    names = set(res["metrics"])
    return names == set(declared_metrics("per_layer" if trace else "end_to_end"))


def declared_metrics(kind):
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        return [m["name"] for m in json.load(fh)[kind]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    os.makedirs(OUT, exist_ok=True)
    try:
        build.build()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")

    if a.selftest:
        code, out = run_jvm(java_cmd("perfbench.SelfTest", []), os.path.join(OUT, "selftest.log"))
        sys.stdout.write(out)
        sys.exit(code)

    log_path = os.path.join(OUT, f"{a.workload}.log")
    code, out = run_jvm(java_cmd("perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--out", OUT, "--cores", str(cores())]), log_path)
    lines = out.rstrip("\n").split("\n")
    if code != 0 or not valid_result(lines[-1], a.trace):
        sys.stdout.write("\n".join(lines[:-1]) + "\n")
        sys.stderr.write(f"benchmark run failed (exit {code}); see {log_path}\n")
        sys.exit(code or 1)
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
