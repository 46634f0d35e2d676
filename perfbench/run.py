"""Benchmark entry point.

    python3 perfbench/run.py --workload <ingest|qa|kgqa> --seed <n> \
        --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Builds the program and the harness from source (perfbench/build.py), runs
one workload in a fresh JVM from the root of the checkout, and prints the
harness's JSON result as the last line of stdout. Everything the run writes
stays under .bench_build/ in the checkout; the run's own work directory is
removed when it ends. The full report of a run (every metric, latencies and,
with --trace 1, the span summary) is kept under .bench_build/reports/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def jvm(classes, work, main, args):
    """Runs `main` with the built classes; returns (exit code, stdout)."""
    opens = [x for p in JVM_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java()] + opens + [
        "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
        "-Dlog4j2.configurationFile=" + os.path.join(build.ROOT, "perfbench", "log4j2.properties"),
        "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
        main] + args
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        sys.stderr.write("perfbench: run exceeded %d s\n" % RUN_TIMEOUT_S)
        return 1, ""
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")

    classes = build.build()
    work = os.path.join(build.BUILD, "work-%d" % os.getpid())
    try:
        if a.self_test:
            code, out = jvm(classes, work, "perfbench.SelfTest", [work])
            sys.stdout.write(out)
            return code
        reports = os.path.join(build.BUILD, "reports")
        os.makedirs(reports, exist_ok=True)
        report = os.path.join(reports, "%s-seed%d-trace%s.json" % (a.workload, a.seed, a.trace))
        code, out = jvm(classes, work, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--report", report])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [line for line in out.splitlines() if line.strip()]
    if code != 0 or not lines:
        sys.stderr.write(out)
        sys.stderr.write("perfbench: harness failed (exit %d)\n" % code)
        return code or 1
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        sys.stderr.write("perfbench: malformed result line\n")
        return 1
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
