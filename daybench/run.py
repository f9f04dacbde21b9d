#!/usr/bin/env python3
"""Run one workload of the daily-pipeline benchmark.

    python3 daybench/run.py --workload daily_3c --seed 1 --seconds 30 --trace 0

Builds the program and the benchmark from source when they changed
(daybench/build.py), then runs daybench.DayBench in one JVM launched
directly, with the flags of tools/run_graft.sh and a fixed heap. The last
line of stdout is the result: {"correct", "attempted", "failed",
"metrics"}. Scratch data lives under <out>/daybench/run-<pid> and is
deleted afterwards; each run's environment and contention record and its
JVM log are kept in <out>/daybench/records/. <out> is $CARGO_TARGET_DIR, else .bench_build.

--smoke 1 runs a seconds-long configuration of the workload (the
benchmark's own tests use it).
"""
import argparse
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("daily_3c", "backfill_wide")
HEAP = "2g"
TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def jvm_command(classes, jars, sha, work, main_args):
    """The measured JVM: tools/run_graft.sh's flags and a fixed heap,
    committed up front so heap resizing after each System.gc() does not
    add page-fault CPU to the timed days. No perf-data file, so the JVM
    writes nothing outside the checkout."""
    flags = []
    for p in ADD_OPENS:
        flags += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    flags += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch",
              "-XX:-UsePerfData",
              "-Djava.io.tmpdir=" + work,
              "-Ddaybench.source=" + sha]
    resources = os.path.join(build.ROOT, "src", "main", "resources")
    cp = os.pathsep.join([classes, resources, os.path.join(jars, "*")])
    return [build.java()] + flags + ["-cp", cp, "daybench.DayBench",
                                     "--work", work] + main_args


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classes, sha = build.ensure_built()
        jars = build.spark_jars()
    except build.BuildError as e:
        print("daybench: %s" % e, file=sys.stderr)
        return 2

    base = os.path.join(build.out_dir(), "daybench")
    work = os.path.join(base, "run-%d" % os.getpid())
    name = "%s-seed%d-trace%d%s" % (args.workload, args.seed, args.trace,
                                    "-smoke" if args.smoke else "")
    record = os.path.join(base, "records", name + ".json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(os.path.dirname(record), exist_ok=True)
    log = os.path.join(base, "records", name + ".log")
    proc = None
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(
                jvm_command(classes, jars, sha, work, [
                    "--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds),
                    "--trace", str(args.trace), "--smoke", str(args.smoke),
                    "--record", record]),
                stdout=subprocess.PIPE, stderr=err, cwd=build.ROOT, text=True)
            out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("daybench: run exceeded %d s (log: %s)" % (TIMEOUT_S, log),
              file=sys.stderr)
        return 1
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        print("daybench: JVM exited %d without a result" % proc.returncode,
              file=sys.stderr)
        return 1
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
