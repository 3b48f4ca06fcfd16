#!/usr/bin/env python3
"""Pipeline benchmark: file-to-loaded-rows latency of the price-zone and
PA pipelines (see perfbench/README.md).

    python3 perfbench/run.py --workload bulk|arrivals --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test
    python3 perfbench/run.py --record-gates   # rewrites perfbench/gates.expected

Builds the engine from source on first use (build.py), then runs one JVM
with one local[$SPARK_GRAFT_CPUS] Spark session (default 4 cores) and
prints the result as the last line of standard output. Everything it
writes stays under perfbench/: .build (classes), .work (per-run inputs,
outputs and Derby home, deleted at exit) and .out (JVM logs, traces).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import build

WORKLOADS = ("bulk", "arrivals")
# JDK 17 needs these for Spark when it is not launched by spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# The JVM gets this long beyond the measured seconds for set-up, checks
# and, in a traced run, the gate sample.
SLACK_SECONDS = 150


def jvm(built, main, args, work, log, timeout):
    classes, jars = built
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java(), "-Xmx3g", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), main] + args
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            print(f"perfbench: JVM exceeded {timeout}s; log in {log}", file=sys.stderr)
            return 124, ""
        finally:
            if proc.poll() is None:  # timed out or interrupted: stop the JVM too
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record-gates", action="store_true")
    args = ap.parse_args()
    if not (args.self_test or args.record_gates) and args.workload is None:
        ap.error("--workload is required")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    built = build.ensure_built()  # the first run in a checkout compiles; not timed
    started = time.time()
    work = os.path.join(build.HERE, ".work", f"run-{os.getpid()}")
    out_dir = os.path.join(build.HERE, ".out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.self_test:
            code, out = jvm(built, "perfbench.SelfTest", ["--work", work], work,
                            os.path.join(out_dir, "self-test.log"), 600)
            sys.stdout.write(out)
            return code
        if args.record_gates:
            code, out = jvm(built, "perfbench.Gates",
                            ["--work", work, "--out", os.path.join(build.HERE, "gates.expected")], work,
                            os.path.join(out_dir, "record-gates.log"), 900)
            sys.stdout.write(out)
            return code
        name = f"{args.workload}-{args.seed}-{args.trace}"
        jargs = ["--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
                 "--gates-expected", os.path.join(build.HERE, "gates.expected")]
        if args.trace:
            jargs += ["--trace-out", os.path.join(out_dir, f"trace-{name}.json")]
        code, out = jvm(built, "perfbench.Main", jargs, work, os.path.join(out_dir, f"{name}.log"),
                        args.seconds + SLACK_SECONDS)
        lines = out.strip().splitlines()
        if code != 0 or not lines:
            print(f"perfbench: run failed (exit {code})", file=sys.stderr)
            return code or 1
        result = json.loads(lines[-1])
        for line in lines[:-1]:
            print(line, file=sys.stderr)
        print(f"perfbench: {name} took {time.time() - started:.1f}s", file=sys.stderr)
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
