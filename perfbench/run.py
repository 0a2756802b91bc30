#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload ingest|batch --seed N \
      --seconds S --trace 0|1

Builds the engine and the benchmark from source on first use (see
build.py), then runs the workload in a fresh JVM on plain `java -cp`.
Stores and inputs live under the run's own java.io.tmpdir inside the build
directory and are deleted when the run ends. The full record of the run
(per-op rows, nproc, heap, Spark version, commit, seed, input fingerprints)
is written to <build dir>/records/; the last stdout line is the compact
result: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

JVM_TIMEOUT_S = 170

# the module-opens set Spark's own launcher adds on Java 17
OPENS = [
    "--add-opens=java.base/java.lang=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.reflect=ALL-UNNAMED",
    "--add-opens=java.base/java.io=ALL-UNNAMED",
    "--add-opens=java.base/java.net=ALL-UNNAMED",
    "--add-opens=java.base/java.nio=ALL-UNNAMED",
    "--add-opens=java.base/java.util=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED",
    "--add-opens=java.base/jdk.internal.ref=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.cs=ALL-UNNAMED",
    "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
    "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
    "--add-exports=java.base/sun.nio.ch=ALL-UNNAMED",
    "-Djdk.reflect.useDirectMethodHandle=false",
    "-Dio.netty.tryReflectionSetAccessible=true",
]


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        if out.returncode == 0:
            return out.stdout.decode().strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "batch"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    # input size multiplier, for measuring a workload's fixed-cost share
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()

    classes, stamp = build.build()
    jars = build.spark_jars()
    bdir = build.build_dir()
    tag = "%s-seed%d-trace%s-%d-%d" % (a.workload, a.seed, a.trace, int(time.time()), os.getpid())
    run_dir = os.path.join(bdir, "runs", tag)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    record = os.path.join(bdir, "records", tag + ".json")
    meta = json.dumps({"git_commit": commit(), "source_stamp": stamp})
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-Xms4g", "-Xmx4g", "-XX:+UseG1GC", "-XX:-UsePerfData"] + OPENS + [
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.local.dir=" + os.path.join(tmp, "spark"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
        "-Dderby.system.home=" + os.path.join(tmp, "derby"),
        "-Dspark.ui.enabled=false",
        "-cp", classes + os.pathsep + os.path.join(jars, "*"),
        "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--record", record, "--meta", meta, "--scale", repr(a.scale)])
    log_path = os.path.join(run_dir, "jvm.log")
    proc = None
    # a terminated run stops its JVM too (see the finally below)
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    try:
        with open(log_path, "wb") as log:
            proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=log)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                sys.stderr.write("graftbench: run exceeded %d s\n" % JVM_TIMEOUT_S)
                return 1
        lines = [l for l in out.decode(errors="replace").splitlines() if l.startswith("{")]
        if proc.returncode != 0 or not lines:
            with open(log_path, "rb") as f:
                sys.stderr.write(f.read().decode(errors="replace")[-6000:])
            sys.stderr.write("graftbench: JVM exited with %d\n" % proc.returncode)
            return 1
        result = json.loads(lines[-1])
        print(json.dumps(result, separators=(",", ":")))
        return 0 if result.get("correct") else 1
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
