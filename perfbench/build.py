#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources
(src/main/scala) together with the benchmark's own (perfbench/src) using
the Scala compiler that ships in Spark's jars directory, into
<build dir>/classes. A stamp of the source contents makes a repeat build a
no-op.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    jars = os.path.join(home, "jars") if home else ""
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("graftbench: no Spark jars directory with a Scala compiler "
                         "(set SPARK_HOME)")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise SystemExit("graftbench: engine sources (src/main/scala) not found")
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    resources = sorted(p for p in glob.glob(os.path.join(ROOT, "src/main/resources/**"),
                                            recursive=True) if os.path.isfile(p))
    return engine + bench, resources


def build():
    """Compile if the sources changed; return the classes directory."""
    srcs, resources = sources()
    h = hashlib.sha256()
    for p in srcs + resources:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return out, stamp
    jars = spark_jars()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir(), "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-cp", cp, "-d", tmp, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=800)
    if res.returncode != 0:
        sys.stderr.write(res.stdout.decode(errors="replace")[-4000:])
        raise SystemExit("graftbench: compilation failed")
    res_root = os.path.join(ROOT, "src/main/resources")
    for p in resources:
        dest = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.copyfile(p, dest)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return out, stamp


if __name__ == "__main__":
    print(build()[0])
