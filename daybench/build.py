#!/usr/bin/env python3
"""Build file of the daily-pipeline benchmark.

Compiles the program's Scala sources (src/main/scala) together with the
benchmark's own (daybench/src) into <out>/daybench/classes with the
Scala compiler that ships in Spark's jars directory, so neither sbt nor a
network is needed. A stamp of the source digest skips the compile when
nothing changed.

    python3 daybench/build.py     # into $CARGO_TARGET_DIR, else .bench_build
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark jars directory with a Scala compiler "
                         "(set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java found (set JAVA_HOME)")
    return exe


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala",
                                            "**", "*.scala"), recursive=True))
    if not any(p.endswith(os.path.join("graft", "Pipeline.scala"))
               for p in program):
        raise BuildError("program sources (src/main/scala/graft/Pipeline."
                         "scala) not found under " + ROOT)
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                             recursive=True))
    return program + bench


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def out_dir():
    out = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return out if os.path.isabs(out) else os.path.join(ROOT, out)


def ensure_built():
    """Compile if the sources changed; return (classes dir, source digest)."""
    srcs = sources()
    jars = spark_jars()
    base = os.path.join(out_dir(), "daybench")
    classes = os.path.join(base, "classes")
    stamp = os.path.join(base, "classes.sha256")
    sha = digest(srcs)
    if os.path.isdir(classes) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == sha:
                return classes, sha
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    if os.path.exists(stamp):
        os.remove(stamp)
    argfile = os.path.join(base, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join('"%s"' % s for s in srcs))
    cp = os.path.join(jars, "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main",
           "-nowarn", "-deprecation:false", "-classpath", cp,
           "-d", classes, "@" + argfile]
    log = os.path.join(base, "scalac.log")
    with open(log, "w") as lf:
        rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             cwd=ROOT)
    if rc != 0:
        with open(log) as lf:
            tail = lf.read()[-3000:]
        raise BuildError("scalac failed (%d):\n%s" % (rc, tail))
    with open(stamp, "w") as f:
        f.write(sha + "\n")
    return classes, sha


def main():
    try:
        classes, _ = ensure_built()
    except BuildError as e:
        print("build: %s" % e, file=sys.stderr)
        return 2
    print(classes)
    return 0


if __name__ == "__main__":
    sys.exit(main())
