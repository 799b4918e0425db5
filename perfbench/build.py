#!/usr/bin/env python3
"""Build step of the graft benchmark.

    python3 perfbench/build.py

Compiles graft's sources (src/main/scala, with src/main/resources) and
the harness (perfbench/scala) with the Scala compiler that ships with
Spark into .bench_build/perfbench/<digest>/classes, or under
$CARGO_TARGET_DIR when that is set. The digest covers every source and
resource file and the Spark jar names, so a build is reused until one of
them changes. Prints the classes directory.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_TIMEOUT_S = 800


def fail(msg):
    print(f"perfbench error: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the unmanagedBase
    the sbt build declares."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("no Spark jars: set SPARK_HOME")


def source_files():
    main = os.path.join(ROOT, "src", "main")
    scala = sorted(glob.glob(os.path.join(main, "scala", "**", "*.scala"), recursive=True))
    if not scala:
        fail(f"no graft sources under {os.path.relpath(main, ROOT)}")
    scala += sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    res = sorted(p for p in glob.glob(os.path.join(main, "resources", "**", "*"), recursive=True)
                 if os.path.isfile(p))
    return scala, res


def build(jars):
    """Compile graft + harness once per source digest; return (classes, digest)."""
    scala, res = source_files()
    h = hashlib.sha256()
    for p in scala + res:
        h.update(os.path.relpath(p, ROOT).encode())
        h.update(open(p, "rb").read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    digest = h.hexdigest()[:16]
    base = os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build")
    if not os.path.isabs(base):
        base = os.path.join(ROOT, base)
    out = os.path.join(base, "perfbench", digest)
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes, digest
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar"))
                for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        fail("no Scala 2.13 compiler jars next to Spark")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", classes] + scala
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    main_res = os.path.join(ROOT, "src", "main", "resources")
    for p in res:
        dst = os.path.join(classes, os.path.relpath(p, main_res))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    open(os.path.join(out, "ok"), "w").write(f"{time.time() - t0:.1f}\n")
    print(f"perfbench built {digest} in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes, digest


if __name__ == "__main__":
    print(build(spark_jars())[0])
