"""Build file of the benchmark package: compiles the program
(src/main/scala, src/main/resources) together with the harness
(perfbench/src) into BUILD_DIR/classes with the Scala compiler that
ships with Spark. A stamp of the sources' hash skips rebuilds.

    python3 perfbench/build.py          # prints the classes dir

BUILD_DIR is $CARGO_TARGET_DIR if set (relative to the repo root),
else .bench_build. Spark's jars come from $SPARK_HOME/jars, else from
the dir the repo's build.sbt names as `unmanagedBase`.
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(sbt).read()) if os.path.exists(sbt) else None
        if not m:
            raise SystemExit("perfbench: set SPARK_HOME or name Spark's jars in build.sbt")
        jars = m.group(1)
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: Spark jars not found under {jars}")
    return jars


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    out = []
    for r in roots:
        if not os.path.isdir(r):
            raise SystemExit(f"perfbench: source dir {os.path.relpath(r, ROOT)} missing")
        for dp, _, fs in os.walk(r):
            out += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def resources():
    r = os.path.join(ROOT, "src", "main", "resources")
    out = []
    if os.path.isdir(r):
        for dp, _, fs in os.walk(r):
            out += [os.path.join(dp, f) for f in fs]
    return r, sorted(out)


def build():
    """compile if the sources changed; returns the classes dir"""
    jars = spark_jars()
    srcs = sources()
    res_root, res = resources()
    h = hashlib.sha256()
    for f in srcs + res:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "perfbench")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
           "-cp", cp, "scala.tools.nsc.Main",
           "-d", classes, "-classpath", cp, "-nowarn", "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-20000:])
        raise SystemExit("perfbench: compile failed")
    for f in res:
        dst = os.path.join(classes, os.path.relpath(f, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
