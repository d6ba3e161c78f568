#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the harness (perfbench/harness/src) into one class directory, with the
Scala compiler that ships in Spark's jars. A build is skipped when the
sources have not changed since the last one.

Usage: python3 perfbench/build.py [checkout root]   (prints the class dir)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys


def spark_jars(root):
    """Spark's jar directory: the `unmanagedBase` that graft's build.sbt
    compiles against, else $SPARK_HOME/jars."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("perfbench: build.sbt names no unmanagedBase; set SPARK_HOME")


def sources(root):
    out = []
    for top in ("src/main/scala", "perfbench/harness/src"):
        for d, _, files in os.walk(os.path.join(root, top)):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def build(root):
    """Compile if needed; return the class directory."""
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src", "main")) for s in srcs):
        raise SystemExit("perfbench: no graft sources under src/main/scala")
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    out = os.path.join(build_dir(root), "classes")
    stamp_file = os.path.join(build_dir(root), "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    # records of runs of other sources are no baseline for this build's
    shutil.rmtree(os.path.join(build_dir(root), "runs"), ignore_errors=True)
    os.makedirs(out)
    cp = os.path.join(spark_jars(root), "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".")))
