#!/usr/bin/env python3
"""Build file of the benchmark client.

    python3 perfbench/build.py        # prints the JVM classpath

Compiles the engine's main sources (src/main/scala) together with the client
(perfbench/src/main/scala) with the Scala compiler that ships among the Spark
jars the root build.sbt names as its unmanagedBase, so both builds use the
same jars. It needs no build tool, no dependency cache and no network, and
writes only under perfbench/target. A build is redone only when a source or
the root build.sbt changed.
"""
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
BUILD_TIMEOUT_S = 600
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")]


def jars_dir():
    """The Spark jars directory of the root build (its unmanagedBase)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase")
    return m.group(1)


def sources():
    return sorted(p for d in SOURCE_DIRS for p in glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _fingerprint(files):
    h = hashlib.sha1()
    for p in files:
        with open(p, "rb") as f:
            h.update(p.encode() + b"\0" + hashlib.sha1(f.read()).digest())
    return h.hexdigest()


def build(log=lambda msg: print(msg, file=sys.stderr, flush=True)):
    """Compile when needed; return the JVM classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources (src/main/scala/graft) not found: run from the repository root")
    jars = jars_dir()
    srcs = sources()
    classes = os.path.join(TARGET, "classes")
    cp = os.pathsep.join([classes, os.path.join(jars, "*")])
    stamp = os.path.join(TARGET, "build.json")
    fp = _fingerprint(srcs + [os.path.join(ROOT, "build.sbt")])
    if os.path.exists(stamp) and os.path.isdir(classes):
        with open(stamp) as f:
            if json.load(f).get("fingerprint") == fp:
                return cp
    compiler = [j for name in ("scala-compiler", "scala-library", "scala-reflect")
                for j in glob.glob(os.path.join(jars, f"{name}-2.13.*.jar"))]
    if len(compiler) != 3:
        raise SystemExit(f"no Scala 2.13 compiler among the jars in {jars}")
    log(f"compiling {len(srcs)} sources (scalac) ...")
    t0 = time.time()
    out = os.path.join(TARGET, "classes.new")
    tmp = os.path.join(TARGET, "tmp")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    os.makedirs(tmp, exist_ok=True)
    libs = sorted(glob.glob(os.path.join(jars, "*.jar")))
    args = os.path.join(TARGET, "scalac.args")
    with open(args, "w") as f:
        f.writelines(f"{a}\n" for a in ["-nowarn", "-d", out, "-classpath", os.pathsep.join(libs), *srcs])
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", f"@{args}"]
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                         stdin=subprocess.DEVNULL)
    try:
        output, _ = p.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit("build timed out")
    if p.returncode != 0:
        log(output[-6000:])
        raise SystemExit("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(out, classes)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp}, f)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


if __name__ == "__main__":
    print(build())
