#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program and the harness.

    python3 perfbench/build.py

Compiles the program's sources (src/main/scala) and then the harness
(perfbench/harness) with the Scala compiler that ships in the Spark jars
directory: $SPARK_HOME/jars, else the `unmanagedBase` the root build.sbt
names. Classes go to .bench_build/classes/{program,harness} at the checkout
root. Each step is skipped when a digest of its inputs matches the last
build.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
HARNESS_SRC = ROOT / "perfbench" / "harness"


def spark_jars():
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
        if not m:
            raise SystemExit("build: set SPARK_HOME; build.sbt names no unmanagedBase")
        jars = Path(m.group(1))
    if not list(jars.glob("spark-core_*.jar")):
        raise SystemExit(f"build: no Spark jars under {jars}")
    return jars


def sources(d):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def scalac(srcs, out, classpath, jars):
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out.with_name(out.name + ".args")
    argfile.write_text("\n".join(str(s) for s in srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", str(tmp), "@" + str(argfile)]
    res = subprocess.run(cmd, capture_output=True, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:] + res.stderr[-4000:])
        raise SystemExit(f"build: scalac failed for {out.name}")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)


def build():
    """Compile what changed; return the runtime classpath."""
    if not PROGRAM_SRC.is_dir() or not sources(PROGRAM_SRC):
        raise SystemExit(f"build: no program sources under {PROGRAM_SRC}")
    jars = spark_jars()
    jar_cp = ":".join(str(j) for j in sorted(jars.glob("*.jar")))
    classes = BUILD / "classes"
    classes.mkdir(parents=True, exist_ok=True)
    program, harness = classes / "program", classes / "harness"
    steps = [
        (program, sources(PROGRAM_SRC), jar_cp),
        (harness, sources(HARNESS_SRC), f"{program}:{jar_cp}"),
    ]
    upstream = ""
    for out, srcs, cp in steps:
        stamp = digest(srcs, upstream + jar_cp)
        stamp_file = out.with_name(out.name + ".stamp")
        if not (out.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp):
            scalac(srcs, out, cp, jars)
            stamp_file.write_text(stamp)
        upstream = stamp
    return f"{harness}:{program}:{jars / '*'}"


def source_digest():
    """Digest of the program sources: the program's identity when the
    checkout is not a git repository."""
    return digest(sources(PROGRAM_SRC))[:16]


if __name__ == "__main__":
    print(build())
