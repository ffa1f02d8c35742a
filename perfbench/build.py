#!/usr/bin/env python3
"""The benchmark's build: compiles graft's sources (src/main/scala) together
with the benchmark's own (perfbench/src) into perfbench/target/classes.

    python3 perfbench/build.py     # prints the run's class path

It needs only a JDK and a Spark distribution: the Scala compiler is the
scala-compiler jar that Spark ships in its jar directory, and that same
directory is the compile and the run class path. No build tool, repository
or cache outside the checkout is used, and everything the build writes stays
under perfbench/target. A build is skipped while the digest of the sources,
this file and the jar directory is the one the last build recorded.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
CLASSES = TARGET / "classes"
STAMP = TARGET / "build.stamp"
TIMEOUT_S = 600


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def java():
    """The java launcher: $JAVA_HOME/bin/java, else java on PATH."""
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").is_file():
        return str(Path(home) / "bin" / "java")
    found = shutil.which("java")
    if not found:
        raise SystemExit("perfbench: no java found (set JAVA_HOME)")
    return found


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the distribution of
    spark-submit on PATH, else the directory graft's own build.sbt names as
    its unmanagedBase."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    root_build = ROOT / "build.sbt"
    if root_build.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', root_build.read_text())
        if m:
            candidates.append(Path(m.group(1)))
    for jars in candidates:
        if jars.is_dir() and any(jars.glob("spark-core_*.jar")) and any(jars.glob("scala-compiler-*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def sources():
    trees = [ROOT / "src" / "main" / "scala", BENCH / "src"]
    return [p for t in trees for p in sorted(t.rglob("*")) if p.is_file() and p.suffix in (".scala", ".java")]


def stamp(jars, srcs):
    h = hashlib.sha256(str(jars).encode())
    for f in [Path(__file__).resolve()] + srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile unless the last build saw the same inputs; returns the class path."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit("perfbench: graft sources not found under src/main/scala; run from a graft checkout")
    jars = spark_jars()
    classpath = os.pathsep.join([str(CLASSES)] + sorted(str(j) for j in jars.glob("*.jar")))
    srcs = sources()
    digest = stamp(jars, srcs)
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == digest:
        return classpath
    log(f"building: scalac over {len(srcs)} files")
    shutil.rmtree(TARGET, ignore_errors=True)
    tmp = TARGET / "tmp"
    for d in (CLASSES, tmp):
        d.mkdir(parents=True)
    argfile = TARGET / "sources.txt"
    argfile.write_text("\n".join(f'"{s}"' for s in srcs) + "\n")
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", classpath, "scala.tools.nsc.Main",
           "-d", str(CLASSES), "-classpath", classpath, "-nowarn", f"@{argfile}"]
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: build took longer than {TIMEOUT_S} s")
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: build failed")
    shutil.rmtree(tmp, ignore_errors=True)
    STAMP.write_text(digest)
    return classpath


if __name__ == "__main__":
    print(build())
