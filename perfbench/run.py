#!/usr/bin/env python3
"""graft's benchmark: one workload per call.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1 [--trace-out FILE]

Run from the root of a graft checkout. The first call builds the benchmark
(perfbench/build.py compiles graft's sources with the benchmark's own); later
calls reuse the build while no source file changed. Each call runs one JVM
with local[2], writes every input and all Spark scratch under
.perfbench_tmp/ in the checkout, deletes that directory again, and prints
the result object as the last line of stdout:

    {"correct": true, "attempted": 12, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. See perfbench/NOTES.md for the workloads and metrics.

Maintenance entry points:
    --record W   record the suite workload W's expected outputs (two runs)
    --selftest   check that the generators are deterministic and that the
                 inference checks reject a wrong witness
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

from build import BENCH, ROOT, build, java

WORKLOADS = ["infer_ndjson", "infer_wide_grouped", "suite_sf001"]
JVM_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run_jvm(classpath, args, tmp):
    """Run perfbench.Main with `args`; returns its result object or None."""
    out = tmp / "result.json"
    cmd = ([java(), f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp / 'jtmp'}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--root", str(tmp), "--out", str(out)] + args)
    (tmp / "jtmp").mkdir(parents=True, exist_ok=True)
    logf = tmp / "jvm.log"
    with open(logf, "w") as lf:
        try:
            r = subprocess.run(cmd, cwd=tmp, stdin=subprocess.DEVNULL, stdout=lf, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    lines = logf.read_text(errors="replace").splitlines()
    for line in lines:
        if line.startswith("perfbench:"):
            print(line, file=sys.stderr)
    if code != 0 or not out.is_file():
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        log(f"JVM exited with {code}")
        return None
    return json.loads(out.read_text())


def record(classpath, workload, tmp):
    """Run W twice; keep each query's digest only where both runs agree."""
    runs = []
    for i in range(2):
        f = tmp / f"record{i}.tsv"
        if run_jvm(classpath, ["--workload", workload, "--seed", "0", "--seconds", "0", "--trace", "0",
                               "--record", str(f)], tmp) is None:
            return 1
        runs.append([l.split("\t") for l in f.read_text().splitlines() if l])
    lines = [f"# {workload}: query, rows, order-insensitive row digest ('-': digest did not repeat)"]
    for a, b in zip(*runs):
        if len(a) != 3 or len(b) != 3 or a[:2] != b[:2]:
            log(f"{a[0]}: failed, or row counts differ between recordings ({a[1:]} vs {b[1:]})")
            return 1
        (q, n1, h1), (_, _, h2) = a, b
        lines.append(f"{q}\t{n1}\t{h1 if h1 == h2 else '-'}")
    dest = BENCH / "expected" / f"{workload}.tsv"
    dest.parent.mkdir(exist_ok=True)
    dest.write_text("\n".join(lines) + "\n")
    log(f"wrote {dest.relative_to(ROOT)}")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--trace-out", help="write the traced run's spans here (TSV)")
    ap.add_argument("--record", choices=WORKLOADS[2:])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not (a.workload or a.record or a.selftest):
        ap.error("one of --workload, --record, --selftest is required")

    classpath = build()
    scratch = ROOT / ".perfbench_tmp"
    tmp = scratch / f"run-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    try:
        if a.record:
            return record(classpath, a.record, tmp)
        if a.selftest:
            res = run_jvm(classpath, ["--workload", "selftest", "--seed", str(a.seed), "--seconds", "0",
                                      "--trace", "0"], tmp)
            return 0 if res and res.get("correct") else 1
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", a.trace, "--expected", str(BENCH / "expected")]
        if a.trace_out:
            args += ["--trace-out", str(Path(a.trace_out).resolve())]
        res = run_jvm(classpath, args, tmp)
        if res is None:
            return 1
        print(json.dumps(res))
        return 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            scratch.rmdir()
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
