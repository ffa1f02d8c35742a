#!/usr/bin/env python3
"""Collect and compare sets of benchmark runs.

Collect a run set (one JSON line per run: workload, seed, result):

    python3 perfbench/compare.py collect OUT.jsonl [--workloads W ...] [--seeds 1-10] [--trace 0]

Summarize one set (median, quartiles, spread = (Q3 - Q1) / median, checked
against a third of each metric's bound), or compare a parent set with a
change set:

    python3 perfbench/compare.py summary RUNS.jsonl
    python3 perfbench/compare.py compare PARENT.jsonl CHANGE.jsonl

For every workload x end-to-end metric, `compare` prints both medians and
quartiles, the pairs the change won (runs are paired by seed), and a verdict:

  gain        the change wins at least 9/10 of the pairs and its median is
              better by more than the parent's own quartile spread
  regression  the change's median is worse than the parent's by more than the
              metric's bound
  unresolved  the parent's spread is wider than the bound and not every change
              run beats every parent run
  same        none of the above
  missing     one side has no value for this workload or metric

Quartiles are Python's statistics.quantiles(values, n=4). Metrics, directions
and bounds come from BENCHMARK.json; a metric, workload or field missing on
either side is reported, never fatal.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spec():
    try:
        b = json.loads((ROOT / "BENCHMARK.json").read_text())
    except (OSError, ValueError):
        b = {}
    return b


def load(path):
    runs = []
    for n, line in enumerate(Path(path).read_text().splitlines(), 1):
        if not line.strip():
            continue
        try:
            r = json.loads(line)
        except ValueError:
            print(f"{path}:{n}: not JSON, skipped", file=sys.stderr)
            continue
        if isinstance(r, dict):
            runs.append(r)
    return runs


def values(runs, workload, metric):
    """(seed, value) of every run of `workload` that reports `metric`."""
    out = []
    for r in runs:
        if r.get("workload") != workload:
            continue
        m = ((r.get("result") or {}).get("metrics") or {}).get(metric)
        v = m.get("value") if isinstance(m, dict) else m
        if isinstance(v, (int, float)):
            out.append((r.get("seed"), float(v)))
    return out


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def metric_specs(b, runs):
    named = {m["name"]: m for m in b.get("end_to_end", []) if isinstance(m, dict) and "name" in m}
    seen = set()
    for r in runs:
        seen.update(((r.get("result") or {}).get("metrics") or {}).keys())
    for name in sorted(seen - named.keys()):
        named[name] = {"name": name, "better": "lower", "bound": None}
    return list(named.values())


def workloads_of(b, runs):
    names = [w["name"] for w in b.get("workloads", []) if isinstance(w, dict) and "name" in w]
    for r in runs:
        w = r.get("workload")
        if w and w not in names:
            names.append(w)
    return names


def fmt(x):
    return "-" if x is None else f"{x:.4g}"


def summary(args):
    b = spec()
    runs = load(args.runs)
    bad = 0
    print(f"{'workload':20} {'metric':14} {'n':>3} {'median':>10} {'Q1':>10} {'Q3':>10} {'spread':>7} {'bound/3':>7}")
    for w in workloads_of(b, runs):
        for m in metric_specs(b, runs):
            vs = [v for _, v in values(runs, w, m["name"])]
            if not vs:
                continue
            q1, med, q3 = quartiles(vs)
            spread = (q3 - q1) / med if med else float("inf")
            limit = m.get("bound") / 3 if m.get("bound") else None
            flag = ""
            if limit is not None and spread > limit:
                flag = "  <-- above a third of the bound"
                bad += 1
            print(f"{w:20} {m['name']:14} {len(vs):>3} {fmt(med):>10} {fmt(q1):>10} {fmt(q3):>10} "
                  f"{spread:>7.3f} {fmt(limit):>7}{flag}")
    fails = [r for r in runs if not (r.get("result") or {}).get("correct", False)]
    if fails:
        print(f"{len(fails)} run(s) reported incorrect output or failed")
    return 1 if bad or fails else 0


def compare(args):
    b = spec()
    parent, change = load(args.parent), load(args.change)
    shared = [w for w in workloads_of(b, parent) if w in workloads_of(b, change)]
    if not shared:
        print("the two sets share no workloads; nothing to compare")
        return 0
    print(f"{'workload':20} {'metric':14} {'parent med [Q1,Q3]':>30} {'change med [Q1,Q3]':>30} "
          f"{'won':>7} {'verdict':>11}")
    worst = 0
    for w in workloads_of(b, parent + change):
        for m in metric_specs(b, parent + change):
            a, c = values(parent, w, m["name"]), values(change, w, m["name"])
            if not a or not c:
                if a or c:
                    print(f"{w:20} {m['name']:14} {'missing':>30}")
                continue
            lower = m.get("better", "lower") == "lower"
            better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
            aq, cq = quartiles([v for _, v in a]), quartiles([v for _, v in c])
            by_seed = {s: v for s, v in a if s is not None}
            pairs = [(by_seed[s], v) for s, v in c if s in by_seed]
            if not pairs:
                pairs = list(zip([v for _, v in a], [v for _, v in c]))
            won = sum(1 for x, y in pairs if better(y, x))
            gap = abs(cq[1] - aq[1])
            bound = m.get("bound")
            worse_by = ((cq[1] - aq[1]) if lower else (aq[1] - cq[1])) / aq[1] if aq[1] else 0.0
            if pairs and won * 10 >= 9 * len(pairs) and gap > aq[2] - aq[0] and better(cq[1], aq[1]):
                verdict = "gain"
            elif bound is not None and worse_by > bound:
                verdict = "regression"
                worst = 1
            elif bound is not None and aq[1] and (aq[2] - aq[0]) / aq[1] > bound and \
                    not all(better(y, x) for x in (v for _, v in a) for y in (v for _, v in c)):
                verdict = "unresolved"
            else:
                verdict = "same"
            ps = f"{fmt(aq[1])} [{fmt(aq[0])},{fmt(aq[2])}]"
            cs = f"{fmt(cq[1])} [{fmt(cq[0])},{fmt(cq[2])}]"
            print(f"{w:20} {m['name']:14} {ps:>30} {cs:>30} {won:>3}/{len(pairs):<3} {verdict:>11}")
    for side, runs in (("parent", parent), ("change", change)):
        calib = [r.get("calibration") for r in runs if r.get("calibration") is not None]
        if calib:
            print(f"{side} calibration: median {fmt(statistics.median(calib))} over {len(calib)} runs")
    return worst


def parse_seeds(s):
    out = []
    for part in s.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def collect(args):
    b = spec()
    workloads = args.workloads or workloads_of(b, [])
    seconds = str(b.get("run_seconds", 10))
    with open(args.out, "a") as out:
        for seed in parse_seeds(args.seeds):
            for w in workloads:
                p = subprocess.run([sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", w,
                                    "--seed", str(seed), "--seconds", seconds, "--trace", args.trace],
                                   cwd=ROOT, stdout=subprocess.PIPE, text=True)
                lines = p.stdout.strip().splitlines()
                try:
                    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
                except ValueError:
                    result = None
                out.write(json.dumps({"workload": w, "seed": seed, "result": result}) + "\n")
                out.flush()
                print(f"{w} seed {seed}: {'ok' if result else 'FAILED'}", file=sys.stderr)
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("out")
    c.add_argument("--workloads", nargs="*")
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--trace", choices=["0", "1"], default="0")
    s = sub.add_parser("summary")
    s.add_argument("runs")
    p = sub.add_parser("compare")
    p.add_argument("parent")
    p.add_argument("change")
    a = ap.parse_args()
    return {"collect": collect, "summary": summary, "compare": compare}[a.cmd](a)


if __name__ == "__main__":
    sys.exit(main())
