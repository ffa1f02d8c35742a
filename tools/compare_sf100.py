#!/usr/bin/env python3
"""Per-query delta table: sf100 campaign (r12, optimized HEAD) vs attempt 13
(pre-r11-optimization HEAD). Both files are full-resolution bench JSON."""
import json, sys

a = json.load(open(sys.argv[1] if len(sys.argv) > 1 else "bench_sf100_attempt13.json"))
b = json.load(open(sys.argv[2] if len(sys.argv) > 2 else "bench_sf100_r12.json"))
qa, qb = a["queries"], b["queries"]
ca, cb = a.get("calib"), b.get("calib")
print(f"attempt13: total {a['value']:.1f}s calib {ca}  |  r12: total {b['value']:.1f}s calib {cb}")
print(f"host factor (r12 calib / a13 calib): {cb/ca:.2f}x slower" if ca and cb else "")
common = sorted(set(qa) & set(qb), key=lambda q: -qa[q])
rows = []
import math
logs = []
for q in common:
    x, y = qa[q], qb[q]
    if x > 0 and y > 0:
        logs.append(math.log(x / y))
    rows.append((q, x, y, x / y if y else float("inf")))
if logs:
    geo = math.exp(sum(logs) / len(logs))
    norm = f"  calib-normalized {geo * (cb/ca):.2f}x" if ca and cb else ""
    print(f"common {len(common)}  geomean raw speedup {geo:.2f}x{norm}")
else:
    print(f"common {len(common)}  no query timed in both files")
print(f"{'query':32s} {'a13':>8s} {'r12':>8s} {'raw x':>7s}")
for q, x, y, r in rows[:40]:
    print(f"{q:32s} {x:8.1f} {y:8.1f} {r:7.2f}")
miss_a = sorted(set(qb) - set(qa)); miss_b = sorted(set(qa) - set(qb))
if miss_a: print("new in r12:", miss_a)
if miss_b: print("missing in r12:", miss_b)
errs = b.get("errors")
print("r12 errors:", errs if errs else "none")
