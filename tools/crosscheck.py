#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Usage: crosscheck.py <sfDir> <verifyOutDir>

Each oracle query runs once, into a temp table; two comparisons per query
read it, and both must pass:

1. DRIVER EMULATION — reproduces the driver's observed pipeline exactly
   (validated 47/47 against CORRECTNESS_r01.json): the Spark result is read
   with pandas/pyarrow (DECIMAL -> decimal.Decimal objects, scale
   preserved), the oracle is materialized with duckdb's .df() (DECIMAL and
   HUGEINT -> float64), then cells are str()-canonicalized, columns sorted
   by name, rows sorted. A Decimal('1.00') vs float 1.0 therefore FAILS —
   which is why final output columns must be double/bigint/varchar on BOTH
   sides, never DECIMAL/HUGEINT on either.

2. STRICT EXACT — both sides fetched from duckdb as python values and
   compared at full precision (Decimal as Decimal, float by bit pattern),
   plus result TYPES (duckdb logical types of the Spark parquet vs the
   oracle relation). Catches real value divergence that the float64
   emulation could mask, and any type drift.

Dev tool only — runs on the driver-side python stack (duckdb/pyarrow/
pandas), never shipped in the Scala library.
"""
import json, math, sys
import datetime, decimal
from pathlib import Path

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# DuckDB's defaults (80% of RAM, one thread per core) let the per-pixel
# self-join of media_edge_density reach 15.6 GB RSS at sf0.1 on a 16 GB
# host; with two threads it peaks at ~12.4 GiB. The limit is the smallest
# whole-GB value at which ann_knn_graph still completes at sf0.1: DuckDB
# does not spill enough of it, and it runs out of memory at 5, 8, 10 and
# 11GB.
MEMORY_LIMIT = "12GB"
THREADS = 2


# ---- mode 1: driver emulation ---------------------------------------------

def emu_canon(df):
    cols = sorted(df.columns)
    rows = []
    for tup in df[cols].itertuples(index=False, name=None):
        rows.append(tuple("NULL" if (v is None or (isinstance(v, float) and math.isnan(v))) else str(v)
                          for v in tup))
    return sorted(rows)


# ---- mode 2: strict exact ---------------------------------------------------

def strict_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return f"bool:{v}"
    if isinstance(v, float):
        return "float:NaN" if math.isnan(v) else f"float:{v.hex()}"
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"  # full precision, scale-preserving
    if isinstance(v, int):
        return f"int:{v}"
    if isinstance(v, datetime.datetime):
        return f"ts:{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(strict_cell(x) for x in v) + "]"
    return f"{type(v).__name__}:{v}"


def strict_canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(strict_cell(r[i]) for i in order) for r in rows)


def main(sf_dir, out_dir):
    con = duckdb.connect()
    con.execute(f"SET memory_limit = '{MEMORY_LIMIT}'")
    con.execute(f"SET threads = {THREADS}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracles = json.loads(Path(out_dir, "oracle_sql.json").read_text())
    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        spark_dir = Path(out_dir, name)
        if not spark_dir.exists():
            print(f"MISSING {name}", flush=True)
            n_fail += 1
            continue
        problems = []
        con.execute(f"CREATE TEMP TABLE oracle_result AS {sql.strip().rstrip(';')}")

        # mode 1: driver emulation
        spark_pd = pd.read_parquet(spark_dir)
        oracle_pd = con.execute("SELECT * FROM oracle_result").df()
        se, oe = emu_canon(spark_pd), emu_canon(oracle_pd)
        if sorted(spark_pd.columns) != sorted(oracle_pd.columns):
            problems.append(f"emu columns {sorted(spark_pd.columns)} vs {sorted(oracle_pd.columns)}")
        elif se != oe:
            diffs = [i for i, (a, b) in enumerate(zip(se, oe)) if a != b][:3]
            detail = "; ".join(f"row{i} spark={se[i]} oracle={oe[i]}" for i in diffs) or f"len {len(se)} vs {len(oe)}"
            problems.append(f"emu values: {detail}")

        # mode 2: strict exact values + duckdb logical types
        srel = con.sql(f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')")
        stypes = sorted(zip(srel.columns, map(str, srel.types)))
        orel = con.sql("SELECT * FROM oracle_result")
        otypes = sorted(zip(orel.columns, map(str, orel.types)))
        if stypes != otypes:
            problems.append(f"strict types {stypes} vs {otypes}")
        ss = strict_canon(srel.columns, srel.fetchall())
        os_ = strict_canon(orel.columns, orel.fetchall())
        if ss != os_:
            diffs = [i for i, (a, b) in enumerate(zip(ss, os_)) if a != b][:3]
            detail = "; ".join(f"row{i} spark={ss[i]} oracle={os_[i]}" for i in diffs) or f"len {len(ss)} vs {len(os_)}"
            problems.append(f"strict values: {detail}")
        con.execute("DROP TABLE oracle_result")  # not held while the next query runs

        if problems:
            print(f"FAIL {name}:\n" + "\n".join(f"   {p}" for p in problems), flush=True)
            n_fail += 1
        else:
            print(f"PASS {name} ({len(ss)} rows)", flush=True)
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==", flush=True)
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
