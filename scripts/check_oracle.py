"""Self-check: run every queries() entry and its oracle_sql() twin at a given
scale factor, compare row-count, column names and the order-insensitive
multiset of values (mimics the driver's t2 gate).

Runs at the DRIVER's parallelism by default (local[32], 32 shuffle
partitions) — r06's gate failure (`pipeline_quality`) was a partition-order
FP boundary that local[8] systematically masked; the local record must
reproduce the driver's layout. Override with KDB_ORACLE_PAR=N to re-check
at another width (order-independent entries must pass at every width).

Usage: [KDB_ORACLE_PAR=N] python scripts/check_oracle.py [sf_dir] [query ...]
       (each query selector is an entry name or an fnmatch glob:
        'fetch_*' selects every fetch entry; none selects all)
       python scripts/check_oracle.py --describe [sf_dir]   # type-scan only

r08 post-mortem hardening: the driver hash canonicalizes DuckDB HUGEINT /
DECIMAL output columns differently from Spark's BIGINT/DOUBLE (arrow fetch
renders them as float64/object), while `.fetchall()` yields plain Python
ints — so a HUGEINT oracle can NEVER fail locally yet always fails the
driver gate (r07+r08 burned their sweeps on this). Every oracle's output
schema is therefore type-checked and the run FAILS on any
HUGEINT/UHUGEINT/DECIMAL column; `--describe` scans all oracles' types in
seconds without starting Spark.
"""

from __future__ import annotations

import fnmatch
import math
import os
import sys
import time
import traceback

sys.path.insert(0, "/root/repo")

import duckdb

import __spark_entry__ as entry_mod
from kadiyadb_spark.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # driver-style value canonicalization: collapse -0.0/0.0, then FULL
        # precision (repr) — a looser format (e.g. .6g) can false-pass locally
        # while the driver's hash sees a difference in the last decimals.
        if v == 0:
            return "0"
        return repr(v)
    if isinstance(v, int):
        return str(v)
    return repr(v)


def row_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


BAD_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def bad_type_cols(rel):
    """Column names whose DuckDB output type Spark cannot hash-match."""
    return [
        c for c, t in zip(rel.columns, rel.types)
        if any(b in str(t).upper() for b in BAD_TYPES)
    ]


def describe_all(sf_dir):
    """Fast type-scan of every oracle (no Spark): binds each oracle's plan
    and flags HUGEINT/UHUGEINT/DECIMAL output columns."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = entry_mod.oracle_sql()
    bad = {}
    for name, sql in oracles.items():
        try:
            cols = bad_type_cols(con.sql(sql))
        except Exception as e:
            print(f"ERR  {name}: {e}")
            bad[name] = ["<bind error>"]
            continue
        if cols:
            print(f"BAD  {name}: {cols}")
            bad[name] = cols
    print(f"\n{len(bad)} oracles with driver-unhashable output types: "
          f"{sorted(bad)}" if bad else f"\nALL {len(oracles)} oracle schemas clean")
    return 1 if bad else 0


def main():
    argv = [a for a in sys.argv[1:] if a != "--describe"]
    if "--describe" in sys.argv[1:]:
        return describe_all(argv[0] if argv else "/root/testdata/sf0.01")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = argv[1:]
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    par = int(os.environ.get("KDB_ORACLE_PAR", "32"))
    print(f"parallelism: local[{par}], shuffle_partitions={par}")
    spark = get_spark(master=f"local[{par}]", shuffle_partitions=par)
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and not any(fnmatch.fnmatchcase(name, sel) for sel in only):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"OK?  {name}: rows={len(srows)} (no oracle, rows-only) [{time.time()-t0:.1f}s]")
            continue
        try:
            ores = con.sql(oracles[name])
            badcols = bad_type_cols(ores)
            ocols = [d[0] for d in ores.description]
            orows = ores.fetchall()
        except Exception:
            print(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            failures.append(name)
            continue
        problems = []
        if badcols:
            problems.append(
                f"oracle outputs driver-unhashable types (HUGEINT/DECIMAL): "
                f"{badcols} — CAST them (AS BIGINT / AS DOUBLE)")
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems:
            sm = row_multiset(scols, srows)
            om = row_multiset(ocols, orows)
            if sm != om:
                diff = [(a, b) for a, b in zip(sm, om) if a != b][:3]
                problems.append(f"values differ, e.g. {diff}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems) + f" [{time.time()-t0:.1f}s]")
            failures.append(name)
        else:
            print(f"PASS {name}: rows={len(srows)} [{time.time()-t0:.1f}s]")
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL PASS")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
