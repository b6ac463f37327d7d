"""Simulate the driver's correctness sweep with a PLAIN SparkSession.

The round-1 lesson (VERDICT.md "What's wrong" #1) was that the repo's tests
all went through get_session() while the driver hands queries its own
vanilla session — so a session-config dependency hid until the official
run. This script is the antidote: it mirrors the driver as closely as the
traceback in CORRECTNESS_r01.json allows —

- plain ``SparkSession.builder.master("local[N]").getOrCreate()`` (no repo
  session helper, no nanosAsLong, no timezone pinning),
- sf0.01 data,
- DuckDB views per table, oracle SQL run verbatim,
- canon: columns sorted by name, rows sorted, EXACT cell equality (the
  driver hashes values; 1e-9 tolerance would mask hash mismatches like
  round-1's rel_selectexpr_agg).

Usage: python scripts/driver_sim.py [first_n] [sf_dir]
Prints one line per query and a FAIL summary; exit code 1 on any failure.
"""

from __future__ import annotations

import math
import sys
import time
import traceback

import os

import duckdb
from pyspark.sql import SparkSession

# Script lives in scripts/, so sys.path[0] is scripts/ — put the repo root
# (where __spark_entry__.py and the package live) on the path regardless of
# the caller's cwd/PYTHONPATH.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _norm_cell(v):
    import numpy as np

    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, np.ndarray):
        return tuple(_norm_cell(x) for x in v.tolist())
    if isinstance(v, (np.integer, np.floating)):
        return _norm_cell(v.item())
    if isinstance(v, list):
        return tuple(_norm_cell(x) for x in v)
    return v


def canon_rows(df_pandas):
    # Replicate the DRIVER's canonicalizer: a pandas sort_values over all
    # columns (CORRECTNESS_r03 traceback: sort_values → lexsort_indexer →
    # Categorical → factorize). That sort CRASHES on unhashable cells
    # (list/ndarray) exactly as the driver does — round 3's
    # ext_embedding_quantize red row passed here because this function
    # pre-normalized arrays to tuples before sorting. Do NOT normalize
    # before the sort; any contract output with raw array cells must fail
    # in this sim the same way it fails in the official run.
    cols = sorted(df_pandas.columns)
    frame = df_pandas[cols]
    if cols:
        frame = frame.sort_values(by=cols, kind="mergesort")
    return [
        tuple(_norm_cell(v) for v in row)
        for row in frame.itertuples(index=False, name=None)
    ]


def main() -> int:
    # argv[1]: either an integer (sweep the first N registry entries, the
    # driver's behavior) or a comma-separated list of query-name prefixes
    # (validate just-added entries without sweeping the whole registry).
    name_filter: list[str] | None = None
    first_n = 50
    if len(sys.argv) > 1:
        try:
            first_n = int(sys.argv[1])
        except ValueError:
            name_filter = sys.argv[1].split(",")
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    # Deliberately NOT get_session(): mirror the driver's plain session.
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver_sim")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )

    import __spark_entry__ as entry

    queries = entry.queries()
    oracles = entry.oracle_sql()

    con = duckdb.connect()
    from usedcars_bigdata_spark.operators.window import entry_scope
    from usedcars_bigdata_spark.schemas import TABLE_NAMES

    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    if name_filter is not None:
        names = [
            n for n in queries if any(n.startswith(p) for p in name_filter)
        ]
    else:
        names = list(queries)[:first_n]
    failures: list[str] = []
    for name in names:
        t0 = time.time()
        # entry_scope (shuffle conf, hub registry, CacheManager) per entry:
        # a 408-entry sweep would otherwise accumulate the two-pass
        # operators' persisted bucket hubs in the storage region, and a
        # dead session still records the entry's FAIL and keeps sweeping.
        try:
            with entry_scope(spark):
                got = queries[name](spark, sf_dir).toPandas()
            if name not in oracles:
                print(f"  rows-only {name}: {len(got)} rows ({time.time()-t0:.2f}s)")
                continue
            want = con.execute(oracles[name]).fetch_arrow_table().to_pandas()
            if sorted(got.columns) != sorted(want.columns):
                failures.append(name)
                print(
                    f"FAIL schema {name}: spark={sorted(got.columns)} "
                    f"oracle={sorted(want.columns)}"
                )
                continue
            # dtype KIND check: DuckDB widens uncast integer sums to
            # HUGEINT → decimal128 → pandas object cells. Python's
            # Decimal(6) == 6, so the value comparison below is blind to
            # it, but the driver's schema/hash gate is not (round-4
            # review finding: four entries shipped that way). Compare
            # numpy kinds per column; 'O' (object) vs numeric = failure
            # unless BOTH sides are object (strings).
            kind_bad = [
                c
                for c in got.columns
                if (got[c].dtype.kind == "O") != (want[c].dtype.kind == "O")
            ]
            if kind_bad:
                failures.append(name)
                print(
                    f"FAIL dtype {name}: "
                    + ", ".join(
                        f"{c}: spark={got[c].dtype} oracle={want[c].dtype}"
                        for c in kind_bad
                    )
                )
                continue
            g, w = canon_rows(got), canon_rows(want)
            if len(g) != len(w):
                failures.append(name)
                print(f"FAIL rows {name}: spark={len(g)} oracle={len(w)}")
                continue
            bad = next((i for i, (a, b) in enumerate(zip(g, w)) if a != b), None)
            if bad is not None:
                failures.append(name)
                print(f"FAIL hash {name}: row {bad}\n  spark : {g[bad]}\n  oracle: {w[bad]}")
                continue
            print(f"  ok        {name}: {len(g)} rows ({time.time()-t0:.2f}s)")
        except Exception:
            failures.append(name)
            print(f"FAIL err  {name}:")
            traceback.print_exc(limit=3)

    print(f"\n{len(names) - len(failures)}/{len(names)} green; failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
