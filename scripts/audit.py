#!/usr/bin/env python
"""Round-close audit: one sweep over the driver contract in a plain session.

Each selected entry is built once and executed once (``toPandas()``)
inside ``entry_scope``, and every check runs on what that one run left:

- **oracle parity** — the DuckDB oracle SQL runs verbatim against the same
  parquet files; the canonicalizer (columns sorted by name, a pandas
  ``sort_values`` over all columns, exact cell equality) and the dtype-kind
  gate mirror the driver's;
- **SinglePartition funnels** — ``plantools.single_partition_funnel_sites``
  over the constructed plan and over every plan the JVM executed for the
  entry (eager MLlib fits, foreachBatch handlers, micro-batches), read from
  the SQL status store;
- **hot-table scans** — an entry whose constructed plan scans a table 3+
  times (``HOT3+``) must have 0 scans outside a cache or a pinned budget in
  tests/test_plan_shapes.py; two-scan big tables are printed (``two``).

The rotation ledger (scripts/rotation_ledger.py) runs first; a red ledger
fails the run, but the sweep still runs.

The session mirrors the driver's: plain ``SparkSession.builder`` (no repo
session helper, no nanosAsLong, no timezone pinning), ``local[8]``, 8
shuffle partitions, plus the two status-store knobs the executed-plan
check reads through (``explainMode=simple`` prints the physical tree the
funnel classifier walks).

Usage: python scripts/audit.py [N | prefix,prefix | all] [sf_dir]
  N: the first N entries in contract order (``50`` is the driver window).
Exit 1 on an oracle mismatch, an undeclared funnel, an unpinned
outside-cache scan, an entry that fails to build or run, or a red ledger.
"""

from __future__ import annotations

import math
import os
import re
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from usedcars_bigdata_spark.plantools import (  # noqa: E402
    scans_outside_cache,
    single_partition_funnel_sites,
)

# SinglePartition funnels that are declared, not regressions. Every entry
# is either reference parity (the reference's own global windows,
# reproduced deliberately) or DOMAIN-bounded: the unpartitioned Sort/Window
# runs over a frame whose row count is fixed by a domain (calendar grid,
# score domain, digit domain, bucket count), not by the data volume. The
# justification must name the bound. Documented in docs/SCALING.md
# §"Deliberately left single-partition".
FUNNEL_DECLARED = {
    "ref_q2_median_value_by_type",   # W1 parity: global row_number semantics
    "ref_q3_pct_of_total",           # reference's unpartitioned pct window
    "rel_benford_digits",            # 9-digit domain
    "ts_tumbling_hourly", "ts_sliding_hourly", "ts_hourly_percentile_bands",
    "ts_seasonal_baseline", "ts_seasonal_anomalies",  # hour/dow grids
    "rel_histogram_quantiles",       # fixed histogram-bucket domain
    "ml_roc_auc", "ml_ks_statistic", "ml_pr_auc",  # per-group score CDFs
    "ml_calibration_bins",           # fixed bin grid
    "ts_periodogram",                # bounded frequency grid
    "ts_acf_lags",                   # bounded lag grid
    "ts_haar_energy",                # log2-bounded level table
    "rel_share_of_parent",           # nation grain (25 rows)
    "ts_mix_shift_tv",               # calendar week grid
    "ts_rolling_corr", "ts_slo_burn_alerts",  # calendar hour grids
    "ts_cumulative_distinct",        # calendar day grid
    "ts_mom_growth",                 # calendar month grid
    "ts_logrank_test", "ts_survival_km",  # hour-resolution event-time grid
    "ml_lift_deciles",               # 10-row decile table total
    "ext_vocab_saturation",          # per-batch table (fixed batch count)
    "ext_quantile_normalize",        # fixed-point score domain (≤ ~2·10^4)
    "ext_source_quality_rank",       # per-source table (~10 rows)
    # Sites that exist only at run time. veh_* pipelines mirror the
    # reference notebook's own global windows (reference parity) AND run
    # over the state/category grain: the sorted/window frame is the
    # per-state (≤ ~50 rows) or per-dealer-category (4 rows) aggregate
    # table, never the vehicle fact table.
    "veh_state_median",
    "veh_salvage_pct",
    "veh_dealer_categories",
    # MLlib findSynonyms output: 3 probes × top-k rows, already
    # driver-local (LocalTableScan) before the rank window — bounded by
    # construction.
    "rows_word2vec_synonyms",
}

BIG_TABLES = ("lineitem", "events", "documents", "orders", "embeddings")
PIN = re.compile(r'\(\s*"([a-z0-9_]+)",\s*"[a-z]+",\s*\d+\s*\)')


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
    # here the same way it fails in the official run.
    cols = sorted(df_pandas.columns)
    frame = df_pandas[cols]
    if cols:
        frame = frame.sort_values(by=cols, kind="mergesort")
    return [
        tuple(_norm_cell(v) for v in row)
        for row in frame.itertuples(index=False, name=None)
    ]


def oracle_failure(got, want) -> tuple[str, str] | None:
    """The driver's verdict on one entry: None when green, else the
    failure's kind and detail."""
    if sorted(got.columns) != sorted(want.columns):
        return "schema", f"spark={sorted(got.columns)} oracle={sorted(want.columns)}"
    # dtype KIND check: DuckDB widens uncast integer sums to HUGEINT →
    # decimal128 → pandas object cells. Python's Decimal(6) == 6, so the
    # value comparison below is blind to it, but the driver's schema/hash
    # gate is not (round-4 review finding: four entries shipped that way).
    # Compare numpy kinds per column; 'O' (object) vs numeric = failure
    # unless BOTH sides are object (strings).
    kind_bad = [
        c
        for c in got.columns
        if (got[c].dtype.kind == "O") != (want[c].dtype.kind == "O")
    ]
    if kind_bad:
        return "dtype", ", ".join(
            f"{c}: spark={got[c].dtype} oracle={want[c].dtype}" for c in kind_bad
        )
    g, w = canon_rows(got), canon_rows(want)
    if len(g) != len(w):
        return "rows", f"spark={len(g)} oracle={len(w)}"
    bad = next((i for i, (a, b) in enumerate(zip(g, w)) if a != b), None)
    if bad is not None:
        return "hash", f"row {bad}\n  spark : {g[bad]}\n  oracle: {w[bad]}"
    return None


def select(names, selector: str) -> list[str]:
    """``all``, the first N names, or the names starting with any of the
    comma-separated prefixes — always in contract order."""
    if selector == "all":
        return list(names)
    if selector.isdigit():
        return list(names)[: int(selector)]
    return [n for n in names if n.startswith(tuple(selector.split(",")))]


def scan_counts(plan: str, tables) -> tuple[dict, dict]:
    """``(hot, two)`` for one constructed plan: ``hot`` maps each table
    scanned 3+ times to ``(raw, outside_cache)`` scan counts; ``two`` maps
    each big table scanned twice, both outside a cache, to 2. Raw counts
    over-report cache-shared hubs (the InMemoryRelation phantom re-prints
    the cached subtree per consumer), so outside-cache is the I/O count."""
    raw = {t: len(re.findall(rf"Scan parquet[^\n]*/{t}\.parquet", plan)) for t in tables}
    outside = {t: len(scans_outside_cache(plan, t)) for t, c in raw.items() if c >= 2}
    hot = {t: (c, outside[t]) for t, c in raw.items() if c >= 3}
    two = {t: 2 for t, c in raw.items() if c == 2 and t in BIG_TABLES and outside[t] >= 2}
    return hot, two


def scan_ok(name: str, hot: dict, pins: set[str]) -> bool:
    """A 3+-scan entry passes when every hot table is read only through a
    cache, or when its scan budget is pinned in tests/test_plan_shapes.py."""
    return name in pins or all(outside == 0 for _, outside in hot.values())


def scan_pins() -> set[str]:
    with open(os.path.join(ROOT, "tests", "test_plan_shapes.py")) as fh:
        return set(PIN.findall(fh.read()))


def main(argv: list[str]) -> int:
    selector = argv[1] if len(argv) > 1 else "all"
    sf_dir = argv[2] if len(argv) > 2 else "/root/testdata/sf0.01"

    import rotation_ledger

    print("=== rotation ledger", flush=True)
    ledger_ok = rotation_ledger.main([]) == 0

    import duckdb
    from pyspark.sql import SparkSession

    # Deliberately NOT get_session(): mirror the driver's plain session.
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("audit")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.ui.explainMode", "simple")
        .config("spark.sql.ui.retainedExecutions", "50000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry
    from usedcars_bigdata_spark.operators.window import entry_scope
    from usedcars_bigdata_spark.schemas import TABLE_NAMES

    queries, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    pins = scan_pins()

    # The SQL status store keeps one plan per execution, in execution-id
    # order. Each drain reads only the executions past the previous count
    # (after the listener bus has delivered them); the id watermark keeps
    # an execution from being attributed twice.
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    seen, last_id = 0, -1

    def drain() -> list[str]:
        nonlocal seen, last_id
        bus.waitUntilEmpty()
        count = store.executionsCount()
        execs = store.executionsList(seen, count - seen)
        seen = count
        plans = []
        for i in range(execs.size()):
            e = execs.apply(i)
            if e.executionId() > last_id:
                last_id = e.executionId()
                plans.append(e.physicalPlanDescription())
        return plans

    names = select(queries, selector)
    mismatched, funnels, unpinned, errored = [], [], [], []
    for name in names:
        t0 = time.time()
        try:
            try:
                with entry_scope(spark):
                    df = queries[name](spark, sf_dir)
                    plan = df._jdf.queryExecution().executedPlan().toString()
                    got = df.toPandas()
            finally:
                # also after a failure, so a failed entry's plans are
                # never blamed on the next entry
                executed = drain()
            if name in oracles:
                want = con.execute(oracles[name]).fetch_arrow_table().to_pandas()
                failure = oracle_failure(got, want)
            else:
                failure = None
        except Exception:
            errored.append(name)
            print(f"FAIL err  {name}:")
            traceback.print_exc(limit=3)
            continue
        if failure:
            mismatched.append(name)
            print(f"FAIL {failure[0]} {name}: {failure[1]}")
        else:
            kind = "ok" if name in oracles else "rows-only"
            print(f"  {kind:9s} {name}: {len(got)} rows ({time.time() - t0:.2f}s)")

        sites = set(single_partition_funnel_sites(plan))
        for p in executed:
            sites.update(single_partition_funnel_sites(p))
        tag = "declared" if name in FUNNEL_DECLARED else "FLAG"
        for consumer in sorted(sites):
            print(f"{tag:9s} {name}: {consumer[:140]}")
        if sites and tag == "FLAG":
            funnels.append(name)

        hot, two = scan_counts(plan, TABLE_NAMES)
        if hot:
            print(f"HOT3+ {name}: " + str(
                {t: f"{c} raw / {o} outside-cache" for t, (c, o) in hot.items()}))
            if not scan_ok(name, hot, pins):
                unpinned.append(name)
                print(f"FAIL scan  {name}: outside-cache scans, no pin in tests/test_plan_shapes.py")
        elif two:
            print(f"two   {name}: {two}")

    checked = [n for n in names if n in oracles]
    green = [n for n in checked if n not in mismatched and n not in errored]
    print(
        f"\n{len(green)}/{len(checked)} oracle entries green; "
        f"mismatches: {mismatched}\n"
        f"undeclared funnels: {funnels}\n"
        f"unpinned outside-cache scans: {unpinned}\n"
        f"failed to build or run: {errored}\n"
        f"ledger: {'OK' if ledger_ok else 'RED'}"
    )
    return 1 if mismatched or funnels or unpinned or errored or not ledger_ok else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
