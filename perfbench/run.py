"""Benchmark runner: one workload, one fresh process, one closed-loop client.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 15 --trace 0

Drives the engine from outside through its public entry points
(``QUERIES[name](spark, sf_dir)``, ``sources.load_table``,
``ml.features.build_feature_table``, ``ml.regress.fit_and_evaluate``) on
``local[nproc]``. Inputs are the fixed data set under data/; every oracle
answer is computed once per (entry, SQL, data set), before any timing.
``--seed`` shuffles the entry order within each timed pass. Every timed
result is materialised with ``toPandas`` and compared to its DuckDB oracle
after the pass. Wall-clock metrics are reported unstolen: less the share
of the host's CPU time it lent to other guests meanwhile.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs each unit
once traced and once untraced and prints the per-layer metrics. The last
stdout line is one JSON object; a readable summary and the path of the full
record (per entry, env stamp) go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(1, ROOT)

import measure  # noqa: E402
from workloads import (  # noqa: E402
    DATA_DIR, MODEL_LABEL_STEP, MODEL_R2, MODEL_TEST_ROWS, MODELS, TABLES,
    WARMUP_ENTRY, WORKLOADS,
)

# The perf_counter reading at which this process was launched: setup_s
# counts from here. The host's steal counters are read as early, and kept
# across the re-exec below.
LAUNCHED = time.perf_counter() - measure.process_age_s()
LAUNCH_JIFFIES = tuple(
    int(v) for v in os.environ.get("PERFBENCH_LAUNCH_JIFFIES", "").split()
) or measure.cpu_jiffies()

ENTRY_TIMEOUT_S = 90.0
# query_tail_s is a percentile only when ten samples lie beyond one this high.
MIN_TAIL_PERCENTILE = 65.0
_MB = 1024.0 * 1024.0


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ session

def _prepare_environment(tmp: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``tmp``."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(measure.env_stamp()["cpus"])
    import tempfile

    tempfile.tempdir = tmp


def start_session(tmp: str, data_dir: str):
    """(spark, start_s, warmup_s): engine import + session, then the
    unrecorded warm-up query."""
    t0 = time.perf_counter()
    from usedcars_bigdata_spark.plans import QUERIES
    from usedcars_bigdata_spark.session import get_session

    spark = get_session(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    QUERIES[WARMUP_ENTRY](spark, data_dir).toPandas()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_session(spark) -> None:
    """Stop Spark and its JVM, then wait for every child process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    wait_for_children()


def wait_for_children(timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    while measure.descendants_alive():
        if time.monotonic() > deadline:
            for pid in measure.descendants_alive():
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
        time.sleep(0.1)
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass


class JvmProbe:
    """The driver JVM's own accounts, read between passes: memory in use
    after a full collection, and the GC and JIT time spent so far."""

    def __init__(self, spark):
        self.mgmt = spark.sparkContext._gateway.jvm.java.lang.management.ManagementFactory

    def live_mb(self) -> dict[str, float]:
        """Memory the process tree holds: the JVM's heap and non-heap in use
        right after a full collection, and the resident size of every other
        process (the Python driver and workers)."""
        mem = self.mgmt.getMemoryMXBean()
        mem.gc()
        out = {"jvm heap": mem.getHeapMemoryUsage().getUsed() / _MB,
               "jvm non-heap": mem.getNonHeapMemoryUsage().getUsed() / _MB}
        out.update(measure.rss_by_process())
        return out

    def gc_s(self) -> float:
        return sum(gc.getCollectionTime() for gc in self.mgmt.getGarbageCollectorMXBeans()) / 1e3

    def jit_s(self) -> float:
        return self.mgmt.getCompilationMXBean().getTotalCompilationTime() / 1e3


# --------------------------------------------------------------- isolation

class EntryGuard:
    """Per-unit isolation: a time bound while it runs, and in ``finally``
    the session put back as it was (shuffle partitions, persisted hubs,
    cached tables, the pending stream-conf snapshot, running streams)."""

    def __init__(self, spark):
        self.spark = spark
        self.partitions = spark.conf.get("spark.sql.shuffle.partitions")
        self.timed_out = False

    def _expire(self) -> None:
        self.timed_out = True
        self._stop_streams()
        self.spark.sparkContext.cancelAllJobs()

    def _stop_streams(self) -> None:
        for q in self.spark.streams.active:
            try:
                q.stop()
            except Exception:  # noqa: BLE001 - already stopping
                pass

    def run(self, fn):
        self.timed_out = False
        timer = threading.Timer(ENTRY_TIMEOUT_S, self._expire)
        timer.daemon = True
        timer.start()
        try:
            return fn()
        finally:
            timer.cancel()

    def restore(self) -> None:
        from usedcars_bigdata_spark.operators.window import release_hubs
        from usedcars_bigdata_spark.streaming import events

        self._stop_streams()
        pending = getattr(events, "_SAVED_BATCH_SHUFFLE", None)
        if pending is not None:
            pending.clear()
        self.spark.conf.set("spark.sql.shuffle.partitions", self.partitions)
        release_hubs()
        self.spark.catalog.clearCache()


# -------------------------------------------------------------------- units

class Runner:
    """Runs the steps of a workload and keeps one sample per execution."""

    def __init__(self, spark, workload, oracles: dict, data_dir: str, tracer=None):
        from usedcars_bigdata_spark.plans import QUERIES

        self.spark = spark
        self.queries = QUERIES
        self.workload = workload
        self.oracles = oracles
        self.data_dir = data_dir
        self.tracer = tracer
        self.guard = EntryGuard(spark)
        self.samples: list[dict] = []
        self._jiffies = measure.cpu_jiffies()
        self._pending: list[tuple[dict, object]] = []

    def units(self) -> list[tuple[str, ...]]:
        units = [(name,) for name in self.workload.entries]
        if self.workload.models:
            units.append(("ml_features",) + tuple(f"ml_fit_{m}" for m in MODELS))
        return units

    def run_unit(self, unit: tuple[str, ...], traced: bool, pass_no: int) -> None:
        try:
            if unit[0] == "ml_features":
                self._run_models(traced, pass_no)
            else:
                self._run_entry(unit[0], traced, pass_no)
        finally:
            self.guard.restore()

    def _start(self) -> float:
        """Start timing one execution: the host's steal counters, then the
        clock."""
        self._jiffies = measure.cpu_jiffies()
        return time.perf_counter()

    def _sample(self, name, traced, pass_no, latency, error=None, **extra) -> dict:
        # The steal over this execution alone, so that a burst of it is
        # taken out of the sample it fell on.
        steal = measure.steal_pct(self._jiffies, measure.cpu_jiffies())
        s = {"name": name, "pass": pass_no, "traced": traced,
             "latency_s": latency, "steal_pct": steal,
             "unstolen_s": measure.unstolen(latency, steal), "error": error, **extra}
        self.samples.append(s)
        return s

    def _failed(self, name, traced, pass_no, latency, exc: Exception) -> None:
        why = "timeout" if self.guard.timed_out else f"{type(exc).__name__}: {exc}"
        self._sample(name, traced, pass_no, latency, error=why[:500],
                     traceback=traceback.format_exc(limit=8))

    def _run_entry(self, name: str, traced: bool, pass_no: int) -> None:
        sf_dir = self.data_dir
        tracer = self.tracer if traced else None
        if tracer is not None:
            tracer.begin()
        t0 = self._start()
        try:
            if tracer is None:
                pdf = self.guard.run(lambda: self.queries[name](self.spark, sf_dir).toPandas())
                s = self._sample(name, traced, pass_no, time.perf_counter() - t0)
            else:
                marks = {}

                def traced_call():
                    df = self.queries[name](self.spark, sf_dir)
                    marks["built"] = time.perf_counter()
                    tracer.mark_built()
                    marks["plan0"] = time.perf_counter()
                    df._jdf.queryExecution().executedPlan()
                    marks["planned"] = time.perf_counter()
                    out = df.toPandas()
                    marks["done"] = time.perf_counter()
                    marks["df"] = df
                    return out

                try:
                    pdf = self.guard.run(traced_call)
                finally:
                    layers = tracer.end(marks.get("df"))
                build = marks["built"] - t0
                plan = marks["planned"] - marks["plan0"]
                execute = marks["done"] - marks["planned"]
                layers["plans.build_s"] = build
                s = self._sample(
                    name, traced, pass_no, marks["done"] - t0,
                    build_s=build, plan_s=plan, execute_s=execute, layers=layers,
                    batch_ms=tracer.batch_ms(),
                )
            self._pending.append((s, pdf))
        except Exception as e:  # noqa: BLE001 - a failing entry is a sample
            self._failed(name, traced, pass_no, time.perf_counter() - t0, e)

    def _run_models(self, traced: bool, pass_no: int) -> None:
        """The paper's three MLlib fits, prepared as bench.time_models does
        but for the label: in the fixed data every column is drawn on its
        own, so no feature explains ``o_totalprice``. The label adds a fixed
        step per order year and per priority rank to it, so a fit that uses
        its features reaches its R² band and one that ignores them (R² near
        0) does not. Both features count, because the random forest (two
        trees of depth 2) draws one feature per split."""
        from pyspark.sql import functions as F

        from usedcars_bigdata_spark.ml.features import build_feature_table
        from usedcars_bigdata_spark.ml.regress import fit_and_evaluate
        from usedcars_bigdata_spark.sources import load_table

        tracer = self.tracer if traced else None
        cached = []

        def features():
            year = F.year("o_orderdate").cast("double")
            rank = F.substring("o_orderpriority", 1, 1).cast("double")  # "1-URGENT" -> 1
            orders = load_table(self.spark, self.data_dir, "orders").select(
                (F.col("o_totalprice") + MODEL_LABEL_STEP * (year - 1995 + rank)).alias("label"),
                year.alias("order_year"),
                "o_orderpriority", "o_orderstatus",
            )
            data = build_feature_table(
                orders, "label", ["order_year", "o_orderpriority", "o_orderstatus"]
            ).cache()
            data.count()
            train, test = data.randomSplit([0.8, 0.2], seed=42)
            train.cache().count()
            cached.extend([data, train])
            return train, test

        def fit(model):
            return lambda: fit_and_evaluate(train, test, model, n_features=3)[1]

        steps = [("ml_features", features, "ml.features_s")] + [
            (f"ml_fit_{m}", fit(m), f"ml.fit_eval_s.{m}") for m in MODELS
        ]
        try:
            for name, fn, layer in steps:
                if tracer is not None:
                    tracer.begin()
                t0 = self._start()
                try:
                    out = self.guard.run(fn)
                    latency = time.perf_counter() - t0
                except Exception as e:  # noqa: BLE001 - a failing fit is a sample
                    self._failed(name, traced, pass_no, time.perf_counter() - t0, e)
                    if name == "ml_features":
                        return
                    continue
                finally:
                    layers = tracer.end() if tracer is not None else None
                extra = {}
                if layers is not None:
                    layers[layer] = latency
                    extra = {"build_s": latency, "plan_s": 0.0, "execute_s": 0.0,
                             "layers": layers, "batch_ms": []}
                if name == "ml_features":
                    train, test = out
                    self._sample(name, traced, pass_no, latency, **extra)
                else:
                    self._sample(name, traced, pass_no, latency,
                                 error=_model_band_error(name[len("ml_fit_"):], out),
                                 fit={k: out.get(k) for k in ("n", "r2")}, **extra)
        finally:
            for df in cached:
                df.unpersist()

    def check_pending(self) -> None:
        """Compare the results held since the pass began with the oracles."""
        from oracle import canonical, mismatch

        for sample, pdf in self._pending:
            try:
                why = mismatch(canonical(pdf), self.oracles[sample["name"]])
            except Exception as e:  # noqa: BLE001 - an uncomparable result fails
                why = f"{type(e).__name__}: {e}"
            if why:
                sample["error"] = f"oracle mismatch: {why}"[:500]
        self._pending.clear()


def _model_band_error(model: str, metrics: dict) -> str | None:
    n, r2 = metrics.get("n", 0), metrics.get("r2", float("nan"))
    lo, hi = MODEL_R2[model]
    if not MODEL_TEST_ROWS[0] <= n <= MODEL_TEST_ROWS[1]:
        return f"{model} test rows {n} outside {MODEL_TEST_ROWS}"
    if not lo <= r2 <= hi:
        return f"{model} r2 {r2} outside {(lo, hi)}"
    return None


# ------------------------------------------------------------------ metrics

def end_to_end(samples, passes, setup_s: float, live_mem_mb: float) -> tuple[dict, dict]:
    """Metrics over the timed passes (the warm-up passes are left out).
    Wall-clock times are the unstolen ones (``measure.unstolen``): the
    host lends between 0 and a third of its vCPU time to other guests, and
    that share, not the program, set most of the spread between runs."""
    timed = [p for p in passes if p["pass"] >= 0]
    lat = [s["unstolen_s"] for s in samples if s["pass"] >= 0]
    tail = measure.tail(lat)
    if tail["percentile"] < MIN_TAIL_PERCENTILE:
        # Too few samples for a percentile tail: take each pass's slowest
        # entry and report the median over passes, which one slow pass
        # cannot move.
        slowest = [max(s["unstolen_s"] for s in samples if s["pass"] == p["pass"])
                   for p in timed]
        tail = {"value": measure.median(slowest), "percentile": None,
                "samples": len(lat), "rule": "median over passes of the slowest entry"}
    by_entry: dict[str, list[float]] = {}
    for s in samples:
        if s["pass"] >= 0:
            by_entry.setdefault(s["name"], []).append(s["unstolen_s"])
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (measure.median([p["unstolen_s"] for p in timed]), "s"),
        # The median of the pooled samples jumped from one entry's latency
        # to another's between runs; each entry's own median, averaged
        # geometrically over entries, moved half as much.
        "query_gmean_s": (measure.geometric_mean(
            [measure.median(v) for v in by_entry.values()]), "s"),
        "query_tail_s": (tail["value"], "s"),
        "live_mem_mb": (live_mem_mb, "MiB"),
    }
    return metrics, {"query_tail": tail}


# Per-layer counters where the run reports the peak over entries, not the
# per-pass total.
_PEAK_LAYERS = {"operators.persisted_rdds", "streaming.state_stores",
                "streaming.state_rows", "streaming.state_mb"}


def per_layer(samples, n_passes, session) -> tuple[dict, dict]:
    """Per-pass totals of every layer counter over the traced executions."""
    from layers import PER_LAYER_UNITS

    traced = [s for s in samples if s["traced"] and "layers" in s]
    totals: dict[str, float] = {}
    for s in traced:
        for k, v in s["layers"].items():
            if k in _PEAK_LAYERS:
                totals[k] = max(totals.get(k, 0), v)
            else:
                totals[k] = totals.get(k, 0) + v / n_passes
    entries = [s for s in traced if "plans.build_s" in s["layers"]]
    lat = sum(s["latency_s"] for s in entries)
    build = sum(s["layers"]["plans.build_s"] for s in entries)
    run_s = totals.get("executor.run_s", 0.0)
    totals["plans.build_share"] = build / lat if lat else 0.0
    totals["executor.cpu_frac"] = totals.get("executor.cpu_s", 0.0) / run_s if run_s else 0.0
    totals["ml.fit_eval_s"] = sum(totals.get(f"ml.fit_eval_s.{m}", 0.0) for m in MODELS)
    batch = [b for s in traced for b in s.get("batch_ms", [])]
    totals["streaming.batch_p50_ms"] = measure.median(batch)
    totals["streaming.batch_tail_ms"] = measure.tail(batch)["value"]
    trig_s = totals.get("streaming.trigger_ms", 0.0) / 1e3
    totals["streaming.rows_per_s"] = totals.get("streaming.input_rows", 0) / trig_s if trig_s else 0.0
    totals["session.start_s"] = session["start_s"]
    totals["session.warmup_s"] = session["warmup_s"]
    # Tracing overhead: the traced copy of each step against the untraced
    # copy that ran after it.
    plain = {(s["name"], s["pass"]): s["latency_s"] for s in samples
             if not s["traced"] and not s["error"]}
    pairs = [(s["latency_s"], plain[(s["name"], s["pass"])]) for s in traced
             if not s["error"] and (s["name"], s["pass"]) in plain]
    untraced_sum = sum(u for _, u in pairs)
    totals["trace.overhead_pct"] = (
        100.0 * (sum(t for t, _ in pairs) / untraced_sum - 1.0) if untraced_sum else 0.0)
    metrics = {k: (float(totals.get(k, 0.0)), unit) for k, unit in PER_LAYER_UNITS.items()}
    per_entry = {}
    for s in traced:
        row = per_entry.setdefault(s["name"], {"executions": 0})
        row["executions"] += 1
        for k in ("latency_s", "build_s", "plan_s", "execute_s"):
            row[k] = row.get(k, 0.0) + s[k]
        for k, v in s["layers"].items():
            row[k] = max(row.get(k, 0), v) if k in _PEAK_LAYERS else row.get(k, 0) + v
    return metrics, {"per_entry": per_entry, "overhead_pairs": len(pairs)}


# --------------------------------------------------------------------- main

def _oracle_paths(workload) -> tuple[object, dict[str, str]]:
    from oracle import OracleCache

    from usedcars_bigdata_spark.plans import ORACLES

    cache = OracleCache(DATA_DIR, os.path.join(WORK, "oracle"), TABLES)
    return cache, {name: cache.path(name, ORACLES[name]) for name in workload.entries}


def prepare(workload) -> int:
    """Child mode: compute the oracle answers the workload's entries need
    (cached across runs in the checkout)."""
    from usedcars_bigdata_spark.plans import ORACLES

    cache, _ = _oracle_paths(workload)
    for name in workload.entries:
        cache.answer(name, ORACLES[name])
    cache.close()
    return 0


def load_oracles(workload) -> dict:
    """Every oracle answer the workload checks. Missing answers come from a
    child process, so no DuckDB work or memory lands in this one."""
    from oracle import load

    _, paths = _oracle_paths(workload)
    if not all(os.path.exists(p) for p in paths.values()):
        subprocess.run([sys.executable, os.path.abspath(__file__), "--workload",
                        workload.name, "--prepare"], check=True, timeout=600, cwd=ROOT)
    return {name: load(path) for name, path in paths.items()}


def _engine_available() -> bool:
    return os.path.isfile(os.path.join(ROOT, "usedcars_bigdata_spark", "plans", "__init__.py"))


def run_workload(args, tmp: str) -> dict:
    """Set up, run the timed passes, tear down; returns the run record."""
    workload = WORKLOADS[args.workload]
    spark, start_s, warmup_s = start_session(tmp, DATA_DIR)
    setup_wall_s = time.perf_counter() - LAUNCHED
    setup_steal = measure.steal_pct(LAUNCH_JIFFIES, measure.cpu_jiffies())
    setup_s = measure.unstolen(setup_wall_s, setup_steal)
    try:
        # After setup_s, so that no oracle work is counted in it.
        t0 = time.perf_counter()
        oracles = load_oracles(workload)
        oracle_s = time.perf_counter() - t0
        jvm = JvmProbe(spark)
        tracer = None
        if args.trace:
            from layers import Tracer

            tracer = Tracer(spark)
        runner = Runner(spark, workload, oracles, DATA_DIR, tracer)
        rng = random.Random(args.seed)
        env = measure.env_stamp()
        jiffies0 = measure.cpu_jiffies()
        if tracer is None:
            # Untimed warm-up passes (numbered below 0) take each entry's
            # cold start (JIT, first codegen), which otherwise lands on
            # whichever entry the seed puts first; the timed passes follow.
            n_passes = workload.passes(args.seconds)
            plan = [(p, (False,)) for p in range(-workload.warmup_passes, n_passes)]
        else:
            # Each unit runs untraced, traced, untraced: the first copy takes
            # the cold start, and the traced copy is compared with the last
            # one for the tracing overhead.
            n_passes = 1
            plan = [(0, (False, True, False))]
        passes = []
        for p, copies in plan:
            units = runner.units()
            if p >= 0:
                # The warm-up passes keep one fixed order, so that every seed
                # leaves the JIT compiler with the same profile.
                rng.shuffle(units)
            gc0, jit0 = jvm.gc_s(), jvm.jit_s()
            jiffies, cpu0, t0 = measure.cpu_jiffies(), measure.tree_cpu_seconds(), time.perf_counter()
            for unit in units:
                for traced in copies:
                    runner.run_unit(unit, traced, p)
            wall, cpu = time.perf_counter() - t0, measure.tree_cpu_seconds() - cpu0
            steal = measure.steal_pct(jiffies, measure.cpu_jiffies())
            gc, jit = jvm.gc_s() - gc0, jvm.jit_s() - jit0
            passes.append({"pass": p, "wall_s": wall, "steal_pct": steal,
                           "unstolen_s": measure.unstolen(wall, steal), "cpu_s": cpu,
                           "jvm_gc_s": gc, "jvm_jit_s": jit})
            runner.check_pending()
        env["steal_pct"] = round(measure.steal_pct(jiffies0, measure.cpu_jiffies()), 2)
        # Once, after the last pass: the full collection it makes shrinks the
        # heap, and when it ran after every pass the collector's extra work
        # in the next pass made that pass half again as long.
        live_mem = jvm.live_mb()
    finally:
        stop_session(spark)

    samples = runner.samples
    session = {"start_s": start_s, "warmup_s": warmup_s, "oracle_s": oracle_s,
               "setup_wall_s": setup_wall_s, "setup_steal_pct": setup_steal}
    if args.trace:
        metrics, detail = per_layer(samples, n_passes, session)
    else:
        metrics, detail = end_to_end(samples, passes, setup_s, sum(live_mem.values()))
    failed = [s for s in samples if s["error"]]
    return {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "passes": passes, "env": env, "session": session,
        "live_mem_mb_by_part": live_mem,
        "attempted": len(samples), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "failures": [{k: s[k] for k in ("name", "pass", "error")} for s in failed],
        "samples": [{k: v for k, v in s.items() if k != "layers"} for s in samples],
        **detail,
    }


def report(record: dict) -> None:
    """Full record to a file, a readable summary to stderr, and the result
    line as the last line of stdout."""
    name = f"{record['workload']}-seed{record['seed']}-trace{record['trace']}-{os.getpid()}"
    path = os.path.join(WORK, "records", f"{name}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    w, n, failed = record["workload"], record["attempted"], record["failed"]
    for k, m in record["metrics"].items():
        _log(f"{w:12s} {k:32s} {m['value']:14.4f} {m['unit']}")
    if record["trace"] == 0:
        cpu = measure.median([p["cpu_s"] for p in record["passes"] if p["pass"] >= 0])
        _log(f"{w:12s} {'cpu_s (pass median, not adjusted)':32s} {cpu:14.4f} s")
    _log(f"{w:12s} {'failed_frac':32s} {failed / max(n, 1):14.4f} ({failed}/{n})"
         f"  env={record['env']}")
    for f in record["failures"]:
        _log(f"FAILED {f['name']} (pass {f['pass']}): {f['error']}")
    _log(f"record: {os.path.relpath(path, ROOT)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": n,
        "failed": failed,
        "metrics": record["metrics"],
    }), flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Benchmark one workload of the engine.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not _engine_available():
        _log(f"engine package usedcars_bigdata_spark not found under {ROOT}")
        return 2
    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    _prepare_environment(tmp)
    try:
        if args.prepare:
            return prepare(WORKLOADS[args.workload])
        report(run_workload(args, tmp))
        return 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    # PySpark seeds each estimator by default with hash() of its class name,
    # which changes with every interpreter unless PYTHONHASHSEED is fixed:
    # the random forest would then fit differently (R^2 0.16 to 0.52) from
    # run to run. The re-executed process keeps its pid, so setup_s still
    # counts from the first launch.
    if os.environ.get("PYTHONHASHSEED") != "0":
        os.environ["PYTHONHASHSEED"] = "0"
        os.environ["PERFBENCH_LAUNCH_JIFFIES"] = " ".join(map(str, LAUNCH_JIFFIES))
        os.execv(sys.executable, [sys.executable] + sys.argv)
    sys.exit(main())
