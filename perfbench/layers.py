"""Per-layer attribution for one registry entry, recorded from outside the
engine: around the calls the benchmark makes, from Spark's status stores,
from a streaming query listener and from ``/proc``.

Layers are named after the engine's modules (``sources``, ``plans``,
``operators``, ``functions``, ``ml``, ``streaming``); Spark's own layers
keep Spark's names (``catalyst``, ``executor``). Only a traced run builds
a ``Tracer``; the untraced runs that give the end-to-end metrics touch
none of this.
"""

from __future__ import annotations

import re
import sys
import time

from pyspark.sql.streaming import StreamingQueryListener

import measure

_MB = 1024.0 * 1024.0

# Every per-layer metric a traced run reports (per pass), with its unit.
PER_LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "sources.load_calls": "count", "sources.load_s": "s", "sources.load_jobs": "count",
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.build_share": "fraction",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "executor.jobs": "count", "executor.stages": "count", "executor.tasks": "count",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.cpu_frac": "fraction", "executor.input_mb": "MiB",
    "executor.shuffle_read_mb": "MiB", "executor.shuffle_write_mb": "MiB",
    "executor.spill_mb": "MiB",
    "operators.persisted_rdds": "count",
    "functions.worker_cpu_s": "s", "functions.rows_to_python": "count",
    "functions.bytes_to_python": "B",
    "ml.features_s": "s", "ml.fit_eval_s": "s", "ml.fit_eval_s.linear": "s",
    "ml.fit_eval_s.decision_tree": "s", "ml.fit_eval_s.random_forest": "s",
    "streaming.batches": "count", "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.offsets_ms": "ms",
    "streaming.state_commit_ms": "ms", "streaming.state_stores": "count",
    "streaming.state_rows": "count", "streaming.state_mb": "MiB",
    "streaming.input_rows": "count", "streaming.batch_p50_ms": "ms",
    "streaming.batch_tail_ms": "ms", "streaming.rows_per_s": "1/s",
    "trace.overhead_pct": "%",
}
_PY_NODE = re.compile(r"Python|Pandas|Arrow")
_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def parse_sql_metric(text: str) -> float:
    """Total of a SQL UI metric string: '1,234', or for size/timing metrics
    'total (min, med, max ...)\\n12.3 MiB (...)'."""
    line = text.strip().splitlines()[-1] if "\n" in text else text.strip()
    m = re.match(r"([-\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _SIZE_UNITS.get(m.group(2) or "", 1)


class _ProgressListener(StreamingQueryListener):
    """Collects every micro-batch progress event of the session."""

    def __init__(self):
        self.progress: list = []
        self.started = 0
        self.terminated = 0

    def onQueryStarted(self, event):
        self.started += 1

    def onQueryProgress(self, event):
        self.progress.append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated += 1


def stream_layers(progress: list) -> dict:
    """``streaming.*`` totals over a list of StreamingQueryProgress."""
    out = {
        "streaming.batches": 0, "streaming.trigger_ms": 0.0,
        "streaming.add_batch_ms": 0.0, "streaming.planning_ms": 0.0,
        "streaming.wal_commit_ms": 0.0, "streaming.offsets_ms": 0.0,
        "streaming.state_commit_ms": 0.0, "streaming.state_stores": 0,
        "streaming.state_rows": 0, "streaming.state_mb": 0.0,
        "streaming.input_rows": 0,
    }
    for p in progress:
        d = p.durationMs or {}
        if p.numInputRows == 0 and not d.get("addBatch"):
            continue  # the empty closing trigger of an availableNow query
        out["streaming.batches"] += 1
        out["streaming.trigger_ms"] += d.get("triggerExecution", 0)
        out["streaming.add_batch_ms"] += d.get("addBatch", 0)
        out["streaming.planning_ms"] += d.get("queryPlanning", 0)
        out["streaming.wal_commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
        out["streaming.offsets_ms"] += d.get("latestOffset", 0) + d.get("getBatch", 0)
        out["streaming.input_rows"] += p.numInputRows
        for op in p.stateOperators or []:
            out["streaming.state_commit_ms"] += op.commitTimeMs
            out["streaming.state_stores"] = max(
                out["streaming.state_stores"], op.numStateStoreInstances)
            out["streaming.state_rows"] = max(out["streaming.state_rows"], op.numRowsTotal)
            out["streaming.state_mb"] = max(out["streaming.state_mb"], op.memoryUsedBytes / _MB)
    return out


def batch_latencies_ms(progress: list) -> list[float]:
    return [
        float(p.durationMs.get("triggerExecution", 0))
        for p in progress
        if p.numInputRows > 0 or (p.durationMs or {}).get("addBatch")
    ]


class Tracer:
    """Spans and counters at the layer boundaries of one entry at a time."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._jsc = sc._jsc
        self._ssc = sc._jsc.sc()
        self._gw = sc._gateway
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.listener = _ProgressListener()
        spark.streams.addListener(self.listener)
        self.active = False
        self._span: dict = {}
        self._patch_load_table()

    # -- counters the JVM keeps ---------------------------------------------

    def jobs(self) -> int:
        return self._ssc.dagScheduler().nextJobId()

    def stages(self) -> int:
        return self._ssc.dagScheduler().nextStageId()

    def persisted_rdds(self) -> int:
        return self._jsc.getPersistentRDDs().size()

    def drain(self) -> None:
        """Wait until every listener (status stores, stream listener) has
        seen the events posted so far."""
        self._ssc.listenerBus().waitUntilEmpty()

    # -- sources: wrap load_table wherever the engine imported it -----------

    def _patch_load_table(self) -> None:
        from usedcars_bigdata_spark.sources import io as src_io

        original = src_io.load_table
        tracer = self

        def load_table(spark, sf_dir, name):
            if not tracer.active:
                return original(spark, sf_dir, name)
            j0, t0 = tracer.jobs(), time.perf_counter()
            try:
                return original(spark, sf_dir, name)
            finally:
                span = tracer._span
                span["sources.load_calls"] += 1
                span["sources.load_s"] += time.perf_counter() - t0
                span["sources.load_jobs"] += tracer.jobs() - j0

        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("usedcars_bigdata_spark")
                    and getattr(mod, "load_table", None) is original):
                mod.load_table = load_table

    # -- one entry ----------------------------------------------------------

    def begin(self) -> None:
        self._persisted0 = self.persisted_rdds()
        self._span = {
            "sources.load_calls": 0, "sources.load_s": 0.0, "sources.load_jobs": 0,
            "operators.persisted_rdds": 0,
        }
        self._first_stage = self.stages()
        self._first_job = self.jobs()
        self._first_exec = self._sql.executionsCount()
        self._n_progress = len(self.listener.progress)
        self._workers = measure.python_worker_pids()
        self._worker_cpu0 = measure.cpu_seconds(self._workers)
        self.active = True

    def mark_built(self) -> None:
        """End of driver-side construction (the call into the registry)."""
        self._span["plans.build_jobs"] = self.jobs() - self._first_job
        self._peak_persisted()

    def _peak_persisted(self) -> None:
        # Hubs this entry persisted or checkpointed and still holds.
        self._span["operators.persisted_rdds"] = max(
            self._span["operators.persisted_rdds"], self.persisted_rdds() - self._persisted0)

    def end(self, df=None) -> dict:
        """Close the span; returns every layer counter of the entry."""
        self.active = False
        self._peak_persisted()
        self.drain()
        span = self._span
        span.setdefault("plans.build_jobs", self.jobs() - self._first_job)
        span["executor.jobs"] = self.jobs() - self._first_job
        span.update(self._catalyst(df))
        span.update(self._executor())
        span.update(self._python_boundary())
        span.update(stream_layers(self.listener.progress[self._n_progress:]))
        return span

    def batch_ms(self) -> list[float]:
        """Trigger latencies of the micro-batches the last entry ran."""
        return batch_latencies_ms(self.listener.progress[self._n_progress:])

    def _catalyst(self, df) -> dict:
        out = {"catalyst.analysis_ms": 0, "catalyst.optimization_ms": 0,
               "catalyst.planning_ms": 0}
        if df is None:
            return out
        phases = df._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            if opt.isDefined():
                out[f"catalyst.{phase}_ms"] = opt.get().durationMs()
        return out

    def _executor(self) -> dict:
        out = dict.fromkeys(
            ("executor.stages", "executor.tasks", "executor.run_s", "executor.cpu_s",
             "executor.gc_s", "executor.input_mb", "executor.shuffle_read_mb",
             "executor.shuffle_write_mb", "executor.spill_mb"), 0)
        stages = self._ssc.statusStore().stageList(
            None, False, False, self._gw.new_array(self._gw.jvm.double, 0),
            self._gw.jvm.java.util.ArrayList())
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() < self._first_stage:
                continue
            out["executor.stages"] += 1
            out["executor.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["executor.run_s"] += s.executorRunTime() / 1e3
            out["executor.cpu_s"] += s.executorCpuTime() / 1e9
            out["executor.gc_s"] += s.jvmGcTime() / 1e3
            out["executor.input_mb"] += s.inputBytes() / _MB
            out["executor.shuffle_read_mb"] += s.shuffleReadBytes() / _MB
            out["executor.shuffle_write_mb"] += s.shuffleWriteBytes() / _MB
            out["executor.spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / _MB
        run = out["executor.run_s"]
        out["executor.cpu_frac"] = out["executor.cpu_s"] / run if run > 0 else 0.0
        return out

    def _python_boundary(self) -> dict:
        """Python-worker CPU, and rows/bytes the JVM sent to Python nodes.

        Rows sent to a Python node are the output rows of the node feeding
        it (its child in the SQL plan graph)."""
        workers = set(self._workers) | set(measure.python_worker_pids())
        cpu = measure.cpu_seconds(sorted(workers)) - self._worker_cpu0
        rows = sent = 0.0
        n = self._sql.executionsCount()
        if n > self._first_exec:
            execs = self._sql.executionsList(self._first_exec, n - self._first_exec)
            for i in range(execs.size()):
                eid = execs.apply(i).executionId()
                graph = self._sql.planGraph(eid)
                nodes = graph.allNodes()
                by_id, py_ids = {}, []
                for j in range(nodes.size()):
                    node = nodes.apply(j)
                    by_id[node.id()] = node
                    if _PY_NODE.search(node.name()):
                        py_ids.append(node.id())
                if not py_ids:
                    continue
                values = self._sql.executionMetrics(eid)
                edges = graph.edges()
                children = {}
                for j in range(edges.size()):
                    e = edges.apply(j)
                    children.setdefault(e.toId(), []).append(e.fromId())
                for nid in py_ids:
                    sent += self._metric(by_id[nid], values, "data sent to Python workers") or 0.0
                    # Walk down past nodes fused into codegen (no metrics of
                    # their own) to the first one that counts its rows.
                    for child in children.get(nid, ()):
                        while True:
                            n_rows = self._metric(by_id[child], values, "number of output rows")
                            if n_rows is not None or not children.get(child):
                                rows += n_rows or 0.0
                                break
                            child = children[child][0]
        return {
            "functions.worker_cpu_s": max(cpu, 0.0),
            "functions.rows_to_python": rows,
            "functions.bytes_to_python": sent,
        }

    @staticmethod
    def _metric(node, values, name: str) -> float | None:
        metrics = node.metrics()
        for k in range(metrics.size()):
            m = metrics.apply(k)
            if m.name() == name:
                v = values.get(m.accumulatorId())
                return parse_sql_metric(v.get()) if v.isDefined() else 0.0
        return None
