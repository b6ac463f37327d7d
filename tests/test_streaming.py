"""Streaming ≡ batch equivalence: the same transformation functions, fed by
readStream over the harness events parquet, must produce exactly the batch
result once all input is processed."""

from __future__ import annotations

import glob
import os

import pytest

from usedcars_bigdata_spark.sources import load_table
from usedcars_bigdata_spark.streaming import events as SE


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def batch_events(spark, sf_dir):
    return load_table(spark, sf_dir, "events").cache()


def test_windowed_counts_stream_equals_batch(spark, sf_dir, batch_events):
    stream = SE.read_event_stream(spark, sf_dir)
    q = SE.run_stream(
        SE.windowed_counts(stream), "win_out", output_mode="complete"
    )
    try:
        got = spark.sql("SELECT * FROM win_out")
        want = SE.windowed_counts(batch_events)
        cols = ["window_start", "event_type", "n_events", "sum_value"]
        assert _rows(got, cols) == _rows(want, cols)
        assert got.count() > 0
    finally:
        q.stop()


def test_rocksdb_state_store_parity(spark, sf_dir, batch_events):
    """The RocksDB state-store provider (the per-executor state-ceiling
    lever for 100 TB stateful streams — docs/SCALING.md r9) must produce
    the SAME windowed aggregate as the default heap-backed provider,
    and the progress metrics must prove RocksDB actually served the
    state (a misspelled provider conf silently no-ops)."""
    from usedcars_bigdata_spark.streaming.statestore import (
        ROCKSDB_PROVIDER,
        rocksdb_state,
    )

    want = _rows(
        SE.windowed_counts(batch_events),
        ["window_start", "event_type", "n_events", "sum_value"],
    )
    with rocksdb_state(spark):
        assert (
            spark.conf.get("spark.sql.streaming.stateStore.providerClass")
            == ROCKSDB_PROVIDER
        )
        stream = SE.read_event_stream(spark, sf_dir)
        q = SE.run_stream(
            SE.windowed_counts(stream), "rocksdb_out", output_mode="complete"
        )
        try:
            got = _rows(
                spark.sql("SELECT * FROM rocksdb_out"),
                ["window_start", "event_type", "n_events", "sum_value"],
            )
            assert got == want and len(got) > 0
            metrics = q.lastProgress["stateOperators"][0]["customMetrics"]
            rocks_keys = [k for k in metrics if "rocksdb" in k.lower()]
            assert rocks_keys, f"no rocksdb metrics in {sorted(metrics)}"
        finally:
            q.stop()
    # conf restored on exit
    assert (
        spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass", "unset-or-default"
        )
        != ROCKSDB_PROVIDER
    )


def test_session_aggregates_stream_equals_batch(spark, sf_dir, batch_events):
    stream = SE.read_event_stream(spark, sf_dir)
    q = SE.run_stream(
        SE.session_aggregates(stream), "sess_out", output_mode="complete"
    )
    try:
        got = spark.sql("SELECT * FROM sess_out")
        want = SE.session_aggregates(batch_events)
        cols = ["user_id", "session_start", "session_end", "n_events"]
        assert _rows(got, cols) == _rows(want, cols)
    finally:
        q.stop()


def test_sliding_windows_stream(spark, sf_dir, batch_events):
    stream = SE.read_event_stream(spark, sf_dir)
    q = SE.run_stream(
        SE.windowed_counts(stream, window="1 hour", slide="30 minutes"),
        "slide_out",
        output_mode="complete",
    )
    try:
        got = spark.sql("SELECT * FROM slide_out")
        # each event contributes to exactly 2 sliding windows
        n_batch = batch_events.count()
        total = sum(r["n_events"] for r in got.collect())
        assert total == 2 * n_batch
    finally:
        q.stop()


def test_stateful_anomaly_flags_stream_equals_batch(spark, sf_dir, batch_events):
    """applyInPandasWithState operator must match its window-based batch
    twin once all micro-batches are processed (state accumulates across
    batches in event order only within a batch — single-file source here,
    so ordering matches the batch window)."""
    from usedcars_bigdata_spark.streaming import stateful as ST

    stream = SE.read_event_stream(spark, sf_dir)
    q = SE.run_stream(
        ST.running_anomaly_flags(stream), "anom_out", output_mode="append"
    )
    try:
        got = spark.sql("SELECT * FROM anom_out")
        want = ST.running_anomaly_flags_batch(
            batch_events.select("user_id", "event_id", "value")
        )
        cols = ["user_id", "event_id", "flagged"]
        assert _rows(got, cols) == _rows(want, cols)
        n_flagged = got.filter("flagged").count()
        assert got.count() == batch_events.count()
        assert 0 < n_flagged < got.count()
    finally:
        q.stop()


def test_contract_microbatch_query_runs_and_matches_batch(spark, sf_dir):
    """The contract-visible ts_stream_microbatch entry must run a real
    availableNow micro-batch pass, terminate, equal the batch twin, and be
    safely re-invocable (the driver may call it more than once)."""
    from usedcars_bigdata_spark.plans import QUERIES

    got = QUERIES["ts_stream_microbatch"](spark, sf_dir)
    cols = ["window_start", "window_end", "event_type", "n_events", "sum_value"]
    want = SE.windowed_counts(load_table(spark, sf_dir, "events"))
    assert _rows(got, cols) == _rows(want, cols)
    # the streaming query terminated (availableNow), nothing left active
    assert all(q.name != "ts_stream_microbatch_sink" for q in spark.streams.active)
    # re-invocation replaces the sink table cleanly
    again = QUERIES["ts_stream_microbatch"](spark, sf_dir)
    assert _rows(again, cols) == _rows(got, cols)


def test_stream_dedup_equals_batch_distinct(spark, sf_dir, batch_events):
    """ts_stream_dedup: watermarked streaming dedup over the event stream
    equals batch DISTINCT on the (user, type, hour) key — the hour bucket
    inside the key keeps keys inside the watermark horizon. Re-invocable."""
    from pyspark.sql import functions as F

    from usedcars_bigdata_spark.plans import QUERIES

    got = QUERIES["ts_stream_dedup"](spark, sf_dir)
    cols = ["user_id", "event_type", "hour_start"]
    want = batch_events.select(
        "user_id", "event_type", F.date_trunc("hour", "ts").alias("hour_start")
    ).distinct()
    assert _rows(got, cols) == _rows(want, cols)
    assert got.count() < batch_events.count()  # dedup actually removed rows
    assert all(q.name != "ts_stream_dedup_sink" for q in spark.streams.active)
    again = QUERIES["ts_stream_dedup"](spark, sf_dir)
    assert _rows(again, cols) == _rows(got, cols)


def test_scalable_anomaly_flags_matches_batch_twin(spark, sf_dir, batch_events, tmp_path):
    """The hot-key-neutral foreachBatch rewrite (grouped_running_sums +
    combinable state merge — r11 verdict item 3) must emit EXACTLY the
    batch twin's rows: integer cents make every prefix mean a
    bit-identical integer÷count on both sides."""
    from pyspark.sql import functions as F

    from usedcars_bigdata_spark.streaming import stateful as ST

    stream = SE.read_event_stream(spark, sf_dir).withColumn(
        "value", F.round(F.col("value") * 100)
    )
    q = ST.running_anomaly_flags_scalable(
        stream,
        state_dir=str(tmp_path / "state"),
        out_dir=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ck"),
        query_name="anom_scal_test",
    )
    assert not q.isActive
    got = spark.read.parquet(str(tmp_path / "out")).withColumn(
        "rm", F.round("running_mean", 6)
    )
    want = ST.running_anomaly_flags_batch(
        batch_events.select(
            "user_id", "event_id", F.round(F.col("value") * 100).alias("value")
        )
    ).withColumn("rm", F.round("running_mean", 6))
    cols = ["user_id", "event_id", "value", "rm", "flagged"]
    assert _rows(got, cols) == _rows(want, cols)
    assert got.filter("flagged").count() > 0
    # externalized state: one (n, total) row per user, totals match batch
    state = spark.read.parquet(str(tmp_path / "state"))
    assert state.count() == batch_events.select("user_id").distinct().count()


def test_scalable_anomaly_multibatch_equals_python_fold(spark, sf_dir, batch_events, tmp_path):
    """Across MULTIPLE micro-batches (3 files, one per trigger) the
    rewrite must stay bit-identical to the applyInPandasWithState fold —
    the two engines fold the same batches, so any divergence is a state
    carry bug, not source ordering."""
    from pyspark.sql import functions as F

    from usedcars_bigdata_spark.streaming import stateful as ST

    src = str(tmp_path / "src")
    ev = batch_events.select(
        "user_id", "event_id", F.round(F.col("value") * 100).alias("value")
    )
    n = ev.count()
    # three ordered files => three deterministic micro-batches
    for lo, hi in [(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n + 1)]:
        (ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
           .coalesce(1).write.mode("append").parquet(src))
    stream = (
        spark.readStream.schema("user_id long, event_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(src)
    )
    q = ST.running_anomaly_flags_scalable(
        stream,
        state_dir=str(tmp_path / "state"),
        out_dir=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ck"),
        query_name="anom_scal_mb",
    )
    assert not q.isActive
    got = spark.read.parquet(str(tmp_path / "out"))
    q2 = SE.run_stream(
        ST.running_anomaly_flags(stream), "anom_fold_mb", output_mode="append"
    )
    try:
        want = spark.sql("SELECT * FROM anom_fold_mb")
        cols = ["user_id", "event_id", "value", "running_mean", "flagged"]
        assert _rows(got, cols) == _rows(want, cols)
        assert got.count() == n
    finally:
        q2.stop()


def test_stream_shuffle_partitions_scale_adaptive(spark):
    """r12 optimization: streaming queries size their shuffle/state
    partitioning to the SOURCE bytes (~64 MiB per partition, floor 4,
    capped at the session batch default) instead of inheriting the
    cores-sized batch default — state stores are a per-partition,
    per-micro-batch commit cost. Pins the derivation rule's edges:
    tiny source → floor; per-operator floor; unmeasurable source →
    batch default (never the local floor, which would serialize a
    production stream); big source → bytes-derived but capped."""
    rule = SE._partitions_for_bytes
    mib64 = 64 << 20
    batch_default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert batch_default < 12  # so the 12-span source below hits the cap

    # tiny source → the compute-parallelism floor
    assert rule(spark, 1024, 4) == 4
    # per-operator-type floor (r13): compute-heavy operators pass a
    # higher floor; still capped at the batch default
    assert rule(spark, 1024, 8) == min(8, batch_default)
    # unmeasurable source (0 bytes: missing, non-local or unreadable) →
    # batch default, NOT the floor
    assert rule(spark, 0, 4) == batch_default
    # bytes-derived: 3 spans of 64 MiB → 3, floored to 4; 12 spans → 12,
    # capped at the batch default
    assert rule(spark, 3 * mib64, 4) == 4
    assert rule(spark, 12 * mib64, 4) == batch_default


def test_stream_conf_scoped_to_query_start(spark, sf_dir):
    """run_stream sets the query's data-derived partition count around
    start() only: building the stream leaves the conf alone, the caller's
    value is back once run_stream returns, and the query still ran its
    state operators at the derived count (the query clones the session
    conf inside start())."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    stream = SE.read_event_stream(spark, sf_dir)
    assert spark.conf.get(key) == before
    q = SE.run_stream(
        SE.windowed_counts(stream), "conf_scope_sink", output_mode="complete"
    )
    assert spark.conf.get(key) == before
    ops = q.lastProgress["stateOperators"]
    assert ops and all(op["numShufflePartitions"] == 4 for op in ops), ops


def test_run_stream_failed_start_keeps_conf(spark, sf_dir):
    """A start() that raises (complete mode needs an aggregation) leaves
    the caller's conf as it was and no query behind."""
    from pyspark.errors import AnalysisException

    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.noDataMicroBatches.enabled",
    )
    before = {key: spark.conf.get(key) for key in keys}
    # the event stream alone only evicts state, so run_stream turns the
    # trailing batch off around this start()
    assert SE._only_evicts_state(SE.read_event_stream(spark, sf_dir))
    with pytest.raises(AnalysisException):
        SE.run_stream(
            SE.read_event_stream(spark, sf_dir), "bad_mode_sink",
            output_mode="complete",
        )
    assert {key: spark.conf.get(key) for key in keys} == before
    assert all(q.name != "bad_mode_sink" for q in spark.streams.active)


def test_run_stream_sessions_keep_their_own_conf(spark, sf_dir):
    """The conf is saved and restored per session: runs interleaved over
    two sessions with different defaults leave each its own value."""
    key = "spark.sql.shuffle.partitions"
    other = spark.newSession()
    other.conf.set(key, "6")
    mine = spark.conf.get(key)
    assert mine != "6"
    for i, session in enumerate([spark, other, spark, other]):
        q = SE.run_stream(
            SE.windowed_counts(SE.read_event_stream(session, sf_dir)),
            f"two_sessions_{i}",
            output_mode="complete",
        )
        ops = q.lastProgress["stateOperators"]
        assert ops and all(op["numShufflePartitions"] == 4 for op in ops)
        assert spark.conf.get(key) == mine
        assert other.conf.get(key) == "6"


def test_run_stream_times_out(spark, sf_dir, monkeypatch):
    """A query that does not drain within STREAM_TIMEOUT_S is stopped and
    reported as TimeoutError instead of blocking the caller."""
    import time

    monkeypatch.setattr(SE, "STREAM_TIMEOUT_S", 1)

    def slow(batch_df, batch_id):
        time.sleep(5)

    with pytest.raises(TimeoutError):
        SE.run_stream(
            SE.read_event_stream(spark, sf_dir), "slow_sink",
            foreach_batch=slow,
        )
    assert all(q.name != "slow_sink" for q in spark.streams.active)


def test_run_stream_stop_is_bounded(spark, tmp_path, monkeypatch):
    """A foreachBatch handler that never returns cannot wedge the caller:
    the stop after STREAM_TIMEOUT_S is bounded by STREAM_STOP_TIMEOUT_S,
    TimeoutError still arrives, and the session's stopTimeout is put
    back."""
    import threading
    import time

    monkeypatch.setattr(SE, "STREAM_TIMEOUT_S", 1)
    monkeypatch.setattr(SE, "STREAM_STOP_TIMEOUT_S", 1)
    stop_key = "spark.sql.streaming.stopTimeout"
    before = spark.conf.get(stop_key)
    release = threading.Event()
    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    started = time.monotonic()
    try:
        with pytest.raises(TimeoutError) as timed_out:
            SE.run_stream(
                stream, "hung_sink",
                # bounded only so that an unbounded stop fails, not hangs
                foreach_batch=lambda batch_df, batch_id: release.wait(60),
            )
        assert time.monotonic() - started < 10
        assert timed_out.value.__cause__ is not None  # the stop timed out too
        assert spark.conf.get(stop_key) == before
    finally:
        release.set()
        for q in spark.streams.active:
            if q.name == "hung_sink":
                try:
                    q.awaitTermination(60)
                except Exception:  # noqa: BLE001 - ended by the interrupt
                    pass
    assert all(q.name != "hung_sink" for q in spark.streams.active)


def test_foreach_batch_helper_times_out_and_stops(spark, tmp_path, monkeypatch):
    """A foreachBatch helper drains through run_stream's bounded
    availableNow too: an upsert whose merge blocks past STREAM_TIMEOUT_S
    raises TimeoutError and leaves no query running."""
    import time

    from usedcars_bigdata_spark.streaming import sinks as SK

    monkeypatch.setattr(SE, "STREAM_TIMEOUT_S", 1)
    monkeypatch.setattr(SK, "merge_upsert", lambda *a, **k: time.sleep(5))
    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    with pytest.raises(TimeoutError):
        SK.upsert_to_parquet(
            stream, str(tmp_path / "target"), key="id",
            checkpoint=str(tmp_path / "ck"), query_name="blocked_upsert",
        )
    assert all(q.name != "blocked_upsert" for q in spark.streams.active)


def test_scratch_dir_is_removed_at_exit(tmp_path):
    """A scratch dir is keyed by applicationId, so no later process can
    reuse it: the process that asked for it removes it when it exits,
    and leaves another application's dir alone."""
    import subprocess
    import sys
    import textwrap

    other = tmp_path / "usedcars_t_sf0.001_local-other"
    other.mkdir()
    script = textwrap.dedent(f"""
        import os, tempfile, types
        from usedcars_bigdata_spark.plans.registry import scratch_dir
        tempfile.tempdir = {str(tmp_path)!r}
        spark = types.SimpleNamespace(
            sparkContext=types.SimpleNamespace(applicationId="local-mine"))
        for _ in range(2):  # registered once however often it is asked for
            path = scratch_dir(spark, "/data/sf0.001/", "t")
        os.makedirs(os.path.join(path, "ck"))
        print(path)
    """)
    import usedcars_bigdata_spark

    root = os.path.dirname(os.path.dirname(usedcars_bigdata_spark.__file__))
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        check=True, timeout=120, cwd=root,
    )
    mine = out.stdout.strip()
    assert mine == str(tmp_path / "usedcars_t_sf0.001_local-mine")
    assert not os.path.exists(mine)
    assert other.is_dir()


def test_replay_source_ascends_and_is_written_once(spark, tmp_path):
    """write_replay_source gives one file per micro-batch with strictly
    ascending mtimes in batch order (list order, then partition order
    within a range-partitioned batch), and a second call writes nothing."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "replay")
    ranged = spark.range(300).repartitionByRange(3, "id")
    tail = spark.range(300, 310).coalesce(1)
    assert SE.write_replay_source(src, [ranged, tail]) == src
    files = sorted(glob.glob(os.path.join(src, "*.parquet")), key=os.path.getmtime)
    assert len(files) == 4
    mtimes = [os.stat(f).st_mtime_ns for f in files]
    assert mtimes == sorted(set(mtimes))  # strictly ascending
    bounds = [
        spark.read.parquet(f).agg(F.min("id"), F.max("id")).first()
        for f in files
    ]
    assert all(a[1] < b[0] for a, b in zip(bounds, bounds[1:])), bounds
    assert bounds[-1] == (300, 309)

    def snapshot():
        return {
            f: os.stat(os.path.join(src, f)).st_mtime_ns for f in os.listdir(src)
        }

    before = snapshot()
    SE.write_replay_source(src, [spark.range(5)])
    assert snapshot() == before



def _exact_range_counts(micros, n):
    """Rows per range under the exact_ranges rule, computed in Python:
    cut j is Spark's exact percentile j / n of ``micros`` (position
    (count - 1) * j / n, linear between its neighbours) and a value's
    range is the number of cuts strictly below it."""
    import math

    values = sorted(micros)
    cuts = []
    for j in range(1, n):
        pos = (len(values) - 1) * (j / n)
        lo, hi = math.floor(pos), math.ceil(pos)
        if lo == hi or values[lo] == values[hi]:
            cuts.append(float(values[lo]))
        else:
            cuts.append((hi - pos) * values[lo] + (pos - lo) * values[hi])
    counts = [0] * n
    for v in values:
        counts[sum(c < v for c in cuts)] += 1
    return counts


def test_replay_ranges_are_exact_quantiles(spark, sf_dir, tmp_path):
    """The range-split replay sources cut at exact quantiles, so their
    batch sizes depend on the data alone: the multibatch events source
    and an hourly series with ties (the Holt-Winters source) hold, file by
    file in mtime order, the row counts the same rule gives when computed
    straight from the parquet file."""
    import pandas as pd
    from pyspark.sql import functions as F

    from usedcars_bigdata_spark.plans.queries import _multibatch_events_dir

    def file_counts(src):
        files = sorted(glob.glob(os.path.join(src, "part-*.parquet")),
                       key=os.path.getmtime)
        return [len(pd.read_parquet(f)) for f in files]

    ts = pd.read_parquet(os.path.join(sf_dir, "events.parquet"))[["event_type", "ts"]]
    micros = ts["ts"].astype("datetime64[us]").astype("int64")
    want = [c for c in _exact_range_counts(micros.tolist(), 3) if c]
    assert file_counts(_multibatch_events_dir(spark, sf_dir)) == want

    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("b")).count()
    )
    src = SE.write_replay_source(str(tmp_path / "hw"), [SE.exact_ranges(hourly, "b", 3)])
    hours = (
        ts.assign(b=ts["ts"].dt.floor("h")).drop_duplicates(["event_type", "b"])["b"]
        .astype("datetime64[us]").astype("int64")
    )
    assert hours.duplicated().any()  # several types per hour: ties at cuts
    want = [c for c in _exact_range_counts(hours.tolist(), 3) if c]
    assert file_counts(src) == want and len(want) == 3

def test_query_partitions_follow_plan_sources(spark, sf_dir, tmp_path):
    """The runner's count comes from the sources in the query's plan and
    equals the byte rule over that (dir, glob): for read_event_stream, for
    a raw readStream, and for a self-join, whose one source counts once.
    A source without a path keeps the batch default."""
    from pyspark.sql import functions as F

    from usedcars_bigdata_spark.streaming.joins import clicks_to_purchases

    events = SE.read_event_stream(spark, sf_dir)
    assert SE.stream_sources(events) == {(sf_dir, "events.parquet")}
    events_bytes = os.path.getsize(os.path.join(sf_dir, "events.parquet"))
    for floor in (4, 8):
        assert SE.query_shuffle_partitions(
            events, floor
        ) == SE._partitions_for_bytes(spark, events_bytes, floor)

    src = str(tmp_path / "raw")
    spark.range(100).write.parquet(src)
    raw = (
        spark.readStream.schema("id long")
        .option("pathGlobFilter", "*.parquet")
        .parquet(src)
    )
    assert SE.stream_sources(raw) == {(src, "*.parquet")}
    raw_bytes = sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(src, "*.parquet"))
    )
    assert SE.query_shuffle_partitions(raw) == SE._partitions_for_bytes(
        spark, raw_bytes, 4
    )

    joined = clicks_to_purchases(
        events.filter(F.col("event_type") == "click"),
        events.filter(F.col("event_type") == "purchase"),
        max_gap="1 hour",
        watermark="2 hours",
    )
    assert SE.stream_sources(joined) == {(sf_dir, "events.parquet")}

    rate = spark.readStream.format("rate").load()
    assert SE.stream_sources(rate) is None
    assert SE.query_shuffle_partitions(rate) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )


def _hourly_dedup(stream):
    from usedcars_bigdata_spark.streaming.dedup import (
        dedup_within_watermark,
        hourly_user_action_keys,
    )

    return dedup_within_watermark(
        hourly_user_action_keys(stream), ["user_id", "event_type", "hour_start"]
    ).select("user_id", "event_type", "hour_start")


def test_dedup_stream_skips_idle_trailing_batch(spark, sf_dir, batch_events):
    """A watermarked dedup into the memory sink on a temporary checkpoint
    only evicts state after its last data batch, so run_stream leaves the
    no-data batch out: one micro-batch, rows equal to batch DISTINCT."""
    from pyspark.sql import functions as F

    q = SE.run_stream(_hourly_dedup(SE.read_event_stream(spark, sf_dir)),
                      "dedup_one_batch")
    assert len(q.recentProgress) == 1, [p["numInputRows"] for p in q.recentProgress]
    cols = ["user_id", "event_type", "hour_start"]
    want = batch_events.select(
        "user_id", "event_type", F.date_trunc("hour", "ts").alias("hour_start")
    ).distinct()
    assert _rows(spark.table("dedup_one_batch"), cols) == _rows(want, cols)


def test_dedup_stream_with_checkpoint_keeps_trailing_batch(spark, sf_dir, tmp_path):
    """A caller checkpoint can be restarted from, so its state must be
    evicted: the same dedup keeps Spark's trailing no-data batch."""
    q = SE.run_stream(
        _hourly_dedup(SE.read_event_stream(spark, sf_dir)), "dedup_ck",
        checkpoint=str(tmp_path / "ck"),
    )
    inputs = [p["numInputRows"] for p in q.recentProgress]
    assert len(inputs) == 2 and inputs[-1] == 0, inputs


def test_finished_stream_state_is_unloaded(spark, sf_dir, tmp_path):
    """A run_stream run never resumes under its run id, so once it has
    terminated Spark's maintenance task unloads its state stores; the
    session's 1 s maintenance interval makes that happen within seconds
    (Spark's default, 60 s, keeps the whole final state on the heap for
    up to a minute)."""
    import time

    q = SE.run_stream(
        _hourly_dedup(SE.read_event_stream(spark, sf_dir)), "dedup_unload",
        checkpoint=str(tmp_path / "ck"),
    )
    assert not q.isActive
    jvm = spark.sparkContext._jvm
    state = jvm.org.apache.spark.sql.execution.streaming.state
    root = q._jsq.streamingQuery().resolvedCheckpointRoot() + "/state"
    run_id = jvm.java.util.UUID.fromString(q.runId)
    n_parts = q.lastProgress["stateOperators"][0]["numShufflePartitions"]
    assert n_parts > 0
    providers = [
        state.StateStoreProviderId(state.StateStoreId(root, 0, p, "default"), run_id)
        for p in range(n_parts)
    ]
    deadline = time.monotonic() + 10
    while (
        loaded := [p for p in providers if state.StateStore.isLoaded(p)]
    ) and time.monotonic() < deadline:
        time.sleep(0.2)
    assert not loaded, f"{len(loaded)}/{n_parts} state partitions still loaded"


def _clicks_and_purchases(spark, sf_dir):
    from pyspark.sql import functions as F

    stream = SE.read_event_stream(spark, sf_dir)
    return (
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
    )


def test_inner_stream_join_runs_one_batch(spark, sf_dir):
    """An inner interval join emits every pair in the batch that reads
    it; its trailing batch would only evict, so it is left out."""
    from usedcars_bigdata_spark.streaming.joins import clicks_to_purchases

    joined = clicks_to_purchases(*_clicks_and_purchases(spark, sf_dir))
    q = SE.run_stream(joined, "inner_join_one_batch")
    assert len(q.recentProgress) == 1, [p["numInputRows"] for p in q.recentProgress]
    assert spark.table("inner_join_one_batch").count() > 0


def test_left_outer_stream_join_keeps_trailing_batch(spark, sf_dir):
    """A left-outer join emits its null-padded rows when the watermark
    passes, i.e. in the trailing no-data batch: that batch is kept and
    writes them."""
    from usedcars_bigdata_spark.streaming.joins import clicks_left_outer_purchases

    joined = clicks_left_outer_purchases(*_clicks_and_purchases(spark, sf_dir))
    assert not SE._only_evicts_state(joined)
    q = SE.run_stream(joined, "left_outer_trailing")
    last = q.recentProgress[-1]
    assert len(q.recentProgress) >= 2 and last["numInputRows"] == 0
    assert last["sink"]["numOutputRows"] > 0, last["sink"]
    nulls = spark.table("left_outer_trailing").filter("purchase_id IS NULL")
    assert nulls.count() > 0


def test_only_run_stream_starts_streams():
    """Structural guard for the one stream lifecycle: in the package,
    ``.writeStream`` is touched only inside streaming.events.run_stream,
    and nothing under plans/ or streaming/ sets
    spark.sql.shuffle.partitions except run_stream, and nothing in the
    package but run_stream sets the trailing-batch or stop-timeout
    stream confs; no code drains a
    query by hand (``processAllAvailable``) or keeps one running
    (``available_now``); plans/ never sleeps to order replay files, and
    only ``scratch_dir`` names a temp directory there."""
    import ast
    import pathlib

    import usedcars_bigdata_spark

    root = pathlib.Path(usedcars_bigdata_spark.__file__).parent
    key = "spark.sql.shuffle.partitions"
    stream_keys = ("noDataMicroBatches", "stopTimeout")
    writers, setters, stream_setters, drains, sleeps, tempdirs = (
        [], [], [], [], [], []
    )
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text())
        owner = {}
        for fn in ast.walk(tree):  # outer defs first, so inner ones win
            if isinstance(fn, ast.FunctionDef):
                for node in ast.walk(fn):
                    owner[node] = fn
        for node in ast.walk(tree):
            scope = owner.get(node, tree)
            where = (rel, getattr(scope, "name", "<module>"))
            if isinstance(node, ast.Attribute) and node.attr == "writeStream":
                writers.append(where)
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "processAllAvailable"
            ) or (
                isinstance(node, (ast.arg, ast.keyword))
                and node.arg == "available_now"
            ):
                drains.append(where)
            if (
                rel.startswith(("plans/", "streaming/"))
                and isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("set", "config", "sql")
                and any(
                    isinstance(c, ast.Constant) and isinstance(c.value, str)
                    and key in c.value
                    for c in ast.walk(scope)
                )
            ):
                setters.append(where)
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("set", "config", "sql")
                and any(
                    isinstance(c, ast.Constant) and isinstance(c.value, str)
                    and any(k in c.value for k in stream_keys)
                    for c in ast.walk(scope)
                )
            ):
                stream_setters.append(where)
            if rel.startswith("plans/") and isinstance(node, ast.Call):
                func = ast.unparse(node.func)
                if func.endswith("sleep"):
                    sleeps.append(where)
                if func.endswith("gettempdir"):
                    tempdirs.append(where)
    runner = ("streaming/events.py", "run_stream")
    assert writers and set(writers) == {runner}, writers
    assert set(setters) <= {runner}, setters
    assert stream_setters and set(stream_setters) == {runner}, stream_setters
    assert drains == [], drains
    assert sleeps == [], sleeps
    assert tempdirs == [("plans/registry.py", "scratch_dir")], tempdirs


def test_memory_sink_view_is_dropped_after_read(spark, sf_dir, batch_events):
    """ts_stream_dedup reads its memory sink through take_sink: the sink's
    temp view is gone from the catalog, so no later session clone copies
    it, and the returned frame still reads every row."""
    from pyspark.sql import functions as F

    from usedcars_bigdata_spark.plans import QUERIES

    got = QUERIES["ts_stream_dedup"](spark, sf_dir)
    assert not spark.catalog.tableExists("ts_stream_dedup_sink")
    want = batch_events.select(
        "user_id", "event_type", F.date_trunc("hour", "ts").alias("hour_start")
    ).distinct()
    n = want.count()
    assert n > 0 and len(got.toPandas()) == n


def test_plans_read_memory_sinks_through_take_sink():
    """Structural guard: an entry under plans/ that runs a memory-sink
    stream reads the sink with streaming.events.take_sink, and no entry
    there calls ``.table(...)`` on a stream sink, which would leave the
    sink's view, and its rows, in the session catalog."""
    import ast
    import pathlib

    import usedcars_bigdata_spark

    plans = pathlib.Path(usedcars_bigdata_spark.__file__).parent / "plans"
    unread, direct = [], []
    for path in sorted(plans.rglob("*.py")):
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, ast.FunctionDef):
                continue
            calls = [n for n in ast.walk(fn) if isinstance(n, ast.Call)]
            names = {ast.unparse(c.func).rsplit(".", 1)[-1] for c in calls}
            streams = [
                c for c in calls
                if ast.unparse(c.func).endswith("run_stream")
                and not any(k.arg == "foreach_batch" for k in c.keywords)
            ]
            where = (path.name, fn.name)
            if streams and "take_sink" not in names:
                unread.append(where)
            for c in calls:
                if not (isinstance(c.func, ast.Attribute) and c.func.attr == "table"):
                    continue
                arg = ast.unparse(c.args[0]).strip("'\"") if c.args else ""
                if streams or arg == "sink" or arg.endswith("_sink"):
                    direct.append(where)
    assert unread == [], unread
    assert direct == [], direct
