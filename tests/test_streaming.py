"""Streaming ≡ batch equivalence: the same transformation functions, fed by
readStream over the harness events parquet, must produce exactly the batch
result once all input is processed."""

from __future__ import annotations

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
    try:
        q.processAllAvailable()
    finally:
        q.stop()
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
    try:
        q.processAllAvailable()
    finally:
        q.stop()
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


def test_stream_shuffle_partitions_scale_adaptive(spark, tmp_path):
    """r12 optimization: streaming queries size their shuffle/state
    partitioning to the SOURCE bytes (~64 MiB per partition, floor 4,
    capped at the session batch default) instead of inheriting the
    cores-sized batch default — state stores are a per-partition,
    per-micro-batch commit cost. Pins the derivation rule's edges:
    tiny source → floor; unmeasurable source → batch default (never
    the local floor, which would serialize a production stream);
    big source → bytes-derived but capped."""
    from usedcars_bigdata_spark.streaming.events import (
        stream_shuffle_partitions,
    )

    batch_default = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # tiny local source → the compute-parallelism floor (a tmp_path
    # source of known size, NOT the sf_dir fixture: at a larger sf dir
    # events.parquet can exceed one target span and the assert would
    # fail for environment reasons — ADVICE r12)
    tiny = tmp_path / "tiny"
    tiny.mkdir()
    (tiny / "one.bin").write_bytes(b"\0" * 1024)
    assert stream_shuffle_partitions(spark, str(tiny), "*.bin") == 4

    # per-operator-type floor (r13): compute-heavy operators pass a
    # higher floor; still capped at the batch default
    assert stream_shuffle_partitions(
        spark, str(tiny), "*.bin", floor=8
    ) == min(8, batch_default)

    # unmeasurable source (missing path: os.walk yields nothing) →
    # batch default, NOT the floor
    assert (
        stream_shuffle_partitions(spark, str(tmp_path / "nope"), "*")
        == batch_default
    )

    # bytes-derived: 3 files x 1 MiB at target 1 MiB → 3, floored to 4;
    # at target 256 KiB → 12, capped at the batch default
    d = tmp_path / "src"
    d.mkdir()
    for i in range(3):
        (d / f"f{i}.bin").write_bytes(b"\0" * (1 << 20))
    assert stream_shuffle_partitions(
        spark, str(d), "*.bin", target_bytes=1 << 20
    ) == 4
    capped = stream_shuffle_partitions(
        spark, str(d), "*.bin", target_bytes=256 << 10
    )
    assert capped == min(12, batch_default)


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

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with pytest.raises(AnalysisException):
        SE.run_stream(
            SE.read_event_stream(spark, sf_dir), "bad_mode_sink",
            output_mode="complete",
        )
    assert spark.conf.get(key) == before
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


def test_query_partitions_follow_plan_sources(spark, sf_dir, tmp_path):
    """The runner's count comes from the sources in the query's plan and
    equals the byte rule over that (dir, glob): for read_event_stream, for
    a raw readStream, and for a self-join, whose one source counts once.
    A source without a path keeps the batch default."""
    from pyspark.sql import functions as F

    from usedcars_bigdata_spark.streaming.joins import clicks_to_purchases

    events = SE.read_event_stream(spark, sf_dir)
    assert SE.stream_sources(events) == {(sf_dir, "events.parquet")}
    for floor in (4, 8):
        assert SE.query_shuffle_partitions(
            events, floor
        ) == SE.stream_shuffle_partitions(
            spark, sf_dir, "events.parquet", floor=floor
        )

    src = str(tmp_path / "raw")
    spark.range(100).write.parquet(src)
    raw = (
        spark.readStream.schema("id long")
        .option("pathGlobFilter", "*.parquet")
        .parquet(src)
    )
    assert SE.stream_sources(raw) == {(src, "*.parquet")}
    assert SE.query_shuffle_partitions(raw) == SE.stream_shuffle_partitions(
        spark, src, "*.parquet"
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


def test_only_run_stream_starts_streams():
    """Structural guard: in the package, ``.writeStream`` is touched only
    inside streaming.events.run_stream, and nothing under plans/ or
    streaming/ sets spark.sql.shuffle.partitions except run_stream."""
    import ast
    import pathlib

    import usedcars_bigdata_spark

    root = pathlib.Path(usedcars_bigdata_spark.__file__).parent
    key = "spark.sql.shuffle.partitions"
    writers, setters = [], []
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
    runner = ("streaming/events.py", "run_stream")
    assert writers and set(writers) == {runner}, writers
    assert set(setters) <= {runner}, setters
