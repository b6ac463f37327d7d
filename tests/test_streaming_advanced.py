"""Advanced streaming semantics: watermark late-data dropping (append mode)
and the foreachBatch exactly-once upsert sink."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from usedcars_bigdata_spark.streaming import events as SE
from usedcars_bigdata_spark.streaming import sinks as SK


def _write_events(spark, path, rows):
    df = spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )
    df.coalesce(1).write.mode("append").parquet(path)


def _ns(minute: int) -> int:
    # nanos since epoch for 2024-01-01 00:<minute>:00 UTC
    return (1_704_067_200 + minute * 60) * 1_000_000_000


def test_watermark_drops_late_rows_in_append_mode(spark, tmp_path):
    """Append-mode windowed agg with a 10-minute watermark: a row arriving
    AFTER its window's watermark has passed must be dropped, not resurrect
    a finalized window."""
    src = str(tmp_path / "events_src")
    _write_events(
        spark,
        src,
        [
            (1, _ns(1), 1, "view", 1.0, "{}"),
            (2, _ns(6), 1, "view", 1.0, "{}"),   # window [00:05,00:10)
            (3, _ns(40), 1, "view", 1.0, "{}"),  # advances watermark to 00:30
        ],
    )
    stream = SE.read_event_stream(spark, src, glob="*.parquet")
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        # late row for the long-closed first window (event time 00:02,
        # watermark already at 00:30)
        _write_events(spark, src, [(4, _ns(2), 1, "view", 1.0, "{}")])
        q.processAllAvailable()
        # a watermark-advancing row so closed windows flush
        _write_events(spark, src, [(5, _ns(80), 1, "view", 1.0, "{}")])
        q.processAllAvailable()
        got = {r["ws"].minute: r["n"] for r in spark.sql("SELECT * FROM wm_out").collect()}
        # first window [00:00,00:05) must report 1 (event 1 only) — the late
        # event 4 was dropped; if the watermark didn't drop it, n would be 2.
        assert got.get(0) == 1, got
        assert got.get(5) == 1, got
    finally:
        q.stop()


def test_foreachbatch_upsert_sink(spark, sf_dir, tmp_path):
    """The upsert sink drains what is there and terminates; input
    appended afterwards lands when the query restarts on the same
    checkpoint, updating key 1 and inserting key 3."""
    target = str(tmp_path / "target")
    src = str(tmp_path / "upsert_src")

    def drain():
        stream = SE.read_event_stream(spark, src, glob="*.parquet").select(
            "event_id", "user_id", "value"
        )
        q = SK.upsert_to_parquet(
            stream, target, key="event_id", checkpoint=str(tmp_path / "ck2")
        )
        assert not q.isActive
        return {
            r["event_id"]: r["value"] for r in spark.read.parquet(target).collect()
        }

    _write_events(spark, src, [(1, _ns(0), 10, "view", 1.0, "{}"),
                               (2, _ns(1), 20, "view", 2.0, "{}")])
    assert drain() == {1: 1.0, 2: 2.0}
    # second batch: update key 1, insert key 3
    _write_events(spark, src, [(1, _ns(2), 10, "view", 9.0, "{}"),
                               (3, _ns(3), 30, "view", 3.0, "{}")])
    assert drain() == {1: 9.0, 2: 2.0, 3: 3.0}


def test_merge_upsert_idempotent(spark, tmp_path):
    target = str(tmp_path / "t2")
    updates = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    SK.merge_upsert(spark, target, updates, "k")
    SK.merge_upsert(spark, target, updates, "k")  # replay == no-op
    got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "a", 2: "b"}


def test_merge_upsert_restores_old_after_mid_swap_crash(spark, tmp_path):
    """r9 ADVICE: a crash between rename(target, __old) and
    rename(__tmp, target) leaves __old holding the ONLY copy of the
    state; the next merge_upsert must RESTORE it (fold on top of it),
    not sweep it as leftover — sweeping reset the state to the replayed
    batch alone."""
    import os

    target = str(tmp_path / "t3")
    SK.merge_upsert(
        spark, target, spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), "k"
    )
    # Simulate the crash window: target renamed aside, new dir never
    # renamed in (the in-flight batch's __tmp is gone with the JVM).
    os.rename(target, target + "__old")
    assert not os.path.exists(target)
    # Replayed batch only carries key 2 — without the restore, key 1's
    # accumulated row would vanish permanently.
    SK.merge_upsert(
        spark, target, spark.createDataFrame([(2, "B")], "k long, v string"), "k"
    )
    got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "a", 2: "B"}
    assert not os.path.exists(target + "__old")
    # ...and a stale __old NEXT TO an intact target is still swept, not
    # restored over it.
    os.makedirs(target + "__old")
    SK.merge_upsert(
        spark, target, spark.createDataFrame([(3, "c")], "k long, v string"), "k"
    )
    got = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def test_replay_marker_atomic_with_state_and_run_scoped(spark, tmp_path):
    """r9 ADVICE pair: (a) the replay marker commits in the SAME rename
    as the state (no marker-less folded state window); (b) markers are
    namespaced by the checkpoint's query id, so reusing a state_dir with
    a fresh checkpoint (batch ids restart at 0) does not suppress the
    new run's early batches."""
    import json
    import os

    from usedcars_bigdata_spark.streaming.dedup import (
        _already_applied,
        _replay_marker,
    )

    state = str(tmp_path / "state")
    ck1 = str(tmp_path / "ck1")
    os.makedirs(ck1)
    with open(os.path.join(ck1, "metadata"), "w") as fh:
        json.dump({"id": "run-one"}, fh)
    updates = spark.createDataFrame([(1, "a")], "k long, v string")
    SK.merge_upsert(spark, state, updates, "k", marker=_replay_marker(ck1, 3))
    # marker landed INSIDE the swapped dir and is invisible to the reader
    assert os.path.exists(os.path.join(state, "_last_batch"))
    assert spark.read.parquet(state).count() == 1
    assert _already_applied(state, 3, ck1)
    assert _already_applied(state, 2, ck1)
    assert not _already_applied(state, 4, ck1)
    # fresh checkpoint (new query id) → stale marker must NOT suppress
    ck2 = str(tmp_path / "ck2")
    os.makedirs(ck2)
    with open(os.path.join(ck2, "metadata"), "w") as fh:
        json.dump({"id": "run-two"}, fh)
    assert not _already_applied(state, 0, ck2)


def test_merge_upsert_carries_marker_forward_when_none(spark, tmp_path):
    """r10 ADVICE: a marker-less merge_upsert into a target whose
    previous swap committed a _last_batch (a plain upsert_to_parquet
    pointed at a stateful consumer's state_dir) must carry the existing
    marker into the new state, not silently strip the replay guard."""
    import os

    target = str(tmp_path / "t4")
    u1 = spark.createDataFrame([(1, "a")], "k long, v string")
    SK.merge_upsert(spark, target, u1, "k", marker="run-x\n7")
    # marker-less follow-up merge (different caller, same target)
    SK.merge_upsert(
        spark, target, spark.createDataFrame([(2, "b")], "k long, v string"), "k"
    )
    with open(os.path.join(target, "_last_batch")) as fh:
        assert fh.read() == "run-x\n7"
    # ...and an explicit marker still overwrites it.
    SK.merge_upsert(spark, target, u1, "k", marker="run-x\n8")
    with open(os.path.join(target, "_last_batch")) as fh:
        assert fh.read() == "run-x\n8"


def test_recover_restores_before_handler_reads(spark, tmp_path):
    """r10 ADVICE (medium): the mid-swap-crash restore must be callable
    BEFORE the handler's replay check and state read — recover() is that
    entry point. After recover(), the state dir holds the surviving
    __old copy (marker included), so _already_applied sees the committed
    marker and the batch folds against the recovered state rather than
    empty state."""
    import json
    import os

    from usedcars_bigdata_spark.streaming.dedup import _already_applied
    from usedcars_bigdata_spark.streaming.sinks import recover

    ck = str(tmp_path / "ck")
    os.makedirs(ck)
    with open(os.path.join(ck, "metadata"), "w") as fh:
        json.dump({"id": "run-r"}, fh)
    state = str(tmp_path / "state")
    SK.merge_upsert(
        spark,
        state,
        spark.createDataFrame([(1, "a")], "k long, v string"),
        "k",
        marker="run-r\n5",
    )
    # crash window: state renamed aside, new dir never renamed in
    os.rename(state, state + "__old")
    # the r10 defect: os.path.exists(state) is False here, so a handler
    # reading state directly would fold against EMPTY state
    assert not os.path.exists(state)
    recover(state)
    assert os.path.exists(state)
    assert not os.path.exists(state + "__old")
    assert {r["k"]: r["v"] for r in spark.read.parquet(state).collect()} == {1: "a"}
    assert _already_applied(state, 5, ck)
    # idempotent: recover with nothing to do is a no-op
    recover(state)
    assert spark.read.parquet(state).count() == 1


def test_run_token_cached_per_handler(tmp_path):
    """r10 ADVICE: _RunToken resolves the checkpoint's query id ONCE and
    keeps answering it even if the metadata file later becomes
    unreadable — the marker write and the replay check can never use
    different tokens within one run."""
    import json
    import os

    from usedcars_bigdata_spark.streaming.dedup import _RunToken

    ck = str(tmp_path / "ck")
    os.makedirs(ck)
    with open(os.path.join(ck, "metadata"), "w") as fh:
        json.dump({"id": "stable-id"}, fh)
    tok = _RunToken(ck)
    assert tok.get() == "stable-id"
    os.remove(os.path.join(ck, "metadata"))  # transient unreadability
    assert tok.get() == "stable-id"
    # an uncached resolution would now fall back to the path form
    from usedcars_bigdata_spark.streaming.dedup import _run_token

    assert _run_token(ck) == os.path.abspath(ck)


def test_stream_stream_interval_join(spark, sf_dir):
    """Stream-stream time-interval join matches the identical batch join
    once all input is processed."""
    from usedcars_bigdata_spark.sources import load_table
    from usedcars_bigdata_spark.streaming import joins as SJ

    def split(ev):
        return (
            ev.filter(F.col("event_type") == "click"),
            ev.filter(F.col("event_type") == "purchase"),
        )

    stream = SE.read_event_stream(spark, sf_dir)
    sq = (
        SJ.clicks_to_purchases(*split(stream))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_join_out")
        .start()
    )
    try:
        sq.processAllAvailable()
        got = spark.sql("SELECT * FROM ss_join_out")
        batch = load_table(spark, sf_dir, "events")
        want = SJ.clicks_to_purchases(*split(batch))
        cols = ["user_id", "click_id", "purchase_id"]
        got_rows = sorted(tuple(r[c] for c in cols) for r in got.collect())
        want_rows = sorted(tuple(r[c] for c in cols) for r in want.collect())
        assert got_rows == want_rows
        assert len(got_rows) > 0
        # interval constraint holds on every output row
        bad = got.filter(
            (F.col("click_ts") > F.col("purchase_ts"))
            | (F.col("click_ts") < F.col("purchase_ts") - F.expr("INTERVAL 1 hour"))
        ).count()
        assert bad == 0
    finally:
        sq.stop()


def test_checkpoint_restart_resumes_exactly_once(spark, tmp_path):
    """Exactly-once across QUERY RESTARTS: stop a foreachBatch upsert
    query, append new input, restart a fresh query on the SAME
    checkpoint — already-committed batches must not be replayed into the
    target (no duplicate merges), and only the new input lands."""
    target = str(tmp_path / "restart_target")
    src = str(tmp_path / "restart_src")
    ck = str(tmp_path / "restart_ck")
    _write_events(spark, src, [(1, _ns(0), 10, "view", 1.0, "{}"),
                               (2, _ns(1), 20, "view", 2.0, "{}")])

    def start():
        stream = SE.read_event_stream(spark, src, glob="*.parquet").select(
            "event_id", "user_id", "value"
        )
        return SK.upsert_to_parquet(
            stream, target, key="event_id", checkpoint=ck,
            query_name="restart_upsert",
        )

    q = start()
    assert not q.isActive
    assert {
        r["event_id"]: r["value"] for r in spark.read.parquet(target).collect()
    } == {1: 1.0, 2: 2.0}

    # input appended while the query is DOWN
    _write_events(spark, src, [(3, _ns(2), 30, "view", 3.0, "{}")])
    q2 = start()
    assert not q2.isActive
    got = {r["event_id"]: r["value"] for r in spark.read.parquet(target).collect()}
    # keys 1/2 exactly once (not re-merged as duplicates), key 3 arrived
    assert got == {1: 1.0, 2: 2.0, 3: 3.0}
    assert spark.read.parquet(target).count() == 3


def test_stream_stream_left_outer_emits_nulls_after_watermark(spark, tmp_path):
    """LEFT OUTER stream-stream join: a click with no purchase within the
    interval must eventually emit with NULL purchase columns — but only
    once the watermark has passed the click's join horizon (before that,
    a matching purchase could still arrive, so the engine must hold it).
    This pins the semantics that distinguish outer from inner stream
    joins: nulls are watermark-driven, not batch-driven."""
    src = str(tmp_path / "ev_src")
    # batch 1: one click (user 1) with a match, one click (user 2) without
    _write_events(
        spark,
        src,
        [
            (1, _ns(0), 1, "click", 1.0, "{}"),
            (2, _ns(5), 1, "purchase", 9.0, "{}"),
            (3, _ns(0), 2, "click", 1.0, "{}"),
        ],
    )
    stream = SE.read_event_stream(spark, src, glob="*.parquet")
    clicks = stream.filter(F.col("event_type") == "click")
    purchases = stream.filter(F.col("event_type") == "purchase")
    c = clicks.withWatermark("ts", "10 minutes").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", "10 minutes").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (c.user_id == p.p_user_id)
        & (p.purchase_ts >= c.click_ts)
        & (p.purchase_ts <= c.click_ts + F.expr("INTERVAL 1 HOUR"))
    )
    joined = c.join(p, cond, "left_outer")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("lo_join_out")
        .option("checkpointLocation", str(tmp_path / "ck_lo"))
        .start()
    )
    try:
        q.processAllAvailable()
        mid = {
            r["click_id"]: r["purchase_id"]
            for r in spark.sql("SELECT * FROM lo_join_out").collect()
        }
        # the matched pair may emit immediately; the unmatched click must NOT
        # have emitted a null row yet (its horizon hasn't passed)
        assert 3 not in mid, mid
        assert mid.get(1, 2) == 2, mid  # if the match emitted, it's correct
        # advance event time far past click 3's horizon (1h interval + 10m wm)
        _write_events(spark, src, [(9, _ns(300), 3, "click", 1.0, "{}")])
        q.processAllAvailable()
        _write_events(spark, src, [(10, _ns(600), 3, "purchase", 1.0, "{}")])
        q.processAllAvailable()
        got = {
            r["click_id"]: r["purchase_id"]
            for r in spark.sql("SELECT * FROM lo_join_out").collect()
        }
        assert got[1] == 2  # matched within interval
        assert 3 in got and got[3] is None  # unmatched click emitted with NULLs
    finally:
        q.stop()


def test_streaming_near_dup_equals_batch_lsh_rule(spark, sf_dir, tmp_path):
    """Stream the documents corpus in doc_id-ordered micro-batches through
    the LSH near-dup detector; the emitted flags must equal the batch rule
    'doc shares a band bucket with any smaller doc_id' computed on the
    full corpus in one pass."""
    import os

    from usedcars_bigdata_spark.ext.dedup import (
        band_keys,
        minhash_signatures_from_arrays,
        shingle_arrays,
    )
    from usedcars_bigdata_spark.sources import load_table
    from usedcars_bigdata_spark.streaming.dedup import streaming_near_dup_flags

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "docs_src")
    # Three id-ordered files with ascending mtimes: the file source
    # orders micro-batches by modification time, and the batch-equality
    # check rests on monotone arrival.
    n_docs = docs.count()
    SE.write_replay_source(src, [
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(1)
        for lo, hi in [(0, n_docs // 3), (n_docs // 3, 2 * n_docs // 3),
                       (2 * n_docs // 3, n_docs + 10**9)]
    ])

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(src)
    )
    q = streaming_near_dup_flags(
        stream,
        state_dir=str(tmp_path / "state"),
        out_dir=str(tmp_path / "flags"),
        checkpoint=str(tmp_path / "ck"),
    )
    assert not q.isActive
    assert len(q.recentProgress) >= 3

    got = {
        r.doc_id: r.is_near_dup
        for r in spark.read.parquet(str(tmp_path / "flags")).collect()
    }
    banded = band_keys(
        minhash_signatures_from_arrays(
            shingle_arrays(docs, "doc_id", "text"), "doc_id"
        ),
        "doc_id",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("band", "sig")
    want = {
        r.doc_id: r.is_near_dup
        for r in banded.withColumn("min_id", F.min("doc_id").over(w))
        .groupBy("doc_id")
        .agg((F.min("min_id") < F.col("doc_id")).alias("is_near_dup"))
        .collect()
    }
    assert got == want
    assert any(got.values()), "corpus has planted near-dups; none flagged"


def test_streaming_holt_winters_equals_batch(spark, sf_dir, tmp_path):
    """Stream the hourly per-type series in three time-ordered
    micro-batches through the stateful smoother; the emitted rows must
    equal the batch operator on the full series — the recurrence's state
    genuinely survives the batch boundaries and a restart-shaped state
    round-trip through parquet."""
    from usedcars_bigdata_spark.operators.timeseries import (
        holt_winters_additive,
    )
    from usedcars_bigdata_spark.sources import load_table
    from usedcars_bigdata_spark.streaming.dedup import streaming_holt_winters

    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("b"))
        .agg(F.count("*").cast("double").alias("x"))
    )
    src = str(tmp_path / "hw_src")
    lo, hi = hourly.agg(F.min("b"), F.max("b")).first()
    import datetime as dt

    span = (hi - lo) / 3
    cuts = [(lo + span * i, lo + span * (i + 1) + (dt.timedelta(days=999) if i == 2 else dt.timedelta(0))) for i in range(3)]
    SE.write_replay_source(src, [
        hourly.filter((F.col("b") >= a) & (F.col("b") < b)).coalesce(1)
        for a, b in cuts
    ])

    stream = (
        spark.readStream.schema("event_type string, b timestamp, x double")
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(src)
    )
    q = streaming_holt_winters(
        stream,
        state_dir=str(tmp_path / "state"),
        out_dir=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ck"),
        key_col="event_type",
        order_col="b",
        value_col="x",
    )
    assert not q.isActive
    assert len(q.recentProgress) >= 3

    got = sorted(
        (r.event_type, r.rn, r.x, r.level, r.trend, r.seasonal)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    want = sorted(
        (r.event_type, r.rn, r.x, r.level, r.trend, r.seasonal)
        for r in holt_winters_additive(
            hourly, "event_type", "b", "x", season=24
        ).collect()
    )
    assert got == want
    assert len(got) > 50


def test_streaming_sessionize_equals_batch_closed_sessions(spark, tmp_path):
    """streaming_sessionize == batch twin (gap sessions minus each user's
    open last session) across genuinely separate micro-batches, with a
    session spanning the batch boundary. The replay files carry distinct
    ascending mtimes because the file source orders same-mtime files
    nondeterministically — the round-5 lesson behind the entry's
    stamped source."""
    import datetime as dt

    from pyspark.sql import functions as F

    from usedcars_bigdata_spark.streaming.stateful import (
        streaming_sessionize,
        streaming_sessionize_batch_twin,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0)
    m = dt.timedelta(minutes=1)
    schema = "user_id long, ts timestamp, event_id long"
    # file 1: u1 session A (2 events) + session B first event
    f1 = [(1, t0, 1), (1, t0 + 5 * m, 2), (1, t0 + 60 * m, 3)]
    # file 2: session B SECOND event (spans the boundary, 10 min later),
    # then session C (closes B); u2 single session
    f2 = [(1, t0 + 70 * m, 4), (1, t0 + 150 * m, 5), (2, t0 + 150 * m, 6)]
    # file 3: session D (closes C); u2 session 2 (closes u2's first)
    f3 = [(1, t0 + 300 * m, 7), (2, t0 + 300 * m, 8)]
    src = str(tmp_path / "src")
    batch_rows = f1 + f2 + f3
    SE.write_replay_source(
        src, [spark.createDataFrame(rows, schema).coalesce(1) for rows in (f1, f2, f3)]
    )

    stream = streaming_sessionize(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_eq_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= 3
    got = sorted(
        (r.user_id, r.session_seq, r.session_start, r.session_end, r.n_events)
        for r in spark.table("sess_eq_test").collect()
    )
    twin = streaming_sessionize_batch_twin(
        spark.createDataFrame(batch_rows, schema)
    )
    want = sorted(
        (r.user_id, r.session_seq, r.session_start, r.session_end, r.n_events)
        for r in twin.collect()
    )
    assert got == want
    # the boundary-spanning session B must be one session of 2 events
    b = [r for r in got if r[0] == 1 and r[1] == 2]
    assert len(b) == 1 and b[0][4] == 2
    assert b[0][2] == t0 + 60 * m and b[0][3] == t0 + 70 * m


def test_late_data_contract_pinned(spark, sf_dir):
    """Pin the MEASURED Spark 4.1 late-data contract: rows arriving far
    behind the watermark are NOT dropped when their windows were never
    finalized — the drop metric stays 0 and the late-range windows are
    emitted. If a Spark upgrade changes admission semantics, this fails
    loudly and the audit entry's documentation must be revisited."""
    from usedcars_bigdata_spark.plans import QUERIES

    r = QUERIES["rows_stream_late_drops"](spark, sf_dir).collect()[0]
    assert r.n_batches >= 3
    assert r.planted_late_rows > 0
    assert r.dropped_by_watermark_metric == 0
    assert r.late_range_windows_emitted > 0
    assert r.total_emitted >= r.late_range_windows_emitted


def test_stream_left_outer_join_matched_and_null_rows(spark, tmp_path):
    """LEFT OUTER stream-stream interval join: matched rows equal the
    batch inner join; null rows appear ONLY for clicks with no purchase
    within the gap AND only once the watermark has provably passed
    click_ts + gap; no click emits both a match and a null row."""
    import datetime as dt

    from pyspark.sql import functions as F

    from usedcars_bigdata_spark.streaming.joins import (
        clicks_left_outer_purchases,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0)
    m = dt.timedelta(minutes=1)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    # file 1: u1 click matched 30min later; u2 click NEVER matched
    f1 = [
        (1, t0, 1, "click", 0.0),
        (2, t0 + 30 * m, 1, "purchase", 9.5),
        (3, t0, 2, "click", 0.0),
    ]
    # file 2: u3 click matched; late event advances watermark far past
    # u2's click+1h so its null row must flush
    f2 = [
        (4, t0 + 60 * m, 3, "click", 0.0),
        (5, t0 + 90 * m, 3, "purchase", 4.0),
        (6, t0 + 600 * m, 9, "view", 0.0),
    ]
    # file 3: LATE events on BOTH sides, far ahead. Two requirements the
    # first cut of this test missed: (a) the watermark columns live AFTER
    # the event_type filters, so a "view" row advances nothing; (b) the
    # GLOBAL watermark is the MIN across both branch watermarks — a late
    # click alone leaves the purchases branch (and thus the global
    # watermark) stuck at its last purchase, and no state ever expires.
    # Different users so the two late events don't match each other.
    f3 = [(7, t0 + 1200 * m, 9, "click", 0.0),
          (8, t0 + 1200 * m, 8, "purchase", 1.0)]
    src = str(tmp_path / "ev")
    rows_all = f1 + f2 + f3
    SE.write_replay_source(
        src, [spark.createDataFrame(rows, schema).coalesce(1) for rows in (f1, f2, f3)]
    )

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    joined = clicks_left_outer_purchases(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
        max_gap="1 hour",
        watermark="2 hours",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("lo_join_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("lo_join_test").collect()
    matched = {(r.click_id, r.purchase_id) for r in out if r.purchase_id is not None}
    nulls = {r.click_id for r in out if r.purchase_id is None}
    assert matched == {(1, 2), (4, 5)}
    # u2's click (id 3) expired far behind the final watermark -> null row
    assert 3 in nulls
    # no click both matched and null
    assert not nulls & {c for c, _ in matched}


def test_streaming_token_bucket_equals_batch_across_boundaries(spark, tmp_path):
    """Streaming token bucket == batch operator even when a user's events
    span micro-batches (state carries tokens + last-seen across the
    boundary) — including a refill accrued ACROSS the boundary."""
    import datetime as dt

    from usedcars_bigdata_spark.operators.timeseries import (
        token_bucket_admission,
    )
    from usedcars_bigdata_spark.streaming.stateful import (
        streaming_token_bucket,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0)
    m = dt.timedelta(minutes=1)
    schema = "user_id long, ts timestamp, event_id long"
    # capacity 2, rate 1/h: u1 drains in batch 1, gets rejected at the
    # start of batch 2, then admitted after cross-boundary refill
    f1 = [(1, t0, 1), (1, t0 + 1 * m, 2), (1, t0 + 2 * m, 3)]
    f2 = [(1, t0 + 3 * m, 4), (1, t0 + 70 * m, 5), (2, t0 + 70 * m, 6)]
    src = str(tmp_path / "tb")
    rows_all = f1 + f2
    SE.write_replay_source(
        src, [spark.createDataFrame(rows, schema).coalesce(1) for rows in (f1, f2)]
    )
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = (
        streaming_token_bucket(stream, rate_per_hour=1, capacity=2)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("tb_eq_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= 2
    got = sorted(
        (r.user_id, r.event_id, r.rn, r.admitted, r.tokens)
        for r in spark.table("tb_eq_test").collect()
    )
    want = sorted(
        (r.user_id, r.event_id, r.rn, r.admitted, r.tokens)
        for r in token_bucket_admission(
            spark.createDataFrame(rows_all, schema),
            "user_id", "ts", "event_id", rate_per_hour=1, capacity=2,
        ).collect()
    )
    assert got == want
    by_id = {e: a for _, e, _, a, _ in got}
    assert by_id[1] and by_id[2] and not by_id[3]  # burst drains, reject
    assert not by_id[4]                            # still empty in batch 2
    assert by_id[5]                                # cross-boundary refill


def test_stream_user_totals_multibatch_equals_batch(spark, sf_dir, tmp_path):
    """Stateful running totals across 3 micro-batches == one-shot batch."""
    from usedcars_bigdata_spark.sources import load_table
    from usedcars_bigdata_spark.streaming.events import (
        read_event_stream,
        user_spend_totals,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "mb")
    events.repartitionByRange(3, "ts").write.mode("overwrite").parquet(src)
    sink = "test_stream_topk_sink"
    for q in spark.streams.active:
        if q.name == sink:
            q.stop()
    totals = user_spend_totals(
        read_event_stream(spark, src, glob="*.parquet", max_files_per_trigger=1)
    )
    q = (
        totals.writeStream.outputMode("complete")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= 3  # genuinely multiple micro-batches
    got = {
        r.user_id: (r.n_purchases, r.spend_cents)
        for r in spark.table(sink).collect()
    }
    want = {
        r.user_id: (r.n_purchases, r.spend_cents)
        for r in user_spend_totals(events).collect()
    }
    assert got == want


def test_streaming_kmv_equals_batch_sketch(spark, sf_dir, tmp_path):
    """min-k semilattice: 3-batch streamed signature == one-shot batch."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from usedcars_bigdata_spark.sources import load_table
    from usedcars_bigdata_spark.streaming.events import read_event_stream
    from usedcars_bigdata_spark.streaming.sinks import (
        streaming_kmv_signature,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "kmv")
    events.repartitionByRange(3, "ts").write.mode("overwrite").parquet(src)
    stream = read_event_stream(
        spark, src, glob="*.parquet", max_files_per_trigger=1
    ).select("event_type", "user_id")
    sig = streaming_kmv_signature(
        spark, stream, "event_type", "user_id", k=16
    )[0]
    got = {
        (r.g, r.h)
        for r in sig.collect()
    }
    w = Window.partitionBy("g").orderBy("h")
    want = {
        (r.g, r.h)
        for r in events.select(
            F.col("event_type").cast("string").alias("g"),
            F.md5(F.col("user_id").cast("string")).alias("h"),
        )
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 16)
        .collect()
    }
    assert got == want
