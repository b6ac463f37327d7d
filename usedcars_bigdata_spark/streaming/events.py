"""Structured Streaming ingest over the events stream (SURVEY.md §2.12 —
beyond-reference extension; the reference has no streaming at all).

Transformations are built on an unbound DataFrame so the SAME function
serves batch (tests, backfills — the ts_* queries in plans/queries.py are
the batch twins checked against DuckDB) and streaming (readStream) inputs —
the Structured Streaming unification. Watermarks bound state for late data;
output mode 'update'/'append' chosen per sink semantics.

At production scale the source is Kafka (``spark.readStream.format("kafka")``)
partitioned by user/key; here the file source replays the harness parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..schemas import TESTDATA
from ..sources.io import parquet_schema

# File-source schemas: the harness has generated events.ts as INT64
# TIMESTAMP(NANOS) (surfaces as long under nanosAsLong — see sources/io.py)
# in earlier rounds and as native INT64 micros NTZ since round 3. Streaming
# file sources need an explicit schema, so probe the file's surfaced type
# (memoized per file version, sources.io.parquet_schema) and pick the
# matching schema + conversion.
_EVENTS_SCHEMA_NANOS = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)
_EVENTS_SCHEMA_MICROS = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


# Batch spark.sql.shuffle.partitions saved by the FIRST conf mutation of a
# stream build (read_event_stream / save_batch_shuffle_conf) and restored by
# restore_shuffle_partitions once the streaming query has started. One slot,
# not a stack: an entry that builds two streams (stream-stream join) keeps
# the ORIGINAL batch value through both and restores it once.
_SAVED_BATCH_SHUFFLE: list[str] = []


def save_batch_shuffle_conf(spark: SparkSession) -> None:
    """Snapshot the session's batch shuffle-partition count before a stream
    build mutates it (no-op if a snapshot is already pending)."""
    if not _SAVED_BATCH_SHUFFLE:
        _SAVED_BATCH_SHUFFLE.append(
            spark.conf.get("spark.sql.shuffle.partitions")
        )


def restore_shuffle_partitions(spark: SparkSession) -> None:
    """Restore the batch shuffle-partition count saved before a stream
    build; call IMMEDIATELY AFTER ``writeStream...start()`` (r13, ADVICE
    r12 'medium').

    Safe at that point: a streaming query clones the session synchronously
    inside start() (StreamExecution's sparkSessionForStream), so the
    running query keeps planning its state stores at the data-derived
    count while the caller's session goes back to batch planning at the
    engine default — no more session-global side effect leaking a
    stream-sized (possibly floor-4) conf into a library caller's
    subsequent batch shuffles. No-op when nothing is pending."""
    if _SAVED_BATCH_SHUFFLE:
        spark.conf.set(
            "spark.sql.shuffle.partitions", _SAVED_BATCH_SHUFFLE.pop()
        )
        _SAVED_BATCH_SHUFFLE.clear()


def stream_shuffle_partitions(
    spark: SparkSession,
    directory: str,
    glob: str = "*",
    target_bytes: int = 64 << 20,
    floor: int = 4,
) -> int:
    """Scale-adaptive shuffle-partition count for a streaming query over
    the files under ``directory`` (r12 optimization; guide §2 "derive
    partitioning from input size, not a constant").

    Stateful operators allocate ONE state store per shuffle partition
    per operator, and every micro-batch pays a per-store commit (delta
    file write + maintenance) even when the partition holds a handful
    of rows. Inheriting the batch default (sized to cores) makes a
    small replay pay ~cores× the state machinery per batch — measured
    on ts_stream_left_outer (4 join state stores/partition, 8 micro-
    batches): 21–42 s at 32 partitions vs 5.8–13.8 s at 4–8, same
    machine, interleaved fresh JVMs. A fixed small constant would
    instead under-partition a production stream, so derive the count
    from the source size: ~``target_bytes`` of input per partition,

    - floored at ``floor`` (default 4) — stream-stream joins and
      per-batch aggregations still need compute parallelism (n=1
      measured 24.9 s: the join work serializes); the floor is
      deliberately NOT the core count, because state-store count is a
      data-scaled cost, not a cores-scaled one. Per-operator-type
      floors (r13, r12 verdict #1): operators whose per-batch COMPUTE
      dominates the state commits — the applyInPandasWithState
      sessionize fold measured min 5.6 s at 8 partitions vs 8.7 s at
      4 — pass ``floor=8``; pure state-machinery entries keep 4;
    - capped at the session's batch ``spark.sql.shuffle.partitions``,
      so a stream never plans MORE partitions than the surrounding
      engine (on a cluster that default is already sized 2–3× total
      cores and AQE-coalesced; a 100 TB source hits the cap and keeps
      full parallelism).

    ``SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS`` overrides the derived
    value for cluster tuning (and lets benchmarks A/B the rule)."""
    import fnmatch
    import os

    env = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS")
    batch_default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if env:
        return max(1, int(env))
    total = 0
    try:
        for root, _dirs, files in os.walk(directory):
            for f in files:
                if fnmatch.fnmatch(f, glob):
                    total += os.path.getsize(os.path.join(root, f))
    except OSError:
        total = 0
    if total == 0:
        # Non-local, unreadable or not-yet-written source (os.walk on a
        # missing path yields NOTHING rather than raising): keep the
        # batch default — at production scale that is the already-tuned
        # value, and clamping an unmeasurable source to the local floor
        # would serialize a real stream.
        return batch_default
    derived = max(floor, -(-total // target_bytes))  # ceil-div, floored
    return min(derived, batch_default) if batch_default > 0 else derived


def read_event_stream(
    spark: SparkSession, directory: str, glob: str = "events.parquet",
    max_files_per_trigger: int = 1, partition_floor: int = 4
) -> DataFrame:
    """Streaming file source over a directory of events parquet files.
    (File sources take a directory; ``glob`` selects the event files within.)

    ts is normalized to a micros TimestampType whichever physical layout
    the files carry, so every downstream transformation (and its batch
    twin) sees one schema.

    Scoped side effect: sets ``spark.sql.shuffle.partitions`` to
    ``stream_shuffle_partitions(...)`` (floored at ``partition_floor``)
    so the streaming query the caller is about to start plans its state
    stores at the data-derived count — the conf is read at query-start
    time. The previous batch value is snapshotted here; callers restore
    it with ``restore_shuffle_partitions(spark)`` right after
    ``.start()`` (safe: the query clones the session inside start), so
    the mutation never outlives the query start.

    Like ``load_table`` it sets ``nanosAsLong`` itself (a plain session
    cannot read INT64 nanos files without it), and its ``ts`` probe goes
    through ``sources.io.parquet_schema``, so only the first build over a
    given set of files runs the inference job."""
    import os

    save_batch_shuffle_conf(spark)
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(stream_shuffle_partitions(spark, directory, glob,
                                      floor=partition_floor)),
    )
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    probe = parquet_schema(spark, os.path.join(directory, glob))["ts"]
    nanos = probe.dataType.simpleString() == "bigint"
    raw = (
        spark.readStream.schema(
            _EVENTS_SCHEMA_NANOS if nanos else _EVENTS_SCHEMA_MICROS
        )
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", glob)
        .parquet(directory)
    )
    if nanos:
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # NTZ files store the UTC wall clock of the same instants the nanos
    # files store as epoch longs. A bare cast interprets the wall clock
    # in the SESSION timezone, so under a non-UTC session the two
    # layouts disagreed by the tz offset, shifting every window bucket
    # (r9 review; latent while session.py pins UTC). convert_timezone
    # from UTC into the current session zone first, so the subsequent
    # cast lands on the SAME instant the nanos branch produces under
    # ANY session timezone (verified empirically vs America/New_York).
    return raw.withColumn(
        "ts",
        F.convert_timezone(
            F.lit("UTC"), F.expr("current_timezone()"), F.col("ts")
        ).cast("timestamp"),
    )


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling (or sliding, when ``slide`` given) window counts + value sums
    per event_type, watermarked for late data. Batch twin: ts_tumbling_hourly
    / ts_sliding_hourly (oracle-checked)."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_aggregates(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per user (gap-merged). Batch twin: ts_session_windows
    (oracle-checked against the lag/cumsum SQL idiom)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def run_to_memory_sink(
    stream_df: DataFrame, name: str, output_mode: str = "complete"
) -> StreamingQuery:
    """Drive a streaming aggregation into an in-memory table and process all
    available input synchronously — the local smoke harness. Real sinks:
    kafka / parquet-append / foreachBatch for exactly-once upserts."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    # The query snapshotted the session conf inside start(); give the
    # caller's session its batch shuffle default back (r13).
    restore_shuffle_partitions(stream_df.sparkSession)
    q.processAllAvailable()
    return q


def user_spend_totals(events: DataFrame, event_type: str = "purchase") -> DataFrame:
    """Running per-user spend totals in integer cents — the streaming
    leaderboard aggregation. Unbound-DataFrame transformation: in
    streaming this is a stateful running aggregate (complete mode keeps
    the full per-user state table, updated every micro-batch); the batch
    twin is the plain GROUP BY certified by ts_stream_topk's oracle.
    Cents keep the cross-batch accumulation exact — a double running sum
    would drift with batch boundaries."""
    return (
        events.filter(F.col("event_type") == event_type)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "spend_cents"
            ),
        )
    )
