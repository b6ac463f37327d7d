"""Structured Streaming ingest over the events stream (SURVEY.md §2.12 —
beyond-reference extension; the reference has no streaming at all).

Transformations are built on an unbound DataFrame so the SAME function
serves batch (tests, backfills — the ts_* queries in plans/queries.py are
the batch twins checked against DuckDB) and streaming (readStream) inputs —
the Structured Streaming unification. Watermarks bound state for late data;
output mode 'update'/'append' chosen per sink semantics.

At production scale the source is Kafka (``spark.readStream.format("kafka")``)
partitioned by user/key; here the file source replays the harness parquet.

A stream has one lifecycle:

- ``write_replay_source`` lays a multi-micro-batch replay out once per
  directory, one file per batch with ascending mtimes, so the file source
  replays the batches in order;
- ``read_event_stream`` only describes the source; building a stream has
  no effect on partition sizing;
- ``run_stream`` is the one place a query starts. It sizes the query's
  shuffle/state partitions from the sources in its plan, decides from the
  same plan whether the query needs the trailing no-data micro-batch, sets
  both confs around ``start()`` alone, and runs every query as
  ``availableNow``: it returns once the query has drained and terminated,
  or stops it and raises ``TimeoutError`` after ``STREAM_TIMEOUT_S`` (the
  stop itself is bounded by ``STREAM_STOP_TIMEOUT_S``, so a hung
  foreachBatch handler cannot wedge the caller). foreachBatch sinks
  (streaming.sinks, streaming.dedup, streaming.stateful) return the same
  terminated query;
- ``take_sink`` reads a finished memory sink once and drops its view, so
  the sink's rows live only as long as the frame that reads them.

After its last data batch an ``availableNow`` query runs one more
micro-batch with no input, to advance the watermark: it evicts expired
state and emits what the eviction completes (an aggregate's closed
windows, an outer join's null-padded rows). A memory-sink query on a
temporary checkpoint whose operators only drop state — dedup, an inner
join — can emit nothing in that batch, and its state is deleted with the
checkpoint, so ``run_stream`` leaves the batch out for exactly those plans
(``_only_evicts_state``).
"""

from __future__ import annotations

from collections.abc import Callable

from py4j.protocol import Py4JJavaError
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


# Source bytes per stream shuffle/state partition.
_TARGET_BYTES = 64 << 20


def _source_bytes(directory: str, glob: str) -> int:
    """Total size of the files under ``directory`` whose names match
    ``glob``; 0 for a missing, unreadable or non-local path."""
    import fnmatch
    import os

    total = 0
    try:
        for root, _dirs, files in os.walk(directory):
            for f in files:
                if fnmatch.fnmatch(f, glob):
                    total += os.path.getsize(os.path.join(root, f))
    except OSError:
        return 0
    return total


def _partitions_for_bytes(spark: SparkSession, total: int, floor: int) -> int:
    """Shuffle/state partition count for a streaming query whose sources
    hold ``total`` bytes (r12 optimization; guide §2 "derive partitioning
    from input size, not a constant").

    Stateful operators allocate ONE state store per shuffle partition
    per operator, and every micro-batch pays a per-store commit (delta
    file write + maintenance) even when the partition holds a handful
    of rows. Inheriting the batch default (sized to cores) makes a
    small replay pay ~cores× the state machinery per batch — measured
    on ts_stream_left_outer (4 join state stores/partition, 8 micro-
    batches): 21–42 s at 32 partitions vs 5.8–13.8 s at 4–8, same
    machine, interleaved fresh JVMs. A fixed small constant would
    instead under-partition a production stream, so the count follows
    the source size: ~64 MiB (``_TARGET_BYTES``) of input per partition,

    - floored at ``floor`` — stream-stream joins and per-batch
      aggregations still need compute parallelism (n=1 measured 24.9 s:
      the join work serializes); the floor is deliberately NOT the core
      count, because state-store count is a data-scaled cost, not a
      cores-scaled one. Per-operator-type floors (r13, r12 verdict #1):
      operators whose per-batch COMPUTE dominates the state commits —
      the applyInPandasWithState sessionize fold measured min 5.6 s at
      8 partitions vs 8.7 s at 4 — pass ``floor=8``; pure
      state-machinery entries keep 4;
    - capped at the session's batch ``spark.sql.shuffle.partitions``,
      so a stream never plans MORE partitions than the surrounding
      engine (on a cluster that default is already sized 2–3× total
      cores and AQE-coalesced; a 100 TB source hits the cap and keeps
      full parallelism).

    ``total == 0`` is an unmeasurable source (non-local, unreadable or
    not yet written — os.walk on a missing path yields NOTHING rather
    than raising): it keeps the batch default, because at production
    scale that is the already-tuned value and clamping an unmeasurable
    source to the local floor would serialize a real stream."""
    batch_default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if total == 0:
        return batch_default
    derived = max(floor, -(-total // _TARGET_BYTES))  # ceil-div, floored
    return min(derived, batch_default) if batch_default > 0 else derived


def stream_sources(df: DataFrame) -> set[tuple[str, str]] | None:
    """The distinct (path, pathGlobFilter) pairs of the file sources that
    feed the streaming DataFrame ``df``, read from its analyzed plan — a
    self-join over one source yields one pair. None when some streaming
    leaf is not a file source with a path (rate, Kafka, memory): such a
    query cannot be measured."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    sources = set()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if not leaf.isStreaming():
            continue
        if leaf.nodeName() != "StreamingRelation":
            return None
        opts = leaf.dataSource().options()
        path = opts.get("path")
        if not path.isDefined():
            return None
        glob = opts.get("pathGlobFilter")
        sources.add((path.get(), glob.get() if glob.isDefined() else "*"))
    return sources


# Analyzed-plan nodes that emit every output row in the batch that reads
# its input: stateless nodes, and stateful ones whose state only decides
# what to drop (dedup keys, an inner join's buffered sides). A no-data
# batch over them only evicts state. Closed on purpose: a node missing
# here (Aggregate, an outer Join, flatMapGroupsWithState, a static
# relation) keeps the trailing batch.
_EVICTION_ONLY = frozenset({
    "Project", "Filter", "EventTimeWatermark", "StreamingRelation",
    "SubqueryAlias", "Deduplicate", "DeduplicateWithinWatermark", "Join",
})


def _only_evicts_state(df: DataFrame) -> bool:
    """True when every node of ``df``'s analyzed plan is in
    ``_EVICTION_ONLY`` and every join is inner, so a micro-batch without
    input emits no row."""
    nodes = [df._jdf.queryExecution().analyzed()]
    while nodes:
        node = nodes.pop()
        name = node.nodeName()
        if name not in _EVICTION_ONLY:
            return False
        if name == "Join" and node.joinType().toString() != "Inner":
            return False
        children = node.children()
        nodes += [children.apply(i) for i in range(children.size())]
    return True


def query_shuffle_partitions(df: DataFrame, floor: int = 4) -> int:
    """The partition count the query ``df`` starts with: the
    ``_partitions_for_bytes`` rule over the bytes of every distinct
    source in its plan."""
    sources = stream_sources(df)
    total = sum(_source_bytes(p, g) for p, g in sources) if sources else 0
    return _partitions_for_bytes(df.sparkSession, total, floor)


def read_event_stream(
    spark: SparkSession, directory: str, glob: str = "events.parquet",
    max_files_per_trigger: int = 1
) -> DataFrame:
    """Streaming file source over a directory of events parquet files.
    (File sources take a directory; ``glob`` selects the event files within.)

    ts is normalized to a micros TimestampType whichever physical layout
    the files carry, so every downstream transformation (and its batch
    twin) sees one schema.

    The reader has no side effect on partition sizing: the query is
    sized when it starts, by ``run_stream``, from the (directory, glob)
    this source records in the plan.

    Like ``load_table`` it sets ``nanosAsLong`` itself (a plain session
    cannot read INT64 nanos files without it), and its ``ts`` probe goes
    through ``sources.io.parquet_schema``, so only the first build over a
    given set of files runs the inference job."""
    import os

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


def write_replay_source(directory: str, batches: list[DataFrame]) -> str:
    """Lay ``batches`` out under ``directory`` as a file-stream replay
    source, once: a later call finds the done marker and writes nothing.

    Each DataFrame in ``batches`` is written by one job, and each of its
    partitions becomes one parquet file — pass ``coalesce(1)`` for one
    file, or ``exact_ranges(df, col, n)`` for n ordered files from a
    single job. The files get strictly ascending mtimes in list order,
    then partition order. The file source orders input by mtime, so a
    reader with ``maxFilesPerTrigger=1`` replays one file per micro-batch
    in exactly that order; files written by one job would otherwise share
    an mtime and arrive in arbitrary order. A directory left without its
    marker (an interrupted write) is rewritten from scratch."""
    import glob
    import os
    import shutil
    import time

    done = os.path.join(directory, "_REPLAY_DONE")
    if os.path.exists(done):
        return directory
    shutil.rmtree(directory, ignore_errors=True)
    pattern = os.path.join(directory, "part-*.parquet")
    files: list[str] = []
    for batch in batches:
        before = set(glob.glob(pattern))
        batch.write.mode("append").parquet(directory)
        files += sorted(set(glob.glob(pattern)) - before)  # partition order
    now = time.time()
    for i, f in enumerate(files):
        os.utime(f, (now + i, now + i))
    open(done, "w").close()
    return directory


def exact_ranges(df: DataFrame, col: str, n: int) -> DataFrame:
    """``df`` in ``n`` partitions, partition k holding the k-th of ``n``
    ranges of the timestamp ``col``. The ``n - 1`` cut points are exact
    quantiles, ``percentile(unix_micros(col), j / n)`` for j = 1 .. n-1
    (Spark's exact percentile: position (count - 1) * j / n, linear
    between the two values around it), and a row's range is the number of
    cuts strictly below its ``unix_micros(col)``. Rows with equal values
    share a range, and every value in range k is above every value in
    range k - 1.

    ``repartitionByRange`` samples its bounds with a seed taken from the
    RDD id, so its cuts, and a replay's batch sizes, move between
    processes; these depend on the data alone. The cuts are one aggregate
    joined back lazily, so the split runs no action of its own."""
    micros = F.unix_micros(F.col(col))
    cuts = df.agg(
        F.percentile(micros, [j / n for j in range(1, n)]).alias("_cuts")
    )
    range_id = F.size(F.filter("_cuts", lambda c: c < micros))
    return df.crossJoin(cuts).repartitionById(n, range_id).drop("_cuts")


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


# Upper bound on draining one availableNow query; a query still running
# after it is stopped and reported as TimeoutError instead of wedging the
# caller.
STREAM_TIMEOUT_S = 600
# Upper bound on that stop. Spark's stop waits for the running batch, and
# its own default (spark.sql.streaming.stopTimeout = 0) waits forever on a
# foreachBatch handler that never returns.
STREAM_STOP_TIMEOUT_S = 30


def run_stream(
    df: DataFrame,
    name: str,
    *,
    output_mode: str = "append",
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    checkpoint: str | None = None,
    floor: int = 4,
) -> StreamingQuery:
    """Start ``df`` as the streaming query ``name`` — the one place the
    package starts a stream.

    1. Any active query called ``name`` in ``df``'s session is stopped.
    2. The query's shuffle/state partition count comes from its own input
       (``query_shuffle_partitions`` with ``floor``).
    3. The trailing no-data micro-batch is left out when it can emit
       nothing and the state it would evict is thrown away anyway: a
       memory sink, no caller ``checkpoint`` (the query can never be
       restarted), and a plan that ``_only_evicts_state``. Every other
       query keeps Spark's default.
    4. A query is fixed when it starts (it clones the session conf inside
       ``start()``), so the confs of steps 2 and 3 are set around
       ``start()`` only and the caller's values are put back in
       ``finally`` — also when ``start()`` raises.
    5. The sink is ``foreach_batch`` when given, else a memory table named
       ``name``; ``checkpoint`` sets the checkpoint location.
    6. The query runs with ``trigger(availableNow=True)``: it drains all
       available input and terminates before ``run_stream`` returns, so
       the returned query is no longer active. One still running after
       ``STREAM_TIMEOUT_S`` is stopped, the stop bounded by
       ``STREAM_STOP_TIMEOUT_S``, and raises ``TimeoutError`` either
       way; a query failure raises as ``StreamingQueryException``.
    7. A terminated query's state is released within about 1 s: its run
       id is never resumed, so Spark's maintenance task (every second,
       ``session.get_session``) unloads its state stores from the heap.

    Resetting checkpoint and output directories stays with the caller:
    a restart reuses a checkpoint on purpose."""
    spark = df.sparkSession
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    writer = (
        df.writeStream.outputMode(output_mode).queryName(name)
        .trigger(availableNow=True)
    )
    if foreach_batch is None:
        writer = writer.format("memory")
    else:
        writer = writer.foreachBatch(foreach_batch)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    trailing = (
        foreach_batch is not None or checkpoint is not None
        or not _only_evicts_state(df)
    )
    scoped = {
        "spark.sql.shuffle.partitions": str(query_shuffle_partitions(df, floor)),
        "spark.sql.streaming.noDataMicroBatches.enabled": str(trailing).lower(),
    }
    caller_values = {key: spark.conf.get(key) for key in scoped}
    try:
        for key, value in scoped.items():
            spark.conf.set(key, value)
        q = writer.start()
    finally:
        for key, value in caller_values.items():
            spark.conf.set(key, value)
    if not q.awaitTermination(STREAM_TIMEOUT_S):
        message = f"stream {name!r} did not drain within {STREAM_TIMEOUT_S} s"
        stop_key = "spark.sql.streaming.stopTimeout"
        caller_stop = spark.conf.get(stop_key)
        spark.conf.set(stop_key, f"{STREAM_STOP_TIMEOUT_S}s")
        try:
            q.stop()
        except Py4JJavaError as stop_error:  # Spark's TimeoutException
            raise TimeoutError(message) from stop_error
        finally:
            spark.conf.set(stop_key, caller_stop)
        raise TimeoutError(message)
    return q


def take_sink(spark: SparkSession, name: str) -> DataFrame:
    """The memory-sink table ``name`` as a frame, with its temp view
    dropped from ``spark``'s catalog.

    The returned frame is analyzed, so its plan already holds the sink's
    rows and reads all of them without the view. A view left in the
    catalog outlives the run: every session cloned from ``spark`` later
    (each stream start, and through Spark's inherited active-session
    thread-local the AQE and listener threads) copies it, and with it the
    sink's whole ``Row[]``."""
    df = spark.table(name)
    spark.catalog.dropTempView(name)
    return df


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
