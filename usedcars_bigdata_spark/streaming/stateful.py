"""Custom stateful streaming operator via applyInPandasWithState.

Example operator: per-user running spend tracker with anomaly flagging —
state (n_events, total_value) persists across micro-batches per user_id;
each batch emits rows whose `value` exceeds 3.0 × the user's running
mean at arrival time (the multiplier is a FIXED constant shared by the
stream fold and the batch twin — both sides of the hash-parity pin must
agree, so it is deliberately not a parameter).

Why this shape: Structured Streaming's built-in aggs can't express
"compare each event against state accumulated BEFORE it" — that needs
user-managed per-key state. applyInPandasWithState gives Arrow-batched
state access with bounded memory per key (two floats), partitioned by
user_id — the canonical Spark pattern for custom stateful logic.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .events import run_stream

OUTPUT_SCHEMA = (
    "user_id long, event_id long, value double, running_mean double, flagged boolean"
)
STATE_SCHEMA = "n long, total double"


def _make_track():
    """Build the state-fold function as a NESTED closure so cloudpickle
    serializes it BY VALUE: a module-level def is pickled by reference
    (module + qualname) and the Python worker would then have to import
    ``usedcars_bigdata_spark`` — which only works when the repo happens to
    be on the workers' path. The repo-wide UDF convention is
    capture-by-value (see ext.similarity._assign_cells_udf); this entry
    violated it and failed under a driver run with cwd outside the repo."""

    def _track(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        (user_id,) = key
        n, total = state.get if state.exists else (0, 0.0)
        out_rows = []
        # A key's rows within one micro-batch may arrive as SEVERAL pandas
        # chunks in arbitrary relative order — sort the concatenation, not
        # each chunk (the round-5 streaming_sessionize lesson: per-chunk
        # sorting folded out-of-order under chunk splits and dropped
        # cross-batch session closures nondeterministically).
        chunks = [pdf for pdf in batches if len(pdf)]
        if chunks:
            pdf = _pd.concat(chunks, ignore_index=True).sort_values("event_id")
            for ev_id, value in zip(pdf["event_id"], pdf["value"]):
                mean = total / n if n else None
                flagged = mean is not None and value > 3.0 * mean
                out_rows.append((user_id, int(ev_id), float(value),
                                 float(mean) if mean is not None else None, bool(flagged)))
                n += 1
                total += float(value)
        state.update((n, total))
        yield _pd.DataFrame(
            out_rows,
            columns=["user_id", "event_id", "value", "running_mean", "flagged"],
        )

    return _track


def running_anomaly_flags(events: DataFrame) -> DataFrame:
    """Apply the stateful tracker. Works on a STREAMING DataFrame (state
    carried across micro-batches) — the operator partitions by user_id, so
    state shards across executors with the shuffle."""
    return (
        events.select("user_id", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_track(),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def running_anomaly_flags_batch(events: DataFrame) -> DataFrame:
    """Batch twin with identical semantics, expressed as a window (running
    mean over events strictly before each row, per user) — the oracle for
    the streaming operator in tests."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return events.select(
        "user_id",
        "event_id",
        "value",
        F.avg("value").over(w).alias("running_mean"),
        F.coalesce(
            F.col("value") > 3.0 * F.avg("value").over(w), F.lit(False)
        ).alias("flagged"),
    )


SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_seq long, session_start timestamp, "
    "session_end timestamp, n_events long"
)
SESSION_STATE_SCHEMA = "seq long, start_us long, last_us long, n long"
_GAP_US = 30 * 60 * 1_000_000


def _make_sessionize(gap_us: int):
    """Nested-closure factory (capture-by-value; see _make_track): the
    session fold ships to workers self-contained, no package import."""

    def _sessionize(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        (user_id,) = key
        seq, start_us, last_us, n = (
            state.get if state.exists else (0, None, None, 0)
        )
        closed = []
        # Concat-then-sort: a key's rows can span several chunks whose
        # relative order is arbitrary; sorting per chunk folds out of order
        # (observed: nondeterministically merged sessions at sf0.01).
        chunks = [pdf for pdf in batches if len(pdf)]
        if chunks:
            pdf = _pd.concat(chunks, ignore_index=True).sort_values(
                ["ts", "event_id"]
            )
            unit = "us" if pdf["ts"].dtype == "datetime64[us]" else "ns"
            div = 1 if unit == "us" else 1000
            for ts in pdf["ts"].astype("int64") // div:
                ts = int(ts)
                if start_us is None:
                    seq, start_us, last_us, n = 1, ts, ts, 1
                elif ts - last_us > gap_us:
                    closed.append((user_id, seq, start_us, last_us, n))
                    seq, start_us, last_us, n = seq + 1, ts, ts, 1
                else:
                    last_us, n = ts, n + 1
        state.update((seq, start_us, last_us, n))
        yield _pd.DataFrame(
            [
                (
                    u,
                    s,
                    _pd.Timestamp(a, unit="us"),
                    _pd.Timestamp(b, unit="us"),
                    m,
                )
                for u, s, a, b, m in closed
            ],
            columns=[
                "user_id",
                "session_seq",
                "session_start",
                "session_end",
                "n_events",
            ],
        )

    return _sessionize


def streaming_sessionize(events: DataFrame) -> DataFrame:
    """Streaming sessionization with user-managed per-key state
    (applyInPandasWithState): events fold into the user's CURRENT
    session (seq, start, last-seen, count — four scalars per user);
    a gap > 30 min CLOSES the session and emits one summary row. A
    session only closes when later evidence arrives, so emission is
    purely DATA-DRIVEN — deterministic regardless of micro-batch
    boundaries (a batch twin = batch sessions minus each user's last,
    still-open session; pinned in tests and replayed by the
    ts_stream_sessionize oracle). The state is O(1) per user and
    shards with the user_id shuffle.

    Hot-key contract (measured, docs/SCALING.md r11/r12): a per-key
    Python fold streams each key's rows through ONE worker sequentially
    — a key holding 50% of the stream cost 4.8× wall at 100×. The
    session recurrence DOES decompose (gap marks are a lag, numbering a
    prefix sum): when a hot key is possible, run the batch twin of this
    semantics through operators.timeseries.sessionize_scalable per
    micro-batch instead, the shape running_anomaly_flags_scalable
    demonstrates end-to-end.

    Production note: gone-silent users hold their last session open
    forever under NoTimeout; a deployment sets
    GroupStateTimeout.EventTimeTimeout + a watermark to flush idle
    sessions — kept off here because timeout-emitted rows depend on
    watermark advancement (i.e. on batch boundaries), which would
    break the determinism the contract certifies."""
    return (
        events.select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_sessionize(_GAP_US),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_sessionize_batch_twin(events: DataFrame) -> DataFrame:
    """Batch equivalent of the CLOSED-session stream output: gap-rule
    sessions minus each user's last (still-open) session."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microseconds, matching the stream's _GAP_US comparison and the
    # oracle's full-precision INTERVAL — the cast-to-seconds form
    # truncated fractional gaps and merged sessions whose true gap sat
    # within 1s above the boundary (r9 review)
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag(F.col("ts")).over(w))
    sess = (
        events.select("user_id", "ts", "event_id")
        .withColumn(
            "__new_s",
            F.when(
                gap.isNull() | (gap > 1800 * 1_000_000), F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "__sess",
            F.sum("__new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    agg = sess.groupBy("user_id", F.col("__sess").alias("session_seq")).agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )
    mx = Window.partitionBy("user_id")
    return (
        agg.withColumn("__mx", F.max("session_seq").over(mx))
        .filter(F.col("session_seq") < F.col("__mx"))
        .select(
            "user_id", "session_seq", "session_start", "session_end", "n_events"
        )
    )


TOKEN_OUTPUT_SCHEMA = (
    "user_id long, event_id long, rn long, admitted boolean, tokens long"
)
TOKEN_STATE_SCHEMA = "tokens long, last_us long, rn long"


def _make_token_bucket(rate_per_hour: int, capacity: int):
    """Nested-closure factory (capture-by-value; see _make_track): the
    token-bucket fold ships to workers self-contained."""
    scale = 3_600_000_000
    cap_s = capacity * scale

    def _bucket(key, batches, state):
        import pandas as _pd

        (user_id,) = key
        tokens, last_us, rn = (
            state.get if state.exists else (cap_s, None, 0)
        )
        out = []
        chunks = [pdf for pdf in batches if len(pdf)]
        if chunks:
            pdf = _pd.concat(chunks, ignore_index=True).sort_values(
                ["ts", "event_id"]
            )
            unit = "us" if pdf["ts"].dtype == "datetime64[us]" else "ns"
            div = 1 if unit == "us" else 1000
            tss = pdf["ts"].astype("int64") // div
            for ev_id, t_us in zip(pdf["event_id"], tss):
                t_us = int(t_us)
                if last_us is not None:
                    # clamp the refill delta at 0: a late event arriving
                    # across micro-batches (within-batch sorting cannot
                    # fix cross-batch order) produced a NEGATIVE delta
                    # that drained tokens by hours of synthetic refill
                    # and corrupted admission state permanently (r9
                    # review); the in-order parity with the batch
                    # recursive-CTE oracle is unchanged.
                    tokens = min(
                        cap_s,
                        tokens + rate_per_hour * max(0, t_us - last_us),
                    )
                admitted = tokens >= scale
                if admitted:
                    tokens -= scale
                rn += 1
                out.append((user_id, int(ev_id), rn, admitted, tokens))
                # never rewind the refill clock: a late event must not
                # re-credit the interval the next in-order event already
                # refilled (pairs with the delta clamp above)
                last_us = t_us if last_us is None else max(last_us, t_us)
        state.update((tokens, last_us, rn))
        yield _pd.DataFrame(
            out, columns=["user_id", "event_id", "rn", "admitted", "tokens"]
        )

    return _bucket


def streaming_token_bucket(
    events: DataFrame, rate_per_hour: int = 6, capacity: int = 3
) -> DataFrame:
    """STREAMING token-bucket rate limiter (applyInPandasWithState): the
    per-user (tokens, last-seen, count) triple persists across
    micro-batches, so admission decisions are identical to the batch
    operator's regardless of where batch boundaries fall — emission here
    is purely data-driven (each event's verdict depends only on earlier
    events of the same user), which is why the contract entry can share
    the batch recurrence's EXACT recursive-CTE oracle: the same SQL
    certifies both engines' batch/stream parity.

    Hot-key contract (measured, docs/SCALING.md r11/r12): per-key Python
    folds serialize a hot key through one worker (4.8× wall at a 50%
    key). Unlike the anomaly/session recurrences this one does NOT
    decompose — each admission changes the token balance the next
    refill sees, a data-dependent recurrence with no merge — so the
    fold is the honest form; a deployment expecting a pathologically
    hot key must rate-limit per (key, salt) shard and accept the
    semantic change, or pre-aggregate upstream."""
    return (
        events.select("user_id", "event_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_token_bucket(rate_per_hour, capacity),
            outputStructType=TOKEN_OUTPUT_SCHEMA,
            stateStructType=TOKEN_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def running_anomaly_flags_scalable(
    events: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint: str,
    query_name: str = "anomaly_scalable",
    n_buckets: int = 32,
):
    """HOT-KEY-NEUTRAL rewrite of ``running_anomaly_flags`` — same
    semantics, no per-key Python fold. The r11 100× probe
    (docs/SCALING.md) measured the honest skew contract of
    applyInPandasWithState: one key holding 50% of the stream funnels
    5M rows through ONE Python worker sequentially (4.8× wall). This
    variant removes that funnel by decomposing the per-event recurrence
    into COMBINABLE pieces, exactly as the probe prescribed (the state
    is a sum-monoid — partials merge):

    per event:  mean_before = (carried_total + batch_prefix_sum_excl)
                              / (carried_n + batch_prefix_n_excl)

    - the within-batch per-user EXCLUSIVE prefix (n, sum) comes from
      ``operators.window.grouped_running_sums`` — one range exchange on
      (user_id, event_id); a hot user spans MANY buckets, the largest
      single window group is bucket-bounded regardless of skew;
    - the carried per-user state joins in by key (hash-partitioned,
      AQE-skew-splittable — a plain join, not a stateful fold);
    - the state update is groupBy(user).agg(count, sum) — map-side
      combinable, skew-neutral per the probe's own built-in-agg rows.

    Emitted rows are IDENTICAL to running_anomaly_flags given the same
    micro-batches (both process a batch in per-user event_id order;
    pinned in tests/test_streaming.py against the same batch twin).
    State lives in a parquet dir merged via ``sinks.merge_upsert`` with
    the atomic marker replay guard (exactly-once effect); the residual
    crash window — output append committed, state swap not — duplicates
    at most one batch's OUTPUT rows, state itself cannot double-fold
    (same contract as streaming/dedup.py, documented there).

    Scale: every exchange in the per-batch plan is partitioned (range on
    (user, event) + hash on user); nothing is per-key sequential. RocksDB
    is irrelevant here — state is externalized to the parquet dir, sized
    one row per user."""
    import os

    from pyspark.sql import functions as F

    from ..operators.window import grouped_running_sums
    from .dedup import _already_applied, _replay_marker, _RunToken
    from .sinks import merge_upsert, recover

    run_token = _RunToken(checkpoint)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # Recover BEFORE the replay check and state read (r10 ADVICE —
        # see streaming/dedup.py): fold against the restored state, not
        # a mid-swap hole.
        recover(state_dir)
        token = run_token.get()
        if batch_df.isEmpty() or _already_applied(
            state_dir, batch_id, checkpoint, token=token
        ):
            return
        spark = batch_df.sparkSession
        batch = batch_df.select("user_id", "event_id", "value").withColumn(
            "__one", F.lit(1).cast("long")
        )
        # checkpoint_hub: the bucket hub is GC-released with the batch —
        # foreachBatch handlers are library callers outside the harness
        # release_hubs() protocol (the r7 heap-pressure lesson).
        pref = grouped_running_sums(
            batch,
            ["user_id"],
            [F.col("event_id").asc()],
            ["__one", "value"],
            ["__n_b", "__sum_b"],
            n_buckets=n_buckets,
            exclusive=True,
            checkpoint_hub=True,
        ).drop("__one")
        have_state = os.path.exists(state_dir)
        if have_state:
            state = spark.read.parquet(state_dir).select(
                "user_id",
                F.col("n").alias("__n0"),
                F.col("total").alias("__t0"),
            )
            pref = pref.join(state, "user_id", "left")
        else:
            state = None
            pref = pref.withColumn(
                "__n0", F.lit(None).cast("long")
            ).withColumn("__t0", F.lit(None).cast("double"))
        n_before = F.coalesce(F.col("__n0"), F.lit(0)) + F.col("__n_b")
        t_before = F.coalesce(F.col("__t0"), F.lit(0.0)) + F.col("__sum_b")
        mean = F.when(n_before > 0, t_before / n_before)
        out = pref.select(
            "user_id",
            "event_id",
            "value",
            mean.alias("running_mean"),
            F.coalesce(F.col("value") > 3.0 * mean, F.lit(False)).alias(
                "flagged"
            ),
        )
        out.write.mode("append").parquet(out_dir)
        upd = batch.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("__cn"), F.sum("value").alias("__sv")
        )
        if state is not None:
            upd = upd.join(state, "user_id", "left")
        else:
            upd = upd.withColumn(
                "__n0", F.lit(None).cast("long")
            ).withColumn("__t0", F.lit(None).cast("double"))
        updates = upd.select(
            "user_id",
            (F.coalesce(F.col("__n0"), F.lit(0)) + F.col("__cn")).alias("n"),
            (F.coalesce(F.col("__t0"), F.lit(0.0)) + F.col("__sv")).alias(
                "total"
            ),
        )
        merge_upsert(
            spark,
            state_dir,
            updates,
            "user_id",
            marker=_replay_marker(checkpoint, batch_id, token=token),
        )

    return run_stream(
        events.select("user_id", "event_id", "value"), query_name,
        foreach_batch=handle, checkpoint=checkpoint, available_now=False,
    )
