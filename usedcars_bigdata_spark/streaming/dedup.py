"""Streaming deduplication — exact dedup over an unbounded stream with
watermark-bounded state.

Batch ``dropDuplicates`` needs the full key set in memory forever; on a
stream that state grows without bound. ``dropDuplicatesWithinWatermark``
(Spark 3.5+) evicts key state once the event-time watermark passes it, so
state is O(keys arriving within the watermark window) — the production
shape for "suppress repeated events" pipelines (at-least-once sources
re-delivering, client retries double-firing analytics events).

Guarantee: duplicates arriving within the watermark delay of each other
are suppressed; a duplicate arriving after its key's state was evicted is
emitted again. Keys that cannot recur beyond the watermark horizon (e.g.
a key that embeds its event-time bucket, as in the contract entry) make
the streaming result exactly equal to batch DISTINCT.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .events import run_stream


def _run_token(checkpoint: str) -> str:
    """Identity of the streaming RUN a replay marker belongs to. Spark
    writes the query id into ``<checkpoint>/metadata`` when the query
    starts; a FRESH checkpoint (whose batch ids restart at 0) gets a
    fresh id, so a marker left by a previous run over the same state_dir
    can never suppress the new run's early micro-batches (r9 ADVICE: a
    batch_id-only marker silently dropped every batch <= the stale
    watermark). Falls back to the absolute checkpoint path when the
    metadata file is not readable (same-path reuse then still matches,
    which is the documented create/destroy-together contract)."""
    meta = os.path.join(checkpoint, "metadata")
    try:
        with open(meta) as fh:
            qid = json.load(fh).get("id")
        if qid:
            return str(qid)
    except (OSError, ValueError):
        pass
    return os.path.abspath(checkpoint)


class _RunToken:
    """Resolve the run token ONCE per handler and reuse it for every
    marker write and replay check in that run (r10 ADVICE): if the
    metadata read succeeds when the marker is written but falls back to
    the path form when ``_already_applied`` later checks it (transient
    OSError), the tokens mismatch and the replay guard silently
    disengages. Resolution is deferred to first use — Spark writes
    ``<checkpoint>/metadata`` at query start, i.e. before the first
    micro-batch reaches the handler."""

    def __init__(self, checkpoint: str) -> None:
        self._checkpoint = checkpoint
        self._token: str | None = None

    def get(self) -> str:
        if self._token is None:
            self._token = _run_token(self._checkpoint)
        return self._token


def _replay_marker(
    checkpoint: str, batch_id: int, token: str | None = None
) -> str:
    """Marker payload committed atomically WITH the state by
    ``merge_upsert(..., marker=...)`` — state and guard land in one
    directory rename, so a crash can never leave folded state without
    its marker (r9 ADVICE: the old sidecar written after the merge left
    exactly that window, and the keyed merge is NOT idempotent under a
    re-fold). Residual window: a crash between the OUTPUT append and the
    state swap duplicates at most one batch's output rows; state is
    never double-folded. Handlers pass ``token`` from a per-run
    ``_RunToken`` so the write and every later check use ONE resolution
    (r10 ADVICE)."""
    return f"{token or _run_token(checkpoint)}\n{batch_id}"


def _already_applied(
    state_dir: str,
    batch_id: int,
    checkpoint: str,
    token: str | None = None,
) -> bool:
    """Replay guard for foreachBatch state folds: a crash AFTER the
    state swap but BEFORE the checkpoint offset commit re-delivers the
    same batch_id on restart; the in-state ``_last_batch`` marker (see
    ``_replay_marker``) makes the replayed fold a whole-batch skip. Only
    markers from the SAME run (query id) count — see ``_run_token`` /
    ``_RunToken``."""
    marker = os.path.join(state_dir, "_last_batch")
    if not os.path.exists(marker):
        return False
    try:
        with open(marker) as fh:
            written, _, last = fh.read().partition("\n")
        expect = token or _run_token(checkpoint)
        return written == expect and batch_id <= int(last.strip())
    except (OSError, ValueError):
        return False


def dedup_within_watermark(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked streaming dedup: first row per key wins, key state is
    dropped once the watermark passes. Works identically on a batch
    DataFrame (falls back to plain dropDuplicates semantics there), so
    batch twins can oracle-check the streaming run."""
    with_wm = events.withWatermark(ts_col, watermark)
    return with_wm.dropDuplicatesWithinWatermark(keys)


def hourly_user_action_keys(events: DataFrame) -> DataFrame:
    """Project the dedup key of the contract entry: one row per (user,
    event_type, event-hour). The hour bucket inside the key bounds how
    long a key can recur, aligning the within-watermark guarantee with
    exact DISTINCT semantics (see module docstring)."""
    return events.select(
        "user_id",
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hour_start"),
        F.col("ts"),
    )


def streaming_near_dup_flags(
    docs_stream: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    query_name: str = "stream_near_dup",
):
    """Streaming NEAR-duplicate detection: each micro-batch's documents
    are MinHash-signed, LSH-banded, and checked against the accumulated
    bucket state — a document is flagged when any of its band buckets
    already contains a LOWER doc id (seen in an earlier batch, or earlier
    in this batch). The state parquet keeps ONE row per (band, sig): the
    minimum doc id ever seen in that bucket, so state is bucket-vocabulary
    sized, not corpus-sized, and each batch's state update is an
    idempotent keyed min-merge (same exactly-once shape as
    sinks.upsert_to_parquet, min instead of replace).

    When arrival order is monotone in the id (the contract's range-split
    source), the emitted flags equal the BATCH LSH rule "doc shares a
    band bucket with any smaller doc id" — pinned in
    tests/test_streaming_advanced.py against the batch computation on the
    full corpus.

    Returns the StreamingQuery; flags append to ``out_dir`` as parquet
    (id, is_near_dup) — EVERY batch document gets a row: documents too
    short to shingle (< 3 words) emit is_near_dup = false rather than
    silently no row at all (r9 review)."""
    from ..ext.dedup import (
        band_keys,
        minhash_signatures_from_arrays,
        shingle_arrays,
    )
    from .sinks import merge_upsert, recover

    run_token = _RunToken(checkpoint)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # Recover BEFORE the replay check and the state read (r10
        # ADVICE): after a mid-swap crash the state this batch must fold
        # against lives in state_dir + "__old"; folding against the
        # missing/empty target and letting merge_upsert restore __old
        # afterwards silently regresses every batch-touched bucket min.
        recover(state_dir)
        token = run_token.get()
        if batch_df.isEmpty() or _already_applied(
            state_dir, batch_id, checkpoint, token=token
        ):
            return
        spark = batch_df.sparkSession
        sigs = minhash_signatures_from_arrays(
            shingle_arrays(batch_df, id_col, text_col), id_col
        )
        banded = band_keys(sigs, id_col, bands)
        batch_min = banded.groupBy("band", "sig").agg(
            F.min(id_col).alias("min_id")
        )
        if os.path.exists(state_dir):
            state = spark.read.parquet(state_dir)
            merged_min = (
                batch_min.join(
                    state.select(
                        "band", "sig", F.col("min_id").alias("__prev")
                    ),
                    ["band", "sig"],
                    "left",
                )
                .select(
                    "band",
                    "sig",
                    F.least(
                        "min_id", F.coalesce("__prev", F.col("min_id"))
                    ).alias("min_id"),
                )
            )
        else:
            state = None
            merged_min = batch_min
        # Materialize ONCE: merged_min feeds the flag join AND both
        # branches of merge_upsert — the lazy form re-ran the whole
        # MinHash/banding pipeline plus the state-parquet read about
        # three times per batch (r9 review), and the cut also decouples
        # the flags plan from the state dir before the swap replaces it.
        merged_min = merged_min.localCheckpoint(eager=True)
        # Flag docs: any band bucket whose accumulated min id is smaller.
        # Short docs (no shingles → no bands) re-enter with false.
        flags = (
            banded.join(merged_min, ["band", "sig"])
            .groupBy(id_col)
            .agg((F.min("min_id") < F.col(id_col)).alias("is_near_dup"))
            .select(F.col(id_col), "is_near_dup")
        )
        all_ids = batch_df.select(F.col(id_col)).distinct()
        flags = all_ids.join(flags, id_col, "left").select(
            F.col(id_col),
            F.coalesce("is_near_dup", F.lit(False)).alias("is_near_dup"),
        )
        flags.write.mode("append").parquet(out_dir)
        # Composite-key merge: only buckets touched by this batch are
        # replaced (with their accumulated min), untouched buckets are
        # carried over by merge_upsert's anti-join.
        merge_upsert(
            spark,
            state_dir,
            merged_min,
            key=["band", "sig"],
            marker=_replay_marker(checkpoint, batch_id, token=token),
        )

    return run_stream(
        docs_stream, query_name, foreach_batch=handle, checkpoint=checkpoint,
        available_now=False,
    )


def streaming_holt_winters(
    series_stream: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint: str,
    key_col: str,
    order_col: str,
    value_col: str,
    season: int = 24,
    alpha: float = 0.5,
    beta: float = 0.5,
    gamma: float = 0.5,
    query_name: str = "stream_hw",
):
    """STREAMING Holt-Winters: each micro-batch continues the per-key
    (level, trend, rn, seasonal-history) state from the state parquet,
    emits the smoothed rows, and min-merges the updated state back — the
    batch/stream unification for the STATEFUL SMOOTHER class (the
    windowed aggregates already have it via watermarks; recurrences need
    explicit state, and this is the foreachBatch shape a production
    metrics pipeline runs). With in-order arrival the emitted rows equal
    the batch operator on the concatenated input — pinned in
    tests/test_streaming_advanced.py.

    State is (key, level, trend, rn, s_hist ARRAY<double>) — O(season)
    per key, the same bound the batch carry holds in memory. A replayed
    micro-batch (crash between the state merge and the checkpoint
    commit) is SKIPPED via the _already_applied marker, which is
    committed ATOMICALLY with the state inside merge_upsert's directory
    swap (r9 ADVICE) — the keyed merge_upsert is replace-by-key, NOT
    idempotent under a re-fold, so without the guard a replay
    double-advanced every recurrence (r9 review). Markers are
    namespaced by the checkpoint's query id, so reusing a state_dir
    with a fresh checkpoint does not suppress the new run's early
    batches."""
    from .sinks import merge_upsert, recover

    run_token = _RunToken(checkpoint)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # Recover BEFORE the replay check and the state read (r10
        # ADVICE): a mid-swap crash leaves the surviving state in
        # state_dir + "__old"; reading the missing target as empty state
        # would restart every key's (level, trend, rn) from scratch and
        # the marker committed with that wrong fold would suppress the
        # corrective replay.
        recover(state_dir)
        token = run_token.get()
        if batch_df.isEmpty() or _already_applied(
            state_dir, batch_id, checkpoint, token=token
        ):
            return
        spark = batch_df.sparkSession
        # driver-side sort: the batch is collected anyway, and a Spark
        # orderBy here costs a full range-partition shuffle per
        # micro-batch (200 tasks under a vanilla session) for rows that
        # are about to land in a Python list
        rows = sorted(
            batch_df.collect(), key=lambda r: (r[key_col], r[order_col])
        )
        state: dict = {}
        if os.path.exists(state_dir):
            for r in spark.read.parquet(state_dir).collect():
                state[r["key"]] = [
                    r["level"], r["trend"], r["rn"], list(r["s_hist"])
                ]
        out_rows = []
        for r in rows:
            k, x = r[key_col], float(r[value_col])
            st = state.get(k)
            if st is None:
                lv, tr, rn, hist = x, 0.0, 1, []
                s_used = 0.0
            else:
                lv, tr, rn, hist = st
                rn += 1
                s_used = hist[0] if rn > season else 0.0
                new_lv = alpha * (x - s_used) + (1 - alpha) * (lv + tr)
                tr = beta * (new_lv - lv) + (1 - beta) * tr
                lv = new_lv
            s_new = gamma * (x - lv) + (1 - gamma) * s_used
            hist = (hist + [s_new])[-season:]
            state[k] = [lv, tr, rn, hist]
            out_rows.append((k, rn, x, lv, tr, s_new))
        # NO coalesce(1) here: coalescing a parallelized local frame to
        # one task measured 4-8s PER CALL on local[32] (the single task
        # drags all 32 parallelize slices through the scheduler) vs
        # 0.8s for the plain write — tripled the whole entry when tried.
        spark.createDataFrame(
            out_rows,
            f"{key_col} string, rn long, x double, level double, "
            "trend double, seasonal double",
        ).write.mode("append").parquet(out_dir)
        new_state = spark.createDataFrame(
            [(k, v[0], v[1], v[2], v[3]) for k, v in state.items()],
            "key string, level double, trend double, rn long, "
            "s_hist array<double>",
        )
        merge_upsert(
            spark,
            state_dir,
            new_state,
            key="key",
            marker=_replay_marker(checkpoint, batch_id, token=token),
        )

    # NB: the driver-side collect is per MICRO-BATCH and key-bounded in
    # this harness (5 hourly series); the scale form distributes the same
    # carry via applyInPandasWithState — the stateful-anomaly entry
    # demonstrates that API; this one demonstrates durable cross-restart
    # state in plain parquet.
    return run_stream(
        series_stream, query_name, foreach_batch=handle,
        checkpoint=checkpoint, available_now=False,
    )
