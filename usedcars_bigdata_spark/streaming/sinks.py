"""Streaming sinks beyond the memory smoke harness.

``upsert_to_parquet`` is the exactly-once pattern: foreachBatch gives a
deterministic (batch_id, batch_df) pair; we MERGE by key into a parquet
target (Delta's MERGE INTO without the Delta jar — anti-join + union +
atomic directory swap). Re-running a batch yields the same target state
(idempotent upsert), which is what turns at-least-once delivery into
exactly-once results.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from .events import run_stream


def recover(target_path: str) -> None:
    """Crash recovery for the ``merge_upsert`` swap — idempotent, callable
    any time. A crash BETWEEN the two renames in ``merge_upsert`` leaves
    ``target_path`` missing while ``target_path + "__old"`` holds the ONLY
    surviving copy of the accumulated state; restore it. When both exist,
    ``__old`` is a superseded copy from a crash after the second rename —
    sweep it.

    Stateful foreachBatch handlers MUST call this at the TOP of the
    handler, before the replay-guard check and before reading the state
    dir (r10 ADVICE): the recovery inside ``merge_upsert`` runs only
    AFTER the handler has already folded the batch against whatever it
    read — after a mid-swap crash that read is EMPTY state, the fold
    output is wrong, and the late restore then overwrites every
    batch-touched key with the empty-state-derived value while the newly
    committed marker suppresses any corrective replay. Recovering first
    makes the state the batch folds against the recovered one."""
    old = target_path + "__old"
    if os.path.exists(old):
        if os.path.exists(target_path):
            shutil.rmtree(old)
        else:
            os.rename(old, target_path)


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key: str | list[str],
    marker: str | None = None,
) -> None:
    """Batch MERGE-by-key into a parquet directory: rows in target whose
    key (single column or composite list) appears in ``updates`` are
    replaced; new keys appended. Emulates Delta/Iceberg MERGE INTO
    (neither jar ships in this image — SURVEY.md guide note) with an
    atomic swap of the output directory.

    ``marker`` (optional): a string committed ATOMICALLY with the merged
    state as ``_last_batch`` inside the swapped directory (underscore
    prefix → invisible to parquet readers). Stateful foreachBatch
    consumers use it as a replay guard that can never disagree with the
    state it guards — state and marker land in one rename (r9 ADVICE:
    a sidecar marker written after the swap left a window in which a
    crash replayed the batch and double-folded non-idempotent state)."""
    keys = [key] if isinstance(key, str) else list(key)
    tmp = target_path + "__tmp"
    old = target_path + "__old"
    # Crash recovery (r9/r10 ADVICE): see recover() — kept here too as a
    # second line of defense for non-handler callers, but stateful
    # handlers must recover() BEFORE reading state.
    recover(target_path)
    if os.path.exists(target_path):
        current = spark.read.parquet(target_path)
        kept = current.join(updates.select(*keys), on=keys, how="left_anti")
        merged = kept.unionByName(updates)
    else:
        merged = updates
    merged.write.mode("overwrite").parquet(tmp)
    if marker is not None:
        with open(os.path.join(tmp, "_last_batch"), "w") as fh:
            fh.write(marker)
    else:
        # Marker carry-forward (r10 ADVICE): a marker-less merge into a
        # target whose previous swap committed one (e.g. a plain
        # upsert_to_parquet pointed at a stateful consumer's state_dir)
        # must not silently strip the replay guard from the state — the
        # guard is only ever advanced or preserved, never dropped.
        prev = os.path.join(target_path, "_last_batch")
        if os.path.exists(prev):
            shutil.copyfile(prev, os.path.join(tmp, "_last_batch"))
    # Swap discipline (r9 review): the r8 rmtree-then-rename left a
    # crash window in which the target did not exist at all — and the
    # stateful consumers treat a missing state dir as EMPTY state, so a
    # kill at the wrong instant silently reset near-dup/HW state. Now
    # the old dir is renamed ASIDE (target missing only between two
    # renames of the same directory entry — the narrowest window a
    # plain filesystem offers, and recoverable: see the restore step
    # above), the new one renamed in, and the aside copy removed last.
    if os.path.exists(target_path):
        os.rename(target_path, old)
    os.rename(tmp, target_path)
    if os.path.exists(old):
        shutil.rmtree(old)


def upsert_to_parquet(
    stream_df: DataFrame,
    target_path: str,
    key: str,
    checkpoint: str,
    query_name: str = "upsert",
    output_mode: str = "append",
) -> StreamingQuery:
    """foreachBatch upsert sink: each micro-batch merges by key into
    ``target_path``. With checkpointing, a replayed batch re-merges the
    same rows → same target state (exactly-once effect).

    ``output_mode="update"`` is the aggregated-stream pairing: each batch
    delivers the keys whose aggregate changed, carrying the CUMULATIVE
    value, and the keyed merge makes the target converge to the batch
    answer (contract entry ts_stream_upsert_sink checks exactly that
    against the DuckDB batch aggregation)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_upsert(batch_df.sparkSession, target_path, batch_df, key)

    return run_stream(
        stream_df, query_name, output_mode=output_mode, foreach_batch=handle,
        checkpoint=checkpoint, available_now=False,
    )


def streaming_kmv_signature(
    spark: SparkSession,
    stream: DataFrame,
    group_col: str,
    key_col: str,
    k: int = 32,
) -> "list[DataFrame]":
    """Mergeable-sketch streaming: maintain a per-group KMV (k-minimum-
    values) distinct signature across micro-batches via foreachBatch —
    each batch computes its LOCAL per-group min-k of md5(key), the
    accumulator unions signatures and re-takes min-k. State is ≤
    groups × k digests (bytes, not data), and because min-k is a
    semilattice merge (commutative, associative, idempotent) the final
    signature equals the one-shot batch sketch WHATEVER the batch
    boundaries — which is exactly what the oracle certifies. The
    production shape for distinct-count dashboards fed by Kafka.

    Returns a single-element list holding the final signature DataFrame
    (group, h) — list so the foreachBatch closure can rebind it."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    state: list[DataFrame] = [
        spark.createDataFrame([], f"g string, h string")
    ]

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        local = batch_df.select(
            F.col(group_col).cast("string").alias("g"),
            F.md5(F.col(key_col).cast("string")).alias("h"),
        ).distinct()
        w = Window.partitionBy("g").orderBy("h")
        merged = (
            state[0]
            .unionByName(local)
            .distinct()
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .drop("rn")
        )
        # materialize the tiny signature so the next batch's lineage
        # does not chain through every prior batch
        state[0] = spark.createDataFrame(
            merged.collect(), "g string, h string"
        )

    run_stream(stream, "kmv_signature", foreach_batch=merge)
    return state
