"""Window operators (SURVEY.md §2.5, W1-W2 + full analytic surface).

The reference's only windows are *global* row_numbers with no partitionBy
(data-understanding.py:211-212; price-prediction.py:116) — every row through
a single task. We keep that form for parity (``global_row_number``) but the
engine default is partitioned windows; for a global sequential index at
scale use ``zip_index`` (zipWithIndex-style, no single-task sort) or
``distributed_row_number`` / ``global_ntile`` (range-exchange two-pass,
bit-identical to the window forms — the r8 scale path).
"""

from __future__ import annotations

import logging
from collections.abc import Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# Bucket frames persisted by the two-pass operators below. persist() goes
# through the CacheManager, which holds a reference for the life of the
# JVM — unlike localCheckpoint blocks it is NEVER GC-released, so a
# long-lived session that calls these operators per query accumulates
# data-sized cache entries (the r7 pagerank heap-pressure failure mode).
# Every hub is registered here; harnesses run each entry inside
# ``entry_scope``, which calls ``release_hubs()`` on exit, and library
# callers should call ``release_hubs()`` once the returned frame is
# consumed. clearCache() also works but nukes unrelated caches.
_PERSISTED_HUBS: list[DataFrame] = []


def _check_reserved(df: DataFrame, reserved: set[str], *requested: "str | None") -> None:
    """The two-pass operators build internal columns (``__b``, ``__rn_in``,
    ``__off``...) on the caller's frame; a caller column with one of those
    names would make the broadcast-offset join ambiguous, and a requested
    output name that collides would be silently swallowed by the final
    drop() (r9 review finding). Fail loudly instead."""
    clash = reserved.intersection(df.columns)
    if clash:
        raise ValueError(
            f"input columns collide with two-pass internals: {sorted(clash)}"
        )
    req_clash = reserved.intersection(c for c in requested if c is not None)
    if req_clash:
        raise ValueError(
            f"requested output names collide with two-pass internals: "
            f"{sorted(req_clash)}"
        )


def register_hub(df: DataFrame) -> DataFrame:
    """Register an externally persisted frame for ``release_hubs()``
    draining — for plan-level hubs (query entries that persist a reduced
    table for multi-consumer reuse) so the per-entry release protocol
    covers them exactly like the operators' own bucket frames."""
    _PERSISTED_HUBS.append(df)
    return df


def release_hubs(blocking: bool = False) -> int:
    """Unpersist every bucket frame the two-pass window operators have
    persisted since the last release. Safe to call at any time AFTER the
    consuming action — unpersisting before materialization just costs a
    recompute (results stay correct: range boundaries are deterministic
    for a given input). Returns the number of frames released."""
    n = 0
    while _PERSISTED_HUBS:
        hub = _PERSISTED_HUBS.pop()
        try:
            hub.unpersist(blocking)
        except Exception:
            pass  # session already stopped — nothing to release
        n += 1
    return n


@contextmanager
def entry_scope(spark) -> Iterator[None]:
    """Per-entry cleanup for a harness that runs many entries in one
    session. On exit, also when the body raises, it (1) restores
    ``spark.sql.shuffle.partitions`` to its value on entry, (2) calls
    ``release_hubs()`` and (3) clears the CacheManager, so no entry
    leaks conf, hubs or cached plans into the next. Each step is
    guarded: after a session died inside the body, the body's own
    exception propagates, not a secondary one raised from cleanup."""
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        yield
    finally:
        for step in (
            lambda: spark.conf.set("spark.sql.shuffle.partitions", partitions),
            release_hubs,
            lambda: spark.catalog.clearCache(),
        ):
            try:
                step()
            except Exception:  # a dead session: report, keep the sweep going
                logging.getLogger(__name__).warning(
                    "entry_scope cleanup step failed", exc_info=True
                )


def global_row_number(df: DataFrame, order_by: Sequence[Column | str], alias: str = "row_num") -> DataFrame:
    """W1/W2 parity: row_number over an unpartitioned ordering — correct but
    single-task; documented hazard (SURVEY.md §4 'Defeats Catalyst #3')."""
    return df.withColumn(alias, F.row_number().over(Window.orderBy(*order_by)))


def zip_index(df: DataFrame, alias: str = "index") -> DataFrame:
    """Scalable global 0-based contiguous index: per-partition counts + offset
    cumsum — one tiny extra job instead of a single-task global sort. Use for
    the reference's synthetic index column (data-viz&cleaning.py:88) when
    contiguity matters; ``F.monotonically_increasing_id`` when it doesn't."""
    from pyspark.sql import types as T

    rdd = df.rdd.zipWithIndex().map(lambda pair: pair[0] + (pair[1],))
    # Build a FRESH StructType: df.schema is a cached property and
    # StructType.add mutates in place — appending to it would corrupt the
    # caller's DataFrame schema.
    schema = T.StructType(list(df.schema.fields) + [T.StructField(alias, T.LongType(), False)])
    return df.sparkSession.createDataFrame(rdd, schema)


def with_rank_ops(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    value_col: str | None = None,
) -> DataFrame:
    """Ranking + analytic family over one window: row_number, rank,
    dense_rank, plus lag/lead of ``value_col`` when given."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    out = (
        df.withColumn("row_num", F.row_number().over(w))
        .withColumn("rnk", F.rank().over(w))
        .withColumn("dense_rnk", F.dense_rank().over(w))
    )
    if value_col is not None:
        out = out.withColumn("prev_value", F.lag(value_col).over(w)).withColumn(
            "next_value", F.lead(value_col).over(w)
        )
    return out


def running_agg(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    agg_col: str,
    alias: str = "running_sum",
) -> DataFrame:
    """Cumulative sum over a rows-frame (unbounded preceding → current)."""
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(alias, F.sum(agg_col).over(w))


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    k: int,
    local_prune: bool = False,
) -> DataFrame:
    """Top-K per group via row_number ≤ K. ``order_by`` must include a unique
    tie-break key for deterministic results across engines/runs.

    ``local_prune`` adds a lossless pre-pass: each input partition keeps its
    own top-K per group (window over (group, partition_id)) so the final
    window sorts at most K·n_partitions rows per group. MEASURED OFF by
    default: at 60M rows / 3 groups the plain window ran 9.5s vs 21s with
    pruning — the extra window round costs more than sorting a 20M-row
    partition, because both variants shuffle all rows exactly once and
    Spark's codegen sort is fast until it SPILLS. Enable when per-group
    data exceeds executor memory (the spill regime) — that is the cliff
    pruning exists for."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    pruned = df
    if local_prune:
        wl = Window.partitionBy(*partition_by, F.spark_partition_id()).orderBy(*order_by)
        pruned = (
            df.withColumn("__lrn", F.row_number().over(wl))
            .filter(F.col("__lrn") <= k)
            .drop("__lrn")
        )
    return (
        pruned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def distributed_row_number(
    df: DataFrame,
    order_by: Sequence[Column],
    out_col: str = "rn",
    n_buckets: int = 32,
    count_col: str | None = None,
) -> DataFrame:
    """GLOBAL row_number without the single-partition window: range-
    exchange on the ordering (Spark's range partitioner honors per-
    column sort direction, so bucket i wholly precedes bucket i+1 in
    the requested order), row_number within each bucket under a
    bucket-partitioned window, then add the prefix count of earlier
    buckets — only the n_buckets-row offset table ever crosses a
    SinglePartition exchange. ``order_by`` must be a TOTAL order
    (include a unique tie-break column), exactly the determinism rule
    topk_per_group already imposes; the emitted numbers are then
    bit-identical to ``row_number() OVER (ORDER BY ...)``.

    The post-exchange frame is shared via lazy persist (the r5 hub
    policy — no eager materialization job): both the in-bucket window
    and the bucket-count aggregate consume it, the first consumer fills
    the cache, and bucket ids (spark_partition_id) stay consistent
    because range boundaries are fixed at planning time. Cost is one
    range exchange — the price of not funneling the corpus through one
    partition. The hub is registered for ``release_hubs()`` — call it
    after materializing the result (r9; persist entries outlive GC).

    ``count_col`` optionally appends the GLOBAL row count N, computed
    from the already-aggregated bucket counts on the broadcast side —
    consumers that need N (ntile, percent-rank forms) get it without a
    second pass over the data.

    Bucket sizing (verified at 100x — docs/SCALING.md r9 probe: output
    is bucket-count-invariant by checksum, skew ≤1.3x of even): the
    default 32 is for test SFs; at scale use
    n_buckets ≈ max(8 × total cores, input_bytes / 128 MiB) — the same
    rule as shuffle-partition sizing. The offset hub is n_buckets rows,
    broadcastable at any plausible setting."""
    _check_reserved(
        df, {"__b", "__rn_in", "__off", "__n_total"}, out_col, count_col
    )
    b = (
        df.repartitionByRange(n_buckets, *order_by)
        .withColumn("__b", F.spark_partition_id())
        .persist()
    )
    _PERSISTED_HUBS.append(b)
    wb = Window.partitionBy("__b").orderBy(*order_by)
    loc = b.withColumn("__rn_in", F.row_number().over(wb))
    wo = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        b.groupBy("__b")
        .agg(F.count(F.lit(1)).alias("__bc"))
        .withColumn("__off", F.coalesce(F.sum("__bc").over(wo), F.lit(0)))
        .withColumn("__n_total", F.sum("__bc").over(Window.partitionBy()))
        .drop("__bc")
    )
    out = (
        loc.join(F.broadcast(offs), "__b")
        .withColumn(out_col, (F.col("__off") + F.col("__rn_in")).cast("bigint"))
    )
    if count_col is not None:
        out = out.withColumn(count_col, F.col("__n_total").cast("bigint"))
    return out.drop("__b", "__rn_in", "__off", "__n_total")


def global_ntile(
    df: DataFrame,
    order_by: Sequence[Column],
    n: int,
    out_col: str,
    n_buckets: int = 32,
) -> DataFrame:
    """GLOBAL ntile(n) built on distributed_row_number — closed-form tile
    assignment from the global row number, replicating Spark's NTile
    exactly: with N rows, bucketSize = N div n and remainder = N mod n,
    the first `remainder` tiles hold bucketSize+1 rows. Same total-order
    requirement as distributed_row_number; emitted tiles are bit-identical
    to ``ntile(n) OVER (ORDER BY ...)`` while every data-sized exchange
    stays partitioned. N comes from distributed_row_number's bucket-count
    side (``count_col``) — the r8 form derived it with a second
    ``rn.agg(max)`` pass, re-executing the in-bucket window and the
    offset join once more per call (rel_rfm paid it three times; r9
    ADVICE fix)."""
    _check_reserved(df, {"__grn", "__N"}, out_col)
    rn = distributed_row_number(
        df, order_by, out_col="__grn", n_buckets=n_buckets, count_col="__N"
    )
    # Pure integer arithmetic (div/%) — double division could mis-floor
    # at exact tile boundaries for large N.
    tile = F.expr(
        f"CAST(CASE WHEN __grn <= (__N % {n}) * ((__N div {n}) + 1) "
        f"THEN (__grn - 1) div ((__N div {n}) + 1) "
        f"ELSE (__N % {n}) + ((__grn - (__N % {n}) * ((__N div {n}) + 1) - 1)"
        f" div (__N div {n})) END + 1 AS INT)"
    )
    return rn.withColumn(out_col, tile).drop("__grn", "__N")


def global_running_sum(
    df: DataFrame,
    order_by: Sequence[Column],
    value_col: str,
    out_col: str = "running_sum",
    total_col: str | None = None,
    n_buckets: int = 32,
) -> DataFrame:
    """GLOBAL cumulative sum (rows-frame, unbounded preceding → current)
    without the single-partition window — the prefix-sum sibling of
    distributed_row_number, same two-pass shape as ext.text.pack_shards:
    in-bucket running sums under a bucket-partitioned window plus the
    prefix total of earlier buckets; only the n_buckets-row offset table
    crosses a SinglePartition exchange. ``order_by`` must be a total
    order; emitted sums are then bit-identical to
    ``sum(v) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)``.
    ``total_col`` optionally appends the grand total (from the bucket
    sums — no extra pass over the data). The persisted hub is registered
    for ``release_hubs()`` — call it after materializing the result."""
    return global_running_sums(
        df,
        order_by,
        [value_col],
        [out_col],
        totals=[total_col],
        n_buckets=n_buckets,
    )


def global_running_sums(
    df: DataFrame,
    order_by: Sequence[Column],
    value_cols: Sequence[str],
    out_cols: Sequence[str],
    totals: "Sequence[str | None] | None" = None,
    n_buckets: int = 32,
) -> DataFrame:
    """Multi-column form of ``global_running_sum``: k cumulative sums
    over the SAME total order share one range exchange, one persisted
    hub, and one broadcast offset table — k separate calls would pay k
    exchanges and k hubs (best_f1_threshold needs cumulative TP and
    cumulative count together; r9). ``totals[i]``, when set, appends
    column i's grand total. Each emitted sum is bit-identical to its
    ``sum(v_i) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)`` form."""
    if len(out_cols) != len(value_cols):
        raise ValueError(
            f"out_cols must name one output per value column: "
            f"got {len(out_cols)} for {len(value_cols)}"
        )
    if totals is None:
        totals = [None] * len(value_cols)
    if len(totals) != len(value_cols):
        raise ValueError(
            f"totals must align with value_cols: "
            f"got {len(totals)} for {len(value_cols)}"
        )
    k = len(value_cols)
    internals = {"__b"} | {
        f"__{p}_{i}" for p in ("cs_in", "bs", "off", "tot") for i in range(k)
    }
    _check_reserved(df, internals, *out_cols, *totals)
    b = (
        df.repartitionByRange(n_buckets, *order_by)
        .withColumn("__b", F.spark_partition_id())
        .persist()
    )
    _PERSISTED_HUBS.append(b)
    wb = (
        Window.partitionBy("__b")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    loc = b.select(
        "*",
        *[
            F.sum(v).over(wb).alias(f"__cs_in_{i}")
            for i, v in enumerate(value_cols)
        ],
    )
    wo = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offs = b.groupBy("__b").agg(
        *[F.sum(v).alias(f"__bs_{i}") for i, v in enumerate(value_cols)]
    )
    for i in range(len(value_cols)):
        offs = offs.withColumn(
            f"__off_{i}",
            F.coalesce(F.sum(f"__bs_{i}").over(wo), F.lit(0)),
        ).withColumn(
            f"__tot_{i}",
            F.sum(f"__bs_{i}").over(Window.partitionBy()),
        )
    offs = offs.drop(*[f"__bs_{i}" for i in range(len(value_cols))])
    out = loc.join(F.broadcast(offs), "__b")
    drop = ["__b"]
    for i, (oc, tc) in enumerate(zip(out_cols, totals)):
        out = out.withColumn(oc, F.col(f"__off_{i}") + F.col(f"__cs_in_{i}"))
        if tc is not None:
            out = out.withColumn(tc, F.col(f"__tot_{i}"))
        drop += [f"__cs_in_{i}", f"__off_{i}", f"__tot_{i}"]
    return out.drop(*drop)


def grouped_running_sums(
    df: DataFrame,
    key_cols: Sequence[str],
    order_by: Sequence[Column],
    value_cols: Sequence[str],
    out_cols: Sequence[str],
    n_buckets: int = 32,
    exclusive: bool = False,
    checkpoint_hub: bool = False,
) -> DataFrame:
    """PER-KEY cumulative sums without a per-key window funnel — the
    grouped sibling of ``global_running_sums``, built for the HOT-KEY
    regime the r11 stream probe measured (docs/SCALING.md: one key
    holding 50% of the input serializes a per-key fold through one
    worker, 4.8x wall at 100x; a plain
    ``Window.partitionBy(key)`` has exactly the same funnel in the JVM).

    Shape: ONE range exchange on (keys..., order...) — a hot key spans
    MANY contiguous buckets instead of one hash partition — then
    in-bucket per-key running sums under a (bucket, key)-partitioned
    window (each group is bounded by the bucket size, i.e. rows/
    n_buckets, regardless of key skew), plus the per-key prefix total of
    earlier buckets from a (bucket, key)-grain aggregate. Only that
    aggregate (<= n_buckets rows per key, combinable map-side) crosses
    the per-key offset window; no data-sized single-key group exists
    anywhere in the plan. Emitted sums are bit-identical to
    ``sum(v) OVER (PARTITION BY keys ORDER BY ... ROWS UNBOUNDED
    PRECEDING)`` — range partitioning is key-major (keys lead the range
    tuple), so within a key, bucket order extends the requested order.

    ``order_by`` must totally order rows WITHIN each key (include a
    unique tie-break) — same determinism rule as the global forms.
    ``exclusive=True`` shifts the frame to (unbounded preceding -> -1)
    with 0 for the first row per key: the "state BEFORE this row" form
    streaming folds need.

    ``checkpoint_hub=True`` swaps the persist-and-register hub for an
    eager ``localCheckpoint`` — GC-released with the returned frame, for
    library/foreachBatch callers outside the harness ``release_hubs()``
    protocol (the r7 heap-pressure lesson; see inclusion_dependencies'
    ADVICE note). Default keeps the operators' shared hub policy.

    Scale: bucket sizing follows distributed_row_number's rule
    (n_buckets ~ max(8 x cores, bytes / 128 MiB)); skew tolerance is
    bucket-count-bounded — the hottest (bucket, key) group holds at most
    one bucket's rows."""
    if len(out_cols) != len(value_cols):
        raise ValueError(
            f"out_cols must name one output per value column: "
            f"got {len(out_cols)} for {len(value_cols)}"
        )
    k = len(value_cols)
    internals = {"__b"} | {
        f"__{p}_{i}" for p in ("gcs_in", "gbs", "goff") for i in range(k)
    }
    _check_reserved(df, internals, *out_cols)
    keys = [F.col(c) for c in key_cols]
    b = df.repartitionByRange(n_buckets, *keys, *order_by).withColumn(
        "__b", F.spark_partition_id()
    )
    if checkpoint_hub:
        b = b.localCheckpoint(eager=True)
    else:
        b = b.persist()
        _PERSISTED_HUBS.append(b)
    lo, hi = (Window.unboundedPreceding, -1 if exclusive else 0)
    wb = (
        Window.partitionBy("__b", *key_cols)
        .orderBy(*order_by)
        .rowsBetween(lo, hi)
    )
    loc = b.select(
        "*",
        *[
            F.coalesce(F.sum(v).over(wb), F.lit(0)).alias(f"__gcs_in_{i}")
            for i, v in enumerate(value_cols)
        ],
    )
    # Per-key offsets: sum of FULL earlier-bucket totals for the same key
    # (exclusive vs inclusive only shifts the in-bucket frame — earlier
    # buckets contribute wholly either way).
    wo = (
        Window.partitionBy(*key_cols)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = b.groupBy("__b", *key_cols).agg(
        *[F.sum(v).alias(f"__gbs_{i}") for i, v in enumerate(value_cols)]
    )
    for i in range(k):
        offs = offs.withColumn(
            f"__goff_{i}",
            F.coalesce(F.sum(f"__gbs_{i}").over(wo), F.lit(0)),
        )
    offs = offs.drop(*[f"__gbs_{i}" for i in range(k)])
    out = loc.join(offs, ["__b", *key_cols])
    drop = ["__b"]
    for i, oc in enumerate(out_cols):
        out = out.withColumn(oc, F.col(f"__goff_{i}") + F.col(f"__gcs_in_{i}"))
        drop += [f"__gcs_in_{i}", f"__goff_{i}"]
    return out.drop(*drop)


def grouped_lag(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
    out_col: str = "lag",
    n_buckets: int = 32,
    checkpoint_hub: bool = False,
) -> DataFrame:
    """PER-KEY lag(1) without a per-key window funnel — the lag sibling
    of ``grouped_running_sums``, same hot-key contract: one range
    exchange on (keys..., order...); in-bucket lag under a
    (bucket, key)-partitioned window (groups bucket-bounded regardless
    of skew); each bucket's FIRST row per key takes the carry — the
    previous bucket's last value for that key, computed on the
    (bucket, key)-grain table with a per-key offset window (combinable
    max_by feeds it, so nothing data-sized crosses a per-key boundary).
    Bit-identical to ``lag(v) OVER (PARTITION BY keys ORDER BY ...)``.

    ``order_cols`` are column NAMES forming an ASCENDING total order
    within each key (the carry uses a lexicographic max_by struct;
    descending orders would need a min_by flip — not supported, state
    the order ascending instead). NULL values carry through correctly:
    the first-row test is positional (row_number), not a
    coalesce-on-NULL (a NULL lag value is a real answer, not a missing
    one).

    ``checkpoint_hub`` as in grouped_running_sums."""
    internals = {"__b", "__lag_in", "__rn_in", "__last_v", "__carry"}
    _check_reserved(df, internals, out_col)
    ords = [F.col(c) for c in order_cols]
    b = df.repartitionByRange(n_buckets, *[F.col(c) for c in key_cols], *ords
                              ).withColumn("__b", F.spark_partition_id())
    if checkpoint_hub:
        b = b.localCheckpoint(eager=True)
    else:
        b = b.persist()
        _PERSISTED_HUBS.append(b)
    wb = Window.partitionBy("__b", *key_cols).orderBy(*ords)
    loc = b.select(
        "*",
        F.lag(F.col(value_col)).over(wb).alias("__lag_in"),
        F.row_number().over(wb).alias("__rn_in"),
    )
    lasts = b.groupBy("__b", *key_cols).agg(
        F.max_by(F.col(value_col), F.struct(*ords)).alias("__last_v")
    )
    wo = Window.partitionBy(*key_cols).orderBy("__b")
    carry = lasts.select(
        "__b",
        *key_cols,
        F.lag("__last_v").over(wo).alias("__carry"),
    )
    out = loc.join(carry, ["__b", *key_cols]).withColumn(
        out_col,
        F.when(F.col("__rn_in") == 1, F.col("__carry")).otherwise(
            F.col("__lag_in")
        ),
    )
    return out.drop("__b", "__lag_in", "__rn_in", "__carry")
