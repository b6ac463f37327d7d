"""Partitioning / caching / bucketing operators.

The reference never tunes partitioning (grep-verified, SURVEY.md §4) — it
runs Catalyst defaults on YARN. These engine built-ins are the knobs a
100 TB deployment actually turns; each docstring states when the shuffle
it implies is worth paying.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted(df: DataFrame, key: str, salt_buckets: int, salt_col: str = "__salt") -> DataFrame:
    """Append a deterministic salt derived from the whole row hash to break
    a hot key across ``salt_buckets`` reducers. Pair with exploding the
    other join side over 0..buckets-1. AQE's skew-join handles most cases;
    salting remains for stubborn single-key skew (e.g. null-heavy keys)."""
    return df.withColumn(
        salt_col, F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt_buckets))
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: the (large, skewed) left side gets a
    deterministic row-hash salt; the right side is replicated across all
    ``buckets`` salt values; the join key becomes (key, salt), splitting a
    hot key over ``buckets`` reducers. Semantically identical to
    ``left.join(right, key, how)`` for 1:N joins where right is the N=1
    side per key-salt. Use when ONE key dominates and AQE's skew split
    (enabled by default in session.py) isn't enough — e.g. null-surrogate
    keys. Cost: right side × buckets.

    Supported ``how``: inner / left / left_semi / left_anti — joins
    where the replicated right side cannot duplicate output. right /
    full joins are REJECTED: an unmatched right row exists once per
    salt replica and would emit ``buckets`` copies (r9 review); salt the
    other side instead."""
    normalized = how.replace("_", "").lower()
    if normalized not in {"inner", "left", "leftouter", "leftsemi", "leftanti"}:
        raise ValueError(
            f"salted_join supports inner/left/left_semi/left_anti, got {how!r}:"
            " right/full joins would duplicate unmatched right rows"
            " once per salt replica"
        )
    l_salted = left.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(buckets)).cast("int"),
    )
    r_replicated = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(buckets)]))
    )
    out = l_salted.join(r_replicated, on=[key, "__salt"], how=how)
    return out.drop("__salt")


def bucketed_write(
    df: DataFrame,
    table_name: str,
    n_buckets: int,
    bucket_cols: Sequence[str],
    sort_cols: Sequence[str] | None = None,
    path: str | None = None,
) -> None:
    """Persist hash-bucketed (and optionally sorted) — joins/aggs on the
    bucket key then skip the shuffle entirely on every future read. The
    right call for a fact table joined on the same key daily at 100 TB."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def zorder_key(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 8,
    bucket_exprs: "Sequence | None" = None,
) -> "tuple[DataFrame, str]":
    """Append a Morton (Z-order) interleave key over ``cols``: each column
    is bucketized onto a uniform 2^bits grid between its min and max (one
    cheap agg), then the bucket bits are interleaved into one long. Rows
    close in Z value are close in EVERY keyed dimension, which is what
    makes multi-column min/max pruning work after a range layout.

    Pure JVM column expressions (width_bucket + shift/or folds — no
    Python, no window). Uniform grid caveat: heavily skewed columns
    should be pre-transformed (log/rank) before keying, the same caveat
    every uniform-grid Z-order implementation carries. NULLs land in
    bucket 0 (sort first, prune-neutral).

    ``bucket_exprs`` (optional, exactly one Column per entry of
    ``cols`` — enforced) injects pre-computed bucket ids and skips the
    min/max scan + width_bucket grid; each id is masked onto
    [0, 2^bits) so a contract violation degrades to a wrapped bucket
    instead of corrupting other columns' bit slots — used
    when the caller has a deterministic bucketing of its own (e.g. the
    hash-certified contract entry, whose integer buckets replay exactly
    in SQL) while the interleave fold below stays the single shared
    implementation.

    Returns (df_with_key, key_col_name)."""
    cols = list(cols)
    # the interleave must fit one signed long: JVM shiftleft wraps the
    # shift amount mod 64, so bits*len(cols) > 63 would silently alias
    # high bit positions onto low ones — column N's bits overwriting
    # column 0's, destroying locality with no error (r9 review)
    if bits * len(cols) > 63:
        raise ValueError(
            f"bits*len(cols) = {bits * len(cols)} exceeds the 63 usable "
            "bits of a long Morton key: lower bits or key fewer columns"
        )
    n_buckets = 1 << bits
    if bucket_exprs is not None:
        # Contract checks (r9 ADVICE fix): a length mismatch or an
        # out-of-range bucket would silently interleave bits into OTHER
        # columns' slots, corrupting the Morton key — fail loudly on the
        # former, mask to the grid on the latter.
        if len(bucket_exprs) != len(cols):
            raise ValueError(
                f"bucket_exprs must supply one Column per keyed column: "
                f"got {len(bucket_exprs)} exprs for {len(cols)} cols"
            )
        z = F.lit(0).cast("long")
        for i, bucket in enumerate(bucket_exprs):
            bucket = bucket.cast("long").bitwiseAND(F.lit(n_buckets - 1))
            for b in range(bits):
                bit = F.shiftright(bucket, b).bitwiseAND(F.lit(1))
                z = z.bitwiseOR(F.shiftleft(bit, b * len(cols) + i))
        return df.withColumn("__zorder", z), "__zorder"
    stats = df.agg(
        *[F.min(c).alias(f"__mn_{i}") for i, c in enumerate(cols)],
        *[F.max(c).alias(f"__mx_{i}") for i, c in enumerate(cols)],
    ).first()
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        # empty input / all-NULL column: no min/max — degenerate to a
        # constant grid so every row lands in bucket 0 (valid, prune-
        # neutral layout) instead of crashing on float(None)
        mn_raw, mx_raw = stats[f"__mn_{i}"], stats[f"__mx_{i}"]
        mn = float(mn_raw) if mn_raw is not None else 0.0
        mx = float(mx_raw) if mx_raw is not None else 1.0
        if mx <= mn:
            mx = mn + 1.0
        bucket = (
            F.width_bucket(F.col(c).cast("double"), F.lit(mn), F.lit(mx), F.lit(n_buckets))
            - 1
        )
        bucket = F.coalesce(
            F.least(F.greatest(bucket, F.lit(0)), F.lit(n_buckets - 1)), F.lit(0)
        ).cast("long")
        for b in range(bits):
            bit = F.shiftright(bucket, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * len(cols) + i))
    return df.withColumn("__zorder", z), "__zorder"


def zorder_layout(
    df: DataFrame, cols: Sequence[str], n_partitions: int, bits: int = 8
) -> DataFrame:
    """Z-order data layout: range-partition + sort by the Morton key so
    each output file covers a compact hyper-rectangle of the keyed
    columns. Parquet then records tight per-file/row-group min/max for
    ALL keyed columns, and a reader filtering on ANY of them skips most
    files — the standard multi-dimensional layout trick (Delta OPTIMIZE
    ZORDER BY, Iceberg sort orders) expressed with stock Spark: one
    range exchange, one in-partition sort, no custom writer.

    A single-column sort gives perfect pruning on that column and NONE
    on the others; Z-order trades a little per-column tightness for
    pruning on every keyed dimension (measured in
    tests/test_operators.py: file-span fraction on the second column
    drops from ~1.0 to a small fraction). Write the result with
    ``.write.parquet`` as usual."""
    keyed, key = zorder_key(df, cols, bits=bits)
    return (
        keyed.repartitionByRange(n_partitions, F.col(key))
        .sortWithinPartitions(key)
        .drop(key)
    )


def spread_over_cores(df: DataFrame) -> DataFrame:
    """At least ``n = defaultParallelism`` partitions, so every pass over
    a cached, reused table (an MLlib training loop) runs on every core.

    A plan with fewer gets a round-robin ``repartition(n)``, which
    ``spark.sql.execution.sortBeforeRepartition`` keeps deterministic.
    A plan with ``n`` or more is returned as it is: a forced shuffle of a
    100 TB table costs more than the passes gain. So is an adaptive plan,
    whose shuffle ``spark.sql.shuffle.partitions`` already sizes; reading
    its partition count would run its shuffle stages. The count of any
    other plan comes from its planned RDD, without running a job."""
    n = df.sparkSession.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return df
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def zonemap_prune_audit(
    df: DataFrame,
    part_col: Column,
    value_col: Column,
    thresholds: list[int],
) -> DataFrame:
    """Zone-map (min/max statistics) pruning audit — the data-skipping
    arithmetic behind parquet row-group stats, Delta/Iceberg file
    pruning, and clustered layouts: partition the table by ``part_col``,
    record per-partition (n_rows, min, max), and for each ``value >= t``
    predicate report how many partitions a stats-aware scan skips
    (max < t) and how many rows that avoids reading. Everything is
    exact integer counting — the audit that tells you whether a layout
    (see rel_zorder_layout / rel_compaction_plan) actually earns its
    keep at 100 TB. One aggregate over the data; the stats table is
    |partitions| rows, broadcast against the threshold axis.

    Output per threshold: (threshold, n_partitions, n_prunable,
    rows_skipped, rows_matching)."""
    stats = (
        df.select(part_col.alias("p"), value_col.alias("v"))
        .groupBy("p")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
    )
    match = (
        df.select(part_col.alias("p"), value_col.alias("v"))
        .crossJoin(
            F.broadcast(
                df.sparkSession.createDataFrame(
                    [(int(t),) for t in thresholds], "t bigint"
                )
            )
        )
        .groupBy("t")
        .agg(F.sum((F.col("v") >= F.col("t")).cast("int")).alias("rows_matching"))
    )
    audit = (
        stats.crossJoin(
            F.broadcast(
                df.sparkSession.createDataFrame(
                    [(int(t),) for t in thresholds], "t bigint"
                )
            )
        )
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).alias("n_partitions"),
            F.sum((F.col("mx") < F.col("t")).cast("int")).alias("n_prunable"),
            F.sum(
                F.when(F.col("mx") < F.col("t"), F.col("n_rows")).otherwise(0)
            ).alias("rows_skipped"),
        )
    )
    return audit.join(match, "t").select(
        F.col("t").cast("bigint").alias("threshold"),
        F.col("n_partitions").cast("bigint").alias("n_partitions"),
        F.col("n_prunable").cast("bigint").alias("n_prunable"),
        F.col("rows_skipped").cast("bigint").alias("rows_skipped"),
        F.col("rows_matching").cast("bigint").alias("rows_matching"),
    )
