"""Aggregation operators (SURVEY.md §2.4, A1-A11).

Scale notes baked in:
- Grouped aggs rely on Catalyst's partial(map-side) + final HashAggregate
  pair — nothing to hand-roll.
- ``percent_of_total`` ships in two forms: the reference's driver-scalar
  form (collect a grand total, then a second job —
  data-understanding.py:229-232, an anti-pattern at scale) and the default
  single-plan window form (``sum().over(Window.partitionBy())``) that stays
  on the cluster. The window-over-no-partition computes ONE scalar — Spark
  plans a 1-row broadcast-style exchange, not a full sort, so it scales.
- ``median_exact`` exists because percentile_approx (A2) can't hash-match a
  DuckDB oracle; both are exposed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def grouped_counts(df: DataFrame, keys: Sequence[str], alias: str = "count") -> DataFrame:
    """A3: count per group (data-understanding.py:150,226,244)."""
    return df.groupBy(*keys).agg(F.count("*").alias(alias))


def grouped_agg(df: DataFrame, keys: Sequence[str], aggs: Sequence[Column]) -> DataFrame:
    """A1/A5/A6: general grouped aggregation with aliased agg Columns."""
    return df.groupBy(*keys).agg(*aggs)


def median_exact(col: str) -> Column:
    """Exact interpolated median (matches DuckDB quantile_cont)."""
    return F.expr(f"percentile({col}, 0.5)")


def median_approx(col: str, accuracy: int = 10000) -> Column:
    """A2: percentile_approx as the reference uses (data-understanding.py:205).
    Approximate → never hash-comparable across engines; prefer exact for
    oracle-checked paths, approx for 100 TB interactive paths."""
    return F.percentile_approx(col, 0.5, accuracy)


def percentiles_exact(col: str, ps: Sequence[float]) -> list[Column]:
    # int(round(...)): bare int() truncates the float grid (0.29*100 =
    # 28.999... -> 'p28'), mislabeling columns and colliding 0.28/0.29
    # into duplicate names (r9 review)
    labels = [f"p{int(round(p * 100))}" for p in ps]
    if len(set(labels)) != len(labels):
        raise ValueError(f"percentile labels collide at 1% grid: {labels}")
    return [
        F.expr(f"percentile({col}, {p})").alias(lbl)
        for p, lbl in zip(ps, labels)
    ]


def percent_of_total(
    df: DataFrame, count_col: str, alias: str = "percentage", ndigits: int = 2
) -> DataFrame:
    """A10 in-plan form: share of a count column over the grand total via
    an empty-partition window. INPUT CONTRACT: ``df`` is an already-
    GROUPED counts table (group-cardinality rows) — the empty window
    plans Exchange SinglePartition, fine for a bounded table, a one-task
    funnel on a raw fact frame (r9 review: the earlier docstring claimed
    this 'scales' unconditionally). For a grand total over raw data,
    aggregate first or use operators.window.global_running_sum's
    total_col. Reference computes the total with a separate collect()
    job (data-understanding.py:229-232) — see
    ``percent_of_total_collected``."""
    total = F.sum(count_col).over(Window.partitionBy())
    return df.withColumn(alias, F.round(F.col(count_col) * 100 / total, ndigits))


def percent_of_total_collected(
    df: DataFrame, count_col: str, alias: str = "percentage", ndigits: int = 2
) -> DataFrame:
    """A10 parity form (two jobs + driver scalar, as the reference does)."""
    total = df.agg(F.sum(count_col)).collect()[0][0]
    return df.withColumn(alias, F.round(F.col(count_col) * 100 / F.lit(total), ndigits))


def summary_stats(df: DataFrame, col: str, ndigits: int = 2) -> DataFrame:
    """A9: typed describe() — count/mean/stddev/min/max as proper numerics
    (df.describe returns strings; data-viz&cleaning.py:108,164)."""
    return df.agg(
        F.count(col).alias("n"),
        F.round(F.avg(col), ndigits).alias("mean"),
        F.round(F.stddev(col), ndigits).alias("stddev"),
        F.min(col).alias("min"),
        F.max(col).alias("max"),
    )


def profile_table(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Long-format data-profiling report: one row per profiled column with
    row/null/distinct counts and the min/max rendered as strings — the
    first thing a data-quality gate or catalog crawler computes over a
    new table.

    ONE scan regardless of column count: all metrics aggregate in a
    single wide 1-row result (each metric is map-side combinable), then
    a stack() unpivot reshapes driver-free to long format. Per-column
    describe() loops scan once per column; at 100 TB that difference is
    the whole cost. Distinct counts are exact here — swap
    approx_count_distinct when profiling at interactive latency.

    Output: (col_name, n_rows, n_nulls, n_distinct, min_str, max_str)."""
    cols = list(cols) if cols is not None else list(df.columns)
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    # internal aliases are INDEX-keyed, not name-keyed: a column name
    # with a space or quote ('unit price') made the stack() expression
    # unparseable — exactly the messy-table input this profiler exists
    # for (r9 review); the display label is quote-escaped.
    for i, c in enumerate(cols):
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{i}"),
            F.countDistinct(c).alias(f"__nd_{i}"),
            # min/max in the COLUMN'S OWN type, rendered after — casting
            # before the aggregate would make numeric minima lexicographic
            # ('10' < '9')
            F.min(F.col(c)).cast("string").alias(f"__mn_{i}"),
            F.max(F.col(c)).cast("string").alias(f"__mx_{i}"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        "'{}', __nulls_{i}, __nd_{i}, __mn_{i}, __mx_{i}".format(
            c.replace("\\", "\\\\").replace("'", "\\'"), i=i
        )
        for i, c in enumerate(cols)
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(col_name, n_nulls, n_distinct, min_str, max_str)"
        ),
        F.col("__n").alias("n_rows"),
    ).select("col_name", "n_rows", "n_nulls", "n_distinct", "min_str", "max_str")


def skewness_of(col: Column | str, ndigits: int = 4) -> Column:
    """A8: population skewness g1 = m3/m2^1.5, Spark's native definition
    (used for the odometer skew study, data-viz&cleaning.py:142,195,207)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.skewness(c), ndigits)


def count_distinct_agg(df: DataFrame, keys: Sequence[str], cols: Sequence[str]) -> DataFrame:
    """A11 extension: exact distinct counts per group (expand+two-phase agg
    under the hood; use approx_distinct_agg at interactive scale)."""
    aggs = [F.countDistinct(c).alias(f"n_{c}") for c in cols]
    return df.groupBy(*keys).agg(*aggs)


def approx_distinct_agg(
    df: DataFrame, keys: Sequence[str], cols: Sequence[str], rsd: float = 0.05
) -> DataFrame:
    """HyperLogLog++ distinct counts — constant memory per group, the
    100 TB-scale default."""
    aggs = [F.approx_count_distinct(c, rsd).alias(f"approx_n_{c}") for c in cols]
    return df.groupBy(*keys).agg(*aggs)


def hll_sketch_rollup(
    df: DataFrame, keys: Sequence[str], col: str, all_label: str = "ALL"
) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL, native
    in Spark 3.5+): per-group binary sketches are built in ONE pass, and
    the corpus-wide distinct comes from UNIONING the group sketches —
    never re-scanning the data. That mergeability is the 100 TB property
    exact countDistinct lacks (its partials aren't combinable across
    jobs): daily partition sketches roll up to monthly/global distincts
    as a metadata-sized aggregation, the cube/rollup of cardinality.

    Output: one row per group plus one ``all_label`` row, each with the
    sketch's estimate. Estimates carry HLL error (~1.6% at default lgK);
    the bound is property-tested against exact counts."""
    # materialize the per-group sketches: BOTH union branches consume
    # them, and the lazy form re-ran the fact scan + sketch aggregate
    # once per branch — the exact re-derivation kmv_set_ops guards
    # against (r9 review); the frame is group-cardinality-sized
    per = (
        df.groupBy(*keys)
        .agg(F.hll_sketch_agg(col).alias("__sk"))
        .localCheckpoint(eager=True)
    )
    grouped = per.select(
        *[F.col(k).cast("string").alias(k) for k in keys],
        F.hll_sketch_estimate("__sk").alias("n_distinct_est"),
    )
    total = per.agg(F.hll_union_agg("__sk").alias("__u")).select(
        *[F.lit(all_label).alias(k) for k in keys],
        F.hll_sketch_estimate("__u").alias("n_distinct_est"),
    )
    return grouped.unionByName(total)


def pivot_counts(
    df: DataFrame, key: str, pivot_col: str, values: Sequence[str]
) -> DataFrame:
    """Pivot with an explicit value list (avoids the extra distinct-values
    job Spark otherwise runs) and zero-filled cells."""
    out = df.groupBy(key).pivot(pivot_col, list(values)).count()
    for v in values:
        out = out.withColumn(f"n_{v}", F.coalesce(F.col(f"`{v}`"), F.lit(0))).drop(v)
    return out


def cube_agg(df: DataFrame, keys: Sequence[str], aggs: Sequence[Column]) -> DataFrame:
    return df.cube(*keys).agg(*aggs)


def rollup_agg(df: DataFrame, keys: Sequence[str], aggs: Sequence[Column]) -> DataFrame:
    return df.rollup(*keys).agg(*aggs)


def median_ci(
    df,
    group_col: str,
    value_col: str,
    tiebreak_col: str,
    z: float = 1.96,
    ndigits: int = 4,
):
    """Distribution-free confidence interval for the median via ORDER
    STATISTICS (the binomial/sign-test bound): with n observations, the
    95% CI for the median is [x_(k_lo), x_(k_hi)] where

        k_lo = ⌊(n − z·√n) / 2⌋,  k_hi = ⌈1 + (n + z·√n) / 2⌉

    — no distributional assumption, no bootstrap replicates; the interval
    comes straight from two ranks. The cheap companion to
    ts_bootstrap_ci: one sort per group and three conditional picks.

    Plan: rank over (group → value, tiebreak) + a frameless count window
    share one exchange; the k-th values come out of a single conditional
    aggregate (max(when(rn = k, v))) — no self-join, no collect. Exact
    order statistics; the only float is z·√n, whose floor/ceil could flip
    only at measure-zero boundaries.

    Output: (group, n, median, ci_lo, ci_hi). NULL values are DROPPED —
    an order statistic of a missing value is undefined, and Spark's
    asc ordering would seat NULLs at ranks 1..k, silently shifting
    every pick (r9 review)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = df.filter(F.col(value_col).isNotNull())
    w = Window.partitionBy(group_col).orderBy(
        F.col(value_col).asc(), F.col(tiebreak_col).asc()
    )
    wn = Window.partitionBy(group_col)
    ranked = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).alias("v"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    half = F.lit(z) * F.sqrt(F.col("n") * 1.0)
    # explicit floor, NOT a bare cast: Spark's double→long cast truncates
    # while DuckDB's CAST rounds-to-nearest — at even n the lower median
    # rank (n+1)/2 = k.5 landed one rank apart (caught by the hash check)
    k_med = F.floor((F.col("n") + 1) / 2).cast("long")  # lower median
    k_lo = F.greatest(
        F.floor((F.col("n") - half) / 2).cast("long"), F.lit(1)
    )
    k_hi = F.least(
        F.ceil(1.0 + (F.col("n") + half) / 2).cast("long"), F.col("n")
    )
    picked = ranked.select(
        "grp",
        "n",
        F.when(F.col("rn") == k_med, F.col("v")).alias("__m"),
        F.when(F.col("rn") == k_lo, F.col("v")).alias("__l"),
        F.when(F.col("rn") == k_hi, F.col("v")).alias("__h"),
    )
    return picked.groupBy("grp", "n").agg(
        F.round(F.max("__m"), ndigits).alias("median"),
        F.round(F.max("__l"), ndigits).alias("ci_lo"),
        F.round(F.max("__h"), ndigits).alias("ci_hi"),
    )


def correlation_matrix(
    df,
    value_cols,
    ndigits: int = 6,
):
    """Pairwise Pearson correlation matrix in long form (col_a < col_b),
    assembled from RAW MOMENTS computed in one map-side-combinable
    aggregate pass — n, Σx per column, Σx² per column, Σxy per pair —
    rather than k² calls to the corr() aggregate (which would scan once
    per pair and whose Welford-style internals differ across engines).
    One scan, one reduce, k(k+1)/2 + k + 1 running sums; the matrix
    itself is k²-sized driver output.

    Cross-engine note: the moment sums are double accumulations whose
    order differs between engines (~1e-13 relative at fact-table scale);
    the final r is a ratio of those sums, rounded well above the drift.

    Output: (col_a, col_b, n, r). NULL policy: LISTWISE deletion — rows
    with a NULL in ANY value column are dropped up front, so every
    moment shares one consistent n (the r8 form counted all rows while
    the sums skipped NULLs, making r arbitrary — it could exceed 1 —
    on NULL-bearing input; r9 review). A constant column yields r = NULL
    for its pairs, not an ANSI crash."""
    from pyspark.sql import functions as F

    cond = None
    for c in value_cols:
        nn = F.col(c).isNotNull()
        cond = nn if cond is None else (cond & nn)
    df = df.filter(cond)
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in value_cols:
        aggs.append(F.sum(F.col(c)).alias(f"s_{c}"))
        aggs.append(F.sum(F.col(c) * F.col(c)).alias(f"ss_{c}"))
    pairs = [
        (a, b)
        for i, a in enumerate(value_cols)
        for b in value_cols[i + 1 :]
    ]
    for a, b in pairs:
        aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"sp_{a}_{b}"))
    # 1-row moment table; each pair's union branch re-derived the fact
    # scan without materialization (audit: k(k-1)/2 scans; 1 after)
    m = df.agg(*aggs).localCheckpoint(eager=True)
    rows = []
    for a, b in pairs:
        num = F.col("n") * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        den2 = (
            F.col("n") * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")
        ) * (
            F.col("n") * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")
        )
        rows.append(
            m.select(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.col("n"),
                F.round(
                    F.when(den2 > 0, num / F.sqrt(den2)), ndigits
                ).alias("r"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def l_diversity_audit(
    df,
    quasi_cols,
    sensitive_col: str,
    l_threshold: int = 2,
):
    """l-diversity audit (Machanavajjhala et al. 2007) — the companion
    check to k-anonymity: a quasi-identifier group can be large (k-safe)
    yet expose everyone in it if the SENSITIVE attribute takes a single
    value there. Reports each equivalence class's size and distinct
    sensitive count, flagging classes below ``l_threshold``.

    One group-by with an exact distinct (swap approx_count_distinct at
    interactive scale); output is equivalence-class-cardinality-sized.

    Output: (<quasi_cols...>, class_size, l_distinct, violates)."""
    from pyspark.sql import functions as F

    return (
        df.groupBy(*quasi_cols)
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.countDistinct(sensitive_col).alias("l_distinct"),
        )
        .withColumn("violates", F.col("l_distinct") < l_threshold)
    )


def salted_grouped_sum(
    df,
    key_col: str,
    value_col: str,
    salt_src_col: str,
    n_salts: int = 8,
):
    """Two-phase SALTED aggregation — the hot-key treatment for skewed
    group-bys: phase 1 aggregates on (key, salt) so a pathological key's
    rows spread over ``n_salts`` reducers, phase 2 merges the per-salt
    partials on the key alone (a table bounded by keys × salts). For a
    SUM the rewrite is semantically transparent — which is exactly what
    the contract entry certifies by hashing against the PLAIN one-phase
    oracle (integer sums are associative, so the result is bit-equal).
    AQE's skew handling covers joins; skewed aggregation still wants the
    explicit salt when a single key overwhelms one reducer's memory.

    The salt derives from a deterministic hash of ``salt_src_col`` (any
    high-cardinality column), never from rand() — retried tasks must
    salt identically.

    Output: (key, total, n_rows)."""
    from pyspark.sql import functions as F

    salt = F.pmod(F.xxhash64(F.col(salt_src_col)), F.lit(n_salts))
    phase1 = (
        df.select(
            F.col(key_col).alias("key"),
            salt.alias("__salt"),
            F.col(value_col).alias("__v"),
        )
        .groupBy("key", "__salt")
        .agg(F.sum("__v").alias("__s"), F.count(F.lit(1)).alias("__n"))
    )
    return phase1.groupBy("key").agg(
        F.sum("__s").alias("total"), F.sum("__n").alias("n_rows")
    )


def log_bucket_quantiles(
    df: DataFrame,
    group_col: str,
    cents_col: Column,
    quantiles: Sequence[float] = (0.5, 0.9, 0.99),
    sub_buckets: int = 4,
    ndigits: int = 4,
) -> DataFrame:
    """DDSketch-style relative-error quantile sketch over positive
    integer cents, in EXACT integer arithmetic (beyond-reference
    extension — the mergeable-quantile companion to the KMV/CMS/HLL
    sketch family).

    Bucketing: k = floor(log2(v)) computed as ``length(bin(v)) − 1`` —
    a string-length bit trick, NOT floating log(), so bucket boundaries
    cannot drift by an engine's 1-ulp log difference — refined into
    ``sub_buckets`` linear sub-cells: ``bucket = k·s + (v − 2^k)·s / 2^k``
    (integer division). With s=4 the relative error is ≤ 2^(1/4)−1 ≈ 9%.
    The sketch is the per-group bucket-count table — tiny (≤ s·64 rows
    per group), MERGEABLE by addition (the 100 TB story: map-side
    partial counts collapse everything before any shuffle), and the
    quantile readout is the first bucket whose cumulative count reaches
    ceil(q·n), estimated at the sub-cell midpoint. Every step through
    the bucket id is exact bigint; only the final midpoint estimate is
    floating.

    Output: (group, q, n, bucket, est_value)."""
    s = int(sub_buckets)
    v = cents_col.cast("bigint")
    k = (F.length(F.bin(v)) - 1).cast("bigint")
    p2 = F.pow(F.lit(2.0), k.cast("double")).cast("bigint")
    # floor() of an exact-integer double ratio, NOT cast(): Spark cast
    # truncates while DuckDB CAST rounds-to-nearest (memory'd trap); an
    # explicit floor is identical in both engines, and correctly-rounded
    # division of exact ints < 2^28 cannot land 1 ulp above an integer.
    bucket = k * s + F.floor((v - p2) * s / p2).cast("bigint")
    counts = (
        df.select(F.col(group_col).alias("group"), bucket.alias("bucket"))
        .groupBy("group", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wc = (
        Window.partitionBy("group")
        .orderBy(F.col("bucket").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = counts.select(
        "group",
        "bucket",
        F.sum("c").over(wc).alias("cum"),
        F.sum("c").over(Window.partitionBy("group")).alias("n"),
    )
    qax = df.sparkSession.createDataFrame(
        [(float(q),) for q in quantiles], "q double"
    )
    hits = (
        cum.crossJoin(F.broadcast(qax))
        .filter(F.col("cum") >= F.ceil(F.col("q") * F.col("n")))
        .groupBy("group", "q")
        .agg(F.min("bucket").alias("bucket"), F.max("n").alias("n"))
    )
    kk = F.floor(F.col("bucket") / s).cast("bigint")
    sub = F.col("bucket") - kk * s
    p2d = F.pow(F.lit(2.0), kk.cast("double"))
    est = p2d * (1.0 + (sub.cast("double") + 0.5) / s) / 100.0
    return hits.select(
        "group",
        "q",
        "n",
        "bucket",
        F.round(est, ndigits).alias("est_value"),
    )


def simpson_diversity(
    df: DataFrame,
    group_col: str,
    category_col: str,
    min_count: int = 2,
    ndigits: int = 6,
) -> DataFrame:
    """Simpson diversity index per group: D = 1 − Σ_c n_c(n_c−1)/(n(n−1))
    — the probability two draws without replacement differ in category.
    Chosen over Shannon entropy for the hash-certified tier because it is
    RATIONAL in the counts (no log): the numerator Σ n_c(n_c−1) and n are
    exact bigints, one double division at the end. Two aggregates
    (category counts → group moments), both map-side combinable.

    Output: (group, n, n_categories, simpson) for groups with
    n ≥ min_count (D undefined below 2)."""
    cc = (
        df.select(
            F.col(group_col).alias("g"), F.col(category_col).alias("c")
        )
        .groupBy("g", "c")
        .agg(F.count(F.lit(1)).alias("n_c"))
    )
    m = cc.groupBy("g").agg(
        F.sum("n_c").alias("n"),
        F.count(F.lit(1)).alias("n_categories"),
        F.sum(F.col("n_c") * (F.col("n_c") - 1)).alias("num"),
    ).filter(F.col("n") >= min_count)
    nd = F.col("n").cast("double")
    return m.select(
        F.col("g").alias(group_col),
        F.col("n").cast("bigint").alias("n"),
        F.col("n_categories").cast("bigint").alias("n_categories"),
        (
            F.round(
                1.0 - F.col("num").cast("double") / (nd * (nd - 1.0)), ndigits
            )
            + 0.0
        ).alias("simpson"),
    )


def kmv_set_ops(
    a_keys: DataFrame,
    b_keys: DataFrame,
    key_col: str,
    k: int = 64,
    ndigits: int = 6,
) -> DataFrame:
    """Theta-sketch-style set algebra on KMV signatures: estimate
    |A ∪ B| and |A ∩ B| from the two k-minimum-value sketches alone —
    the mergeable-sketch answer to distinct set overlap at 100 TB (the
    full key sets never co-locate; only 2k digests meet):

        θ        = u(k-th smallest hash of the union signature)
        est_∪    = (k − 1) / θ
        est_∩    = |{h < θ : h ∈ sig_A ∧ h ∈ sig_B}| / θ

    θ ≤ min(θ_A, θ_B), so every union-sample hash below θ is fully
    observed in both signatures — the sub-θ membership test is exact.
    Deterministic md5 order makes the sketches, θ, and both estimates
    hash-certifiable. When the union has fewer than k distinct hashes
    the sketch is exhaustive (θ = 1, estimates exact). Exact counts ride
    along as the error companion (a production sketch drops them).

    Output: one row (k, k_filled, theta, est_union, est_intersection,
    n_exact_union, n_exact_intersection)."""
    # ha/hb feed the min-k, the union, the membership semi-joins, and
    # the exact companions (12 source scans measured by scan_audit);
    # materialize each distinct hash set once.
    ha = (
        a_keys.select(F.md5(F.col(key_col).cast("string")).alias("h"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    hb = (
        b_keys.select(F.md5(F.col(key_col).cast("string")).alias("h"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def mink(df: DataFrame) -> DataFrame:
        salted = df.withColumn("__salt", F.pmod(F.xxhash64("h"), F.lit(16)))
        w1 = Window.partitionBy("__salt").orderBy("h")
        local = (
            salted.withColumn("rn", F.row_number().over(w1))
            .filter(F.col("rn") <= k)
            .drop("rn", "__salt")
        )
        w2 = Window.orderBy("h")
        return (
            local.withColumn("rn", F.row_number().over(w2))
            .filter(F.col("rn") <= k)
            .drop("rn")
        )

    sa = mink(ha)
    sb = mink(hb)
    u = sa.unionAll(sb).distinct()
    wu = Window.orderBy("h")
    ur = mink(u).withColumn("rn", F.row_number().over(wu))
    kth = ur.agg(
        F.max("rn").alias("k_filled"),
        F.max(F.when(F.col("rn") == k, F.col("h"))).alias("h_k"),
    )
    # sample = union hashes strictly below theta (rank < k), or ALL
    # hashes when the sketch is exhaustive (k_filled < k).
    sample = ur.crossJoin(F.broadcast(kth)).filter(
        (F.col("k_filled") < k) | (F.col("rn") < k)
    )
    common = (
        sample.join(sa, "h", "left_semi")
        .join(sb, "h", "left_semi")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ex_u = ha.unionAll(hb).distinct().agg(
        F.count(F.lit(1)).alias("n_exact_union")
    )
    ex_i = ha.join(hb, "h", "left_semi").agg(
        F.count(F.lit(1)).alias("n_exact_intersection")
    )
    theta = F.when(F.col("k_filled") < k, F.lit(1.0)).otherwise(
        (
            F.conv(F.substring("h_k", 1, 8), 16, 10).cast("long") + 0.5
        )
        / F.lit(4294967296.0)
    )
    est_u = F.when(
        F.col("k_filled") < k, F.col("k_filled").cast("double")
    ).otherwise(F.lit(float(k - 1)) / theta)
    est_i = F.col("n_common").cast("double") / theta
    return (
        kth.crossJoin(F.broadcast(common))
        .crossJoin(F.broadcast(ex_u))
        .crossJoin(F.broadcast(ex_i))
        .select(
            F.lit(k).cast("bigint").alias("k"),
            F.col("k_filled").cast("bigint").alias("k_filled"),
            (F.round(theta, ndigits) + 0.0).alias("theta"),
            (F.round(est_u, 2) + 0.0).alias("est_union"),
            (F.round(est_i, 2) + 0.0).alias("est_intersection"),
            F.col("n_exact_union").cast("bigint").alias("n_exact_union"),
            F.col("n_exact_intersection")
            .cast("bigint")
            .alias("n_exact_intersection"),
        )
    )


def table_checksum(
    df: DataFrame, cols: Sequence[str], group_col: str | None = None
) -> DataFrame:
    """Order-independent table fingerprint — the replication/migration
    integrity primitive (compare two copies of a 100 TB table without
    co-locating them: ship one row per partition, not the data). Each
    row hashes to a 40-bit integer via md5 over the '|'-joined column
    renderings (caller must pass STABLE renderings — integers/strings,
    never raw doubles, whose to-string forms differ across engines);
    the fingerprint is the SUM mod 2^61 plus an independent salted
    second sum, so single-row corruption, duplication, or loss all move
    it. 40-bit row terms keep the raw bigint sum overflow-safe to ~8M
    rows per group under ANSI (beyond that, pre-aggregate per partition
    bucket and re-sum the partials mod 2^61 — same algebra). Commutative
    + associative ⇒ one map-side-combinable aggregate, any partitioning.

    Rendering is COLLISION-SAFE (r9 review): per column, backslashes
    and the '|' delimiter are escaped and NULL renders as the token
    '\\N' (an unescaped backslash form no real value can produce), so
    ('a', NULL, 'b') vs ('a', 'b', NULL) and ('a|b','c') vs ('a','b|c')
    hash differently — the r8 concat_ws form silently dropped NULLs and
    collided exactly the column-shift corruption this op exists to
    catch.

    Output: (group?, n_rows, checksum_a, checksum_b)."""

    def _render(c: str) -> Column:
        s = F.col(c).cast("string")
        s = F.replace(s, F.lit("\\"), F.lit("\\\\"))
        s = F.replace(s, F.lit("|"), F.lit("\\|"))
        return F.coalesce(s, F.lit("\\N"))

    rendered = F.concat_ws("|", *[_render(c) for c in cols])
    h = lambda salt: F.pmod(  # noqa: E731
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), rendered)), 1, 10), 16, 10
        ).cast("long"),
        F.lit(1099511627776),
    )
    keyed = df.select(
        *( [F.col(group_col).alias("g")] if group_col else [] ),
        h("a:").alias("ha"),
        h("b:").alias("hb"),
    )
    gb = keyed.groupBy("g") if group_col else keyed.groupBy()
    agg = gb.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.pmod(F.sum("ha"), F.lit(2305843009213693952))
        .cast("bigint")
        .alias("checksum_a"),
        F.pmod(F.sum("hb"), F.lit(2305843009213693952))
        .cast("bigint")
        .alias("checksum_b"),
    )
    if group_col:
        return agg.withColumnRenamed("g", group_col)
    return agg
