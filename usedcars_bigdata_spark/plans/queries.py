"""Core named-query library (SURVEY.md §2) over the harness testdata.

Two families:
- ``ref_*``: the reference application's query semantics (its three benchmark
  queries + the data-understanding/cleaning analyses, SURVEY.md §2/§6) recast
  onto the harness star schema — same operator shapes, scale-aware plans.
- ``rel_*``: the general relational surface (joins, windows, set ops, pivot,
  cube, sessionization) the engine ships beyond the reference's single-table
  workload.

Every float-producing column is rounded in-query on BOTH the Spark and the
oracle side; every top-k/row_number ordering carries a unique tie-break key
(see plans/registry.py for why).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import agg as A
from ..operators import clean as C
from ..operators import derive as D
from ..operators import joins as J
from ..operators import sample as R
from ..operators import setops as S
from ..operators import sort as O
from ..operators import timeseries as TS
from ..operators import window as W
from ..sources import load_table
from .registry import query, scratch_dir
from ..streaming.events import run_stream, write_replay_source

# ---------------------------------------------------------------------------
# Reference parity: the three benchmark queries
# ---------------------------------------------------------------------------


@query(
    "ref_q1_avg_price_by_priority",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS num_listings,
           round(avg(o_totalprice), 2) AS avg_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY num_listings DESC
    """,
)
def ref_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 (A1/P14/O1): count + avg price per group, sorted by count desc
    (performance_py/2-cores-6-instances.py:121-129). Partial+final hash agg;
    one shuffle on the group key, one range exchange for the sort."""
    orders = load_table(spark, sf_dir, "orders")
    out = A.grouped_agg(
        orders,
        ["o_orderpriority"],
        [
            F.count("*").alias("num_listings"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        ],
    )
    return O.ordered(out, ["num_listings"], ascending=False)


@query(
    "ref_q2_median_value_by_type",
    oracle="""
    SELECT upper(event_type) AS event_type,
           count(*) AS num_events,
           round(quantile_cont(CAST(round(value * 100) AS BIGINT), 0.5) / 100, 2)
             AS median_value,
           row_number() OVER (ORDER BY upper(event_type)) AS row_num
    FROM events
    GROUP BY event_type
    """,
)
def ref_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 (A2/W1/F1): count + median per group, uppercased key, global
    row_number (performance_py/2-cores-6-instances.py:155-169). Exact
    interpolated median (oracle-comparable) instead of percentile_approx —
    both are exposed in operators.agg. The global window is the reference's
    semantics; it runs on the already-aggregated (tiny) result, so the
    single-task sort is harmless here.

    The median interpolates over integer CENTS: midpoint interpolation on
    integers is exact in FP, so Spark's (1-g)a+gb and DuckDB's a+(b-a)g
    agree bit-for-bit (over raw doubles they can differ in the last ulp and
    flip the rounding)."""
    events = load_table(spark, sf_dir, "events")
    cents_median = F.expr(
        "percentile(CAST(round(value * 100) AS BIGINT), 0.5) / 100"
    )
    grouped = A.grouped_agg(
        events,
        ["event_type"],
        [
            F.count("*").alias("num_events"),
            F.round(cents_median, 2).alias("median_value"),
        ],
    ).select(
        F.upper("event_type").alias("event_type"), "num_events", "median_value"
    )
    return W.global_row_number(grouped, [F.col("event_type").asc()], alias="row_num")


@query(
    "ref_q3_pct_of_total",
    oracle="""
    WITH g AS (
      SELECT o_orderpriority, count(*) AS num_f
      FROM orders WHERE o_orderstatus = 'F'
      GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, num_f,
           round(num_f * 100.0 / sum(num_f) OVER (), 2) AS percentage
    FROM g
    ORDER BY percentage DESC
    """,
)
def ref_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 (A3/A10/F8/O1): percent-of-total per group
    (performance_py/2-cores-6-instances.py:196-212). Scalable single-plan
    form: window-over-no-partition instead of the reference's mid-query
    collect() of the grand total (SURVEY.md §4 'Defeats Catalyst #4')."""
    orders = load_table(spark, sf_dir, "orders")
    counts = A.grouped_counts(
        orders.filter(F.col("o_orderstatus") == "F"), ["o_orderpriority"], alias="num_f"
    )
    pct = A.percent_of_total(counts, "num_f", alias="percentage")
    return O.ordered(pct, ["percentage"], ascending=False)


# ---------------------------------------------------------------------------
# Reference parity: data-understanding / cleaning analyses
# ---------------------------------------------------------------------------


@query(
    "ref_regexp_extract_ids",
    oracle="""
    SELECT c_name,
           CAST(regexp_extract(c_name, '([0-9]+)$', 1) AS INTEGER) AS extracted_id
    FROM customer
    WHERE regexp_extract(c_name, '([0-9]+)$', 1) <> ''
    ORDER BY extracted_id, c_name
    LIMIT 10
    """,
)
def ref_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/P5/P9/O2/O3: regexp_extract + cast + null-filter + sort + limit —
    the oldest-cars year-extraction pipeline shape
    (data-understanding.py:183-196)."""
    customer = load_table(spark, sf_dir, "customer")
    extracted = D.regexp_extract_col(
        customer.select("c_name"), "c_name", r"([0-9]+)$", 1, "extracted_id", cast="int"
    )
    notnull = C.filter_not_null(extracted, "extracted_id")
    return O.top_k(notnull, [F.col("extracted_id").asc(), F.col("c_name").asc()], 10)


@query(
    "ref_like_not_filter",
    oracle="""
    SELECT lang, count(*) AS num_docs
    FROM documents
    WHERE NOT (lower(text) LIKE '%join%' OR lower(text) LIKE '%merge%')
    GROUP BY lang
    """,
)
def ref_like_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10/F1/F3: negated LIKE-disjunction filter, the cash-for/spam filter
    shape (data-understanding.py:183-187)."""
    docs = load_table(spark, sf_dir, "documents")
    filtered = docs.filter(~C.like_any(F.col("text"), ["%join%", "%merge%"]))
    return A.grouped_counts(filtered, ["lang"], alias="num_docs")


@query(
    "ref_category_native",
    oracle="""
    SELECT CASE
             WHEN lower(text) LIKE '%stream%' OR lower(text) LIKE '%window%'
               THEN 'streaming'
             WHEN lower(text) LIKE '%join%' OR lower(text) LIKE '%merge%'
               THEN 'relational'
             ELSE 'other'
           END AS category,
           count(*) AS n
    FROM documents
    GROUP BY category
    """,
)
def ref_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 native rewrite: keyword categorization as a when/contains chain
    (vs. the reference's Python UDF, data-understanding.py:131-147). Stays in
    whole-stage codegen — no BatchEvalPython in the plan."""
    docs = load_table(spark, sf_dir, "documents")
    cat = D.categorize_by_keywords(
        "text",
        [("streaming", ["stream", "window"]), ("relational", ["join", "merge"])],
        "other",
    )
    return A.grouped_counts(docs.withColumn("category", cat), ["category"], alias="n")


@query(
    "ref_when_chain_groups",
    oracle="""
    SELECT CASE
             WHEN c_mktsegment IN ('AUTOMOBILE', 'MACHINERY') THEN 'industrial'
             WHEN c_mktsegment = 'BUILDING' THEN 'construction'
             ELSE 'consumer'
           END AS segment_group,
           count(*) AS n_customers,
           round(avg(c_acctbal), 2) AS avg_acctbal
    FROM customer
    GROUP BY segment_group
    """,
)
def ref_when_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4/U3: ordered when-chain bucketing (manufacturer→country shape,
    recomendation-system.py:67-86)."""
    customer = load_table(spark, sf_dir, "customer")
    grp = D.when_chain(
        [
            (F.col("c_mktsegment").isin("AUTOMOBILE", "MACHINERY"), "industrial"),
            (F.col("c_mktsegment") == "BUILDING", "construction"),
        ],
        "consumer",
    )
    return A.grouped_agg(
        customer.withColumn("segment_group", grp),
        ["segment_group"],
        [F.count("*").alias("n_customers"), F.round(F.avg("c_acctbal"), 2).alias("avg_acctbal")],
    )


@query(
    "ref_age_price",
    oracle="""
    SELECT CAST(2002 - year(o_orderdate) AS INTEGER) AS age,
           round(avg(o_totalprice), 2) AS avg_price,
           count(*) AS n_orders
    FROM orders
    GROUP BY age
    ORDER BY age
    """,
)
def ref_age_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5/F6/A6/O2: age derivation + grouped averages
    (data-viz&cleaning.py:254-263)."""
    orders = load_table(spark, sf_dir, "orders")
    aged = orders.withColumn("age", (F.lit(2002) - F.year("o_orderdate")).cast("int"))
    out = A.grouped_agg(
        aged,
        ["age"],
        [F.round(F.avg("o_totalprice"), 2).alias("avg_price"), F.count("*").alias("n_orders")],
    )
    return O.ordered(out, ["age"])


@query(
    "ref_range_inlist_filter",
    oracle="""
    SELECT o_orderstatus, count(*) AS n, round(avg(o_totalprice), 2) AS avg_price
    FROM orders
    WHERE o_totalprice >= 1000 AND o_totalprice <= 300000
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND o_orderstatus <> 'P'
    GROUP BY o_orderstatus
    """,
)
def ref_range_inlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/P7/P8: compound range + IN-list + inequality filter (the
    vehicles_prc/vehicles_used view chain, data-viz&cleaning.py:130-386).
    All three predicates reach the parquet scan as PushedFilters."""
    orders = load_table(spark, sf_dir, "orders")
    f = C.filter_range(orders, "o_totalprice", lo=1000, hi=300000)
    f = C.filter_isin(f, "o_orderpriority", ["1-URGENT", "2-HIGH"])
    f = f.filter(F.col("o_orderstatus") != "P")
    return A.grouped_agg(
        f,
        ["o_orderstatus"],
        [F.count("*").alias("n"), F.round(F.avg("o_totalprice"), 2).alias("avg_price")],
    )


@query(
    "ref_dedup_deterministic",
    oracle="""
    SELECT user_id, event_type, event_id, value
    FROM events
    WHERE event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
      AND event_type IS NOT NULL AND value IS NOT NULL AND props IS NOT NULL
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) = 1
    """,
)
def ref_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11/P12: dropna + deterministic dedup. dropDuplicates keeps an
    *arbitrary* row (data-viz&cleaning.py:74) — our scalable default keeps
    the min-event_id row per (user_id, event_type), reproducible anywhere."""
    events = load_table(spark, sf_dir, "events")
    clean = C.drop_nulls(events)
    deduped = C.dedupe_deterministic(clean, ["user_id", "event_type"], ["event_id"])
    return deduped.select("user_id", "event_type", "event_id", "value")


@query(
    "ref_skewness_transforms",
    oracle="""
    WITH s AS (
      SELECT avg(l_extendedprice) AS mu, stddev_pop(l_extendedprice) AS sd,
             avg(sqrt(l_extendedprice)) AS mu_s, stddev_pop(sqrt(l_extendedprice)) AS sd_s,
             avg(ln(l_extendedprice)) AS mu_l, stddev_pop(ln(l_extendedprice)) AS sd_l
      FROM lineitem
    )
    SELECT
      round(avg(pow(l_extendedprice - mu, 3)) / pow(sd, 3), 3) AS skew_raw,
      round(avg(pow(sqrt(l_extendedprice) - mu_s, 3)) / pow(sd_s, 3), 3) AS skew_sqrt,
      round(avg(pow(ln(l_extendedprice) - mu_l, 3)) / pow(sd_l, 3), 3) AS skew_log
    FROM lineitem, s
    GROUP BY mu, sd, mu_s, sd_s, mu_l, sd_l
    """,
)
def ref_skewness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/F7: skewness of a metric and its sqrt/log transforms — the
    odometer skew-reduction study (data-viz&cleaning.py:142-207). Spark-side
    uses native F.skewness (population g1); the oracle computes the same
    moments explicitly since DuckDB's skewness() is sample-corrected."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        A.skewness_of(F.col("l_extendedprice"), 3).alias("skew_raw"),
        A.skewness_of(F.sqrt("l_extendedprice"), 3).alias("skew_sqrt"),
        A.skewness_of(F.log("l_extendedprice"), 3).alias("skew_log"),
    )


@query(
    "ref_summary_stats",
    oracle="""
    SELECT count(l_extendedprice) AS n,
           round(avg(l_extendedprice), 2) AS mean,
           round(stddev_samp(l_extendedprice), 2) AS stddev,
           min(l_extendedprice) AS min,
           max(l_extendedprice) AS max
    FROM lineitem
    """,
)
def ref_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: typed describe() (data-viz&cleaning.py:108,164-176)."""
    return A.summary_stats(load_table(spark, sf_dir, "lineitem"), "l_extendedprice")


# ---------------------------------------------------------------------------
# Relational core beyond the reference
# ---------------------------------------------------------------------------


@query(
    "rel_tpch_q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 2) AS avg_qty,
           round(avg(l_extendedprice), 2) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def rel_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy multi-agg — the engine's headline batch
    query. Filter pushed to parquet; 6 partial aggs fused in one
    WholeStageCodegen before a single shuffle on (returnflag, linestatus)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "rel_join_revenue_by_nation",
    oracle="""
    SELECT r_name, n_name,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def rel_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact ⋈ dims with explicit broadcast of nation/region (no
    fact-side shuffle for those), shuffle join orders⋈customer on custkey.
    At 100 TB, customer gets bucketed on c_custkey instead."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = J.join_facts(
        orders, customer, orders.o_custkey == customer.c_custkey
    )
    joined = J.join_dim(joined, nation, joined.c_nationkey == nation.n_nationkey)
    joined = J.join_dim(joined, region, joined.n_regionkey == region.r_regionkey)
    return A.grouped_agg(
        joined,
        ["r_name", "n_name"],
        [F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue")],
    )


@query(
    "rel_tpch_q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def rel_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customer ⋈ orders ⋈ lineitem with
    date predicates on both fact sides + grouped revenue + top-10. Both
    date filters reach their scans.

    No explicit broadcast hint on customer: it grows O(sf), and a forced
    hint overrides the autoBroadcastJoinThreshold — at production scale
    that's a multi-GB driver-side build. AQE already picks broadcast-hash
    at small SFs (runtime size < threshold) and degrades to sort-merge /
    shuffled-hash when customer outgrows it; only fixed-cardinality dims
    (nation/region) earn explicit hints in this engine."""
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
    )
    out = joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    ).select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    return O.top_k(
        out,
        [F.col("revenue").desc(), F.col("o_orderdate").asc(), F.col("l_orderkey").asc()],
        10,
    )


@query(
    "rel_tpch_q5_local_volume",
    oracle="""
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC
    """,
)
def rel_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-way join (two facts + four dims) with the
    'local supplier' same-nation constraint. lineitem ⋈ orders shuffles on
    orderkey once.

    Broadcast hints ONLY on the fixed-cardinality dims (nation: 25 rows,
    region: 5 rows). customer and supplier grow O(sf) — round 1 force-
    broadcast both, which overrides the size threshold and OOMs the driver
    at production scale; AQE broadcasts them at small SFs anyway and
    switches to a shuffled join once they outgrow the threshold."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            supplier,
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc())
    )


@query(
    "rel_semi_join_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    """,
)
def rel_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with ≥1 finished order."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    f_orders = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return J.semi(
        customer, f_orders, customer.c_custkey == f_orders.o_custkey
    ).select("c_custkey", "c_name")


@query(
    "rel_anti_join_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def rel_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no orders."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return J.anti(customer, orders, customer.c_custkey == orders.o_custkey).select(
        "c_custkey", "c_name"
    )


@query(
    "rel_top_parts_by_revenue",
    oracle="""
    WITH pr AS (
      SELECT l_partkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem GROUP BY l_partkey
    )
    SELECT pr.l_partkey AS partkey, p_name, revenue
    FROM pr JOIN part ON pr.l_partkey = p_partkey
    ORDER BY revenue DESC, partkey
    LIMIT 10
    """,
)
def rel_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k after agg + broadcast dim enrichment. orderBy().limit() plans
    TakeOrderedAndProject — no global sort materialization."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    pr = li.groupBy("l_partkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )
    joined = J.join_dim(pr, part, pr.l_partkey == part.p_partkey).select(
        F.col("l_partkey").alias("partkey"), "p_name", "revenue"
    )
    return O.top_k(joined, [F.col("revenue").desc(), F.col("partkey").asc()], 10)


@query(
    "rel_window_rank_orders",
    oracle="""
    SELECT * FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER w AS row_num,
             rank() OVER w AS rnk,
             dense_rank() OVER w AS dense_rnk,
             lag(o_totalprice) OVER w AS prev_value,
             lead(o_totalprice) OVER w AS next_value
      FROM orders
      WINDOW w AS (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey)
    ) WHERE row_num <= 5
    """,
)
def rel_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned ranking/analytic window family (engine surface beyond the
    reference's global row_number, SURVEY.md §2.5)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    ranked = W.with_rank_ops(
        orders,
        ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        value_col="o_totalprice",
    )
    return ranked.filter(F.col("row_num") <= 5)


@query(
    "rel_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           row_number() OVER w AS order_seq,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def rel_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative frame aggregation per customer — ordered fold, so both
    engines accumulate in identical order (bit-stable before rounding)."""
    orders = load_table(spark, sf_dir, "orders")
    order_by = [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()]
    out = W.running_agg(orders, ["o_custkey"], order_by, "o_totalprice", alias="running_spend")
    w = Window.partitionBy("o_custkey").orderBy(*order_by)
    return out.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.row_number().over(w).alias("order_seq"),
        F.round("running_spend", 2).alias("running_spend"),
    )


@query(
    "rel_union_nation_keys",
    oracle="""
    SELECT nationkey, count(*) AS n
    FROM (
      SELECT c_nationkey AS nationkey FROM customer
      UNION ALL
      SELECT s_nationkey AS nationkey FROM supplier
    )
    GROUP BY nationkey
    """,
)
def rel_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL + agg (set-op surface, SURVEY.md §2.7)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return A.grouped_counts(S.union_all(c, s), ["nationkey"], alias="n")


@query(
    "rel_intersect_nation_keys",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def rel_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return S.intersect(c, s)


@query(
    "rel_except_nation_keys",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
)
def rel_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return S.except_distinct(c, s)


@query(
    "rel_distinct_pairs",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def rel_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: distinct as grouped-identity agg."""
    return load_table(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


@query(
    "rel_count_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_orderkey) AS n_l_orderkey,
           count(DISTINCT l_partkey) AS n_l_partkey,
           count(DISTINCT l_suppkey) AS n_l_suppkey
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def rel_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column distinct counts (expand + two-phase agg)."""
    return A.count_distinct_agg(
        load_table(spark, sf_dir, "lineitem"),
        ["l_returnflag"],
        ["l_orderkey", "l_partkey", "l_suppkey"],
    )


@query(
    "rel_pivot_status",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_O,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_F,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS n_P
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def rel_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with explicit value list (skips Spark's distinct-values pre-job)
    and zero-filled cells to match SQL FILTER semantics."""
    return A.pivot_counts(
        load_table(spark, sf_dir, "orders"), "o_orderpriority", "o_orderstatus", ["O", "F", "P"]
    )


@query(
    "rel_cube_priority_status",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)
def rel_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets."""
    return A.cube_agg(
        load_table(spark, sf_dir, "orders"),
        ["o_orderpriority", "o_orderstatus"],
        [F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")],
    )


@query(
    "rel_rollup_year_priority",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year, o_orderpriority,
           count(*) AS n
    FROM orders
    GROUP BY ROLLUP (order_year, o_orderpriority)
    """,
)
def rel_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets over a derived year column."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("int")
    )
    return A.rollup_agg(
        orders, ["order_year", "o_orderpriority"], [F.count("*").alias("n")]
    )


@query(
    "rel_json_extract",
    oracle="""
    SELECT event_type,
           round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 2) AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def rel_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from a string column (JVM-native
    get_json_object; no Python)."""
    events = D.add_json_field(
        load_table(spark, sf_dir, "events"), "props", "$.k", "k", cast="int"
    )
    return A.grouped_agg(
        events,
        ["event_type"],
        [F.round(F.avg("k"), 2).alias("avg_k"), F.max("k").alias("max_k")],
    )


# ---------------------------------------------------------------------------
# Time windows over the events table (batch twins of streaming/ ops)
# ---------------------------------------------------------------------------


@query(
    "ts_tumbling_hourly",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY window_start, event_type
    """,
)
def ts_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h window agg — batch twin of streaming.windowed_counts.
    Group key is (bucket, type); one shuffle, partial aggs map-side."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


@query(
    "ts_sliding_hourly",
    oracle="""
    WITH phased AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '1 hour', ts, TIMESTAMP '1970-01-01 00:30:00')
             AS window_start, value
      FROM events
    )
    SELECT window_start, count(*) AS n_events, round(sum(value), 2) AS sum_value
    FROM phased
    GROUP BY window_start
    """,
)
def ts_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1h length, 30m slide): each event lands in 2 windows.
    Oracle reproduces the two phases with offset time_buckets."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


@query(
    "ts_session_windows",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL '30 minutes' AS session_end,
           count(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def ts_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute gap via native session_window —
    batch twin of the streaming sessionizer. Oracle derives identical
    sessions with the lag/cumsum idiom.

    Boundary convention: Spark's session range is half-open [start,
    start+gap), so an event landing EXACTLY gap after its predecessor opens
    a new session — the oracle's gap test is therefore ``>=``, not ``>``."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "ts_stream_microbatch",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY window_start, window_end, event_type
    """,
)
def ts_stream_microbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An ACTUAL Structured Streaming micro-batch run, contract-visible:
    file-source readStream over the events parquet → watermarked tumbling
    window counts (streaming.events.windowed_counts — the same unbound
    transformation the batch twin ts_tumbling_hourly checks) → memory
    sink, trigger(availableNow) so the query drains all available input
    and terminates. Complete output mode retains every window, so the
    final table equals the batch aggregation and the DuckDB oracle can
    hash-check a real streaming execution — closing the verification gap
    where the streaming surface was only ever exercised via batch twins.

    At scale the source is Kafka and the sink a transactional store;
    availableNow + file source is the same engine path (incremental
    micro-batch planning, state store, watermark advancement) at harness
    size."""
    from ..streaming.events import read_event_stream, windowed_counts

    sink = "ts_stream_microbatch_sink"
    stream = windowed_counts(read_event_stream(spark, sf_dir))
    run_stream(stream, sink, output_mode="complete")
    return spark.table(sink)




# Shared by the streaming and batch OHLC entries — ONE definition so the
# two can never certify diverging semantics (the _RECURSIVE_MONTHS_SQL
# precedent).
_OHLC_ORACLE = """
    WITH b AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS bucket_start,
             ts, event_id, value
      FROM events
    ), o AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type, bucket_start
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY event_type, bucket_start
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM b
    )
    SELECT event_type, bucket_start,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           count(*) AS n_events
    FROM o GROUP BY 1, 2
    """


@query("ts_stream_ohlc", oracle=_OHLC_ORACLE)
def ts_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING OHLC bars: the same unbound ohlc_resample transformation
    the batch twin ts_ohlc_hourly checks, run as an actual micro-batch
    query (file-source readStream, watermark, complete-mode memory sink,
    availableNow) — exercising min_by/max_by as STATEFUL streaming
    aggregates, a step past the count/sum shapes ts_stream_microbatch
    covers. The final table equals the batch aggregation, so the same
    DuckDB oracle hash-checks a real streaming execution."""
    from ..operators.timeseries import ohlc_resample
    from ..streaming.events import read_event_stream

    sink = "ts_stream_ohlc_sink"
    stream = read_event_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    out = ohlc_resample(stream, "ts", "event_type", "value", "event_id")
    run_stream(out, sink, output_mode="complete")
    return spark.table(sink)


@query(
    "ts_stream_dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type,
           time_bucket(INTERVAL '1 hour', ts) AS hour_start
    FROM events
    """,
)
def ts_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup with watermark-bounded state
    (streaming.dedup.dedup_within_watermark): readStream over events ->
    one row per (user, event_type, event-hour) via
    dropDuplicatesWithinWatermark -> append-mode memory sink drained with
    availableNow. The hour bucket inside the key means no key recurs
    beyond the 2h watermark horizon, so the emitted set equals batch
    DISTINCT and the DuckDB oracle hash-checks a real streaming dedup
    execution. At scale this is the "suppress re-delivered events" op:
    state is O(keys per watermark window), not O(all keys ever)."""
    from ..streaming.dedup import dedup_within_watermark, hourly_user_action_keys
    from ..streaming.events import read_event_stream

    sink = "ts_stream_dedup_sink"
    keys = hourly_user_action_keys(read_event_stream(spark, sf_dir))
    deduped = dedup_within_watermark(
        keys, ["user_id", "event_type", "hour_start"]
    ).select("user_id", "event_type", "hour_start")
    run_stream(deduped, sink)
    return spark.table(sink)


@query(
    "ts_stream_static_join",
    oracle="""
    SELECT CASE event_type
             WHEN 'view' THEN 'engagement'
             WHEN 'click' THEN 'engagement'
             WHEN 'signup' THEN 'conversion'
             WHEN 'purchase' THEN 'conversion'
             ELSE 'ops' END AS tier,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def ts_stream_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment join, contract-visible and actually
    streamed (streaming.joins.enrich_with_tiers): file-source readStream
    joins a broadcast dimension (event_type -> tier) — zero join state,
    static side re-planned per micro-batch — then aggregates per tier;
    availableNow drains the input and the complete-mode memory sink
    equals the batch replay the oracle hashes. Complements
    ts_stream_microbatch (stateful window agg) with the stateless
    enrichment shape."""
    from ..streaming.events import read_event_stream
    from ..streaming.joins import EVENT_TIER_DIM, enrich_with_tiers

    sink = "ts_stream_static_sink"
    dim = spark.createDataFrame(EVENT_TIER_DIM, "event_type string, tier string")
    out = enrich_with_tiers(read_event_stream(spark, sf_dir), dim)
    run_stream(out, sink, output_mode="complete")
    return spark.table(sink)


@query(
    "ts_resample_gap_fill",
    oracle="""
    WITH agg AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket_start,
             count(*) AS n, round(sum(value), 2) AS s
      FROM events GROUP BY 1, 2
    ), span AS (
      SELECT date_trunc('hour', min(ts)) AS lo,
             date_trunc('hour', max(ts)) AS hi
      FROM events
    ), axis AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour'))
             AS bucket_start
      FROM span
    ), keys AS (
      SELECT DISTINCT event_type FROM events
    )
    SELECT k.event_type, a.bucket_start,
           coalesce(g.n, 0) AS n_events,
           coalesce(g.s, 0.0) AS sum_value
    FROM keys k
    CROSS JOIN axis a
    LEFT JOIN agg g
      ON g.event_type = k.event_type AND g.bucket_start = a.bucket_start
    """,
)
def ts_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-type hourly resample with zero-filled gaps
    (operators.timeseries.resample_gap_fill): the irregular event stream
    becomes a fixed-step series where missing buckets are explicit zero
    rows — the event-time counterpart ts_tumbling_hourly lacks (its
    output has holes). One stream-sized shuffle (the pre-aggregation);
    the dense (key x bucket) grid is built from 1-row span + distinct
    keys and broadcast onto the aggregates."""
    return TS.resample_gap_fill(
        load_table(spark, sf_dir, "events"), "ts", "event_type", "value"
    )


@query(
    "ts_zscore_anomaly",
    oracle="""
    WITH stats AS (
      SELECT event_type AS k, avg(value) AS m, stddev_samp(value) AS sd
      FROM events GROUP BY 1
    )
    SELECT e.event_id, e.event_type, e.value,
           round((e.value - s.m) / s.sd, 4) AS z
    FROM events e JOIN stats s ON e.event_type = s.k
    WHERE s.sd > 0 AND abs((e.value - s.m) / s.sd) >= 2.5
    """,
)
def ts_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outliers (operators.timeseries.zscore_outliers,
    |z| >= 2.5): the key-cardinality-sized moment table broadcasts back
    onto the stream, so the stream itself never shuffles. The flag filter
    uses the UNROUNDED z on both engines (only the reported z is rounded)
    so boundary rows can't disagree."""
    return TS.zscore_outliers(
        load_table(spark, sf_dir, "events"),
        "event_type",
        "value",
        "event_id",
        threshold=2.5,
    )


@query(
    "ts_sessionize",
    oracle="""
    WITH g AS (
      SELECT event_id, user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id, ts,
           CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS session_seq
    FROM g
    """,
)
def ts_sessionize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-level sessionization (operators.timeseries.sessionize,
    30-minute gap): every event gets its user's session sequence number —
    the per-event label the session-window AGGREGATE (ts_session_windows)
    drops. One shuffle on the user key serves both the lag and the
    running sum."""
    return TS.sessionize(
        load_table(spark, sf_dir, "events"), "user_id", "ts", "event_id",
        gap_minutes=30,
    )


@query("ts_ohlc_hourly", oracle=_OHLC_ORACLE)
def ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type (operators.timeseries.ohlc_resample):
    open/close via min_by/max_by over the (ts, event_id) struct — all five
    aggregates in ONE map-side-combinable pass, no window functions. The
    oracle replays open/close with first/last row_number ranks over the
    same (ts, id) order."""
    return TS.ohlc_resample(
        load_table(spark, sf_dir, "events"), "ts", "event_type", "value",
        "event_id",
    )


@query(
    "ts_ewma_smooth",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT user_id, event_id, ts, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), ew AS (
      SELECT user_id, event_id, ts, value, rn, CAST(value AS DOUBLE) AS y
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b.user_id, b.event_id, b.ts, b.value, b.rn,
             CAST(0.7 AS DOUBLE) * e.y + CAST(0.3 AS DOUBLE) * b.value
      FROM base b JOIN ew e ON b.user_id = e.user_id AND b.rn = e.rn + 1
    )
    SELECT event_id, user_id, ts, value, y AS ewma FROM ew
    """,
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values (operators.timeseries.ewma_smooth,
    α=0.3, adjust=False recurrence) — promoted from rows-only in round 7:
    pandas ``ewm(alpha, adjust=False)`` is bit-identical to the naive
    y_i = (1-α)·y_{i-1} + α·x_i recurrence (verified 0.0 max diff over
    5000 uniform draws, pandas 2.2), so the DuckDB recursive CTE replays
    the identical left-associated IEEE expression in the identical
    per-key (ts, event_id) order — the ts_holt_trend pattern, compared
    bitwise UNROUNDED (np.round and DuckDB round_even disagree at
    1-ulp-from-half-way scaling points — one row in 10k at sf0.01). The
    carry-across-Arrow-batches mapInPandas form (the 5.5x single-pass
    rewrite) is therefore hash-certified END TO END, including batch
    boundaries, not just pytest-pinned against a manual replay."""
    return TS.ewma_smooth(
        load_table(spark, sf_dir, "events"), "user_id", "ts", "event_id",
        "value", alpha=0.3, ndigits=None,
    )


@query(
    "ts_holt_trend",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE event_type = 'purchase'
    ), holt AS (
      SELECT user_id, event_id, rn, value,
             value AS level, CAST(0.0 AS DOUBLE) AS trend
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b.user_id, b.event_id, b.rn, b.value,
             0.5 * b.value + 0.5 * (h.level + h.trend),
             0.5 * ((0.5 * b.value + 0.5 * (h.level + h.trend)) - h.level)
               + 0.5 * h.trend
      FROM base b
      JOIN holt h ON b.user_id = h.user_id AND b.rn = h.rn + 1
    )
    SELECT event_id, user_id, rn, value, level, trend
    FROM holt
    """,
)
def ts_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Holt double-exponential smoothing over purchase values
    (operators.timeseries.holt_trend) — the coupled level+trend recurrence
    that upgrades the sequential-smoother class from rows-only (ewma) to
    FULLY oracle-backed: DuckDB replays the recursion as a recursive CTE
    and both engines execute the identical IEEE-double expression in the
    identical per-key sequential order, so the outputs agree to the bit
    (α=β=0.5 even keeps every multiplication exact) — compared UNROUNDED,
    because rounding would break parity: numpy rounds half-to-even,
    DuckDB half-away, and the half-scaled recursion hits exact decimal
    halves. Engine side is the
    declared applyInPandas path: one shuffle by user, one numpy pass per
    group carrying 2 scalars of state."""
    return TS.holt_trend(
        load_table(spark, sf_dir, "events").filter(
            F.col("event_type") == "purchase"
        ),
        "user_id", "ts", "event_id", "value",
    )


@query(
    "ts_funnel_stages",
    oracle="""
    WITH s0 AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY 1
    ), s1 AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN s0 ON e.user_id = s0.user_id
      WHERE e.event_type = 'click' AND e.ts >= s0.t GROUP BY 1
    ), s2 AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s1.t GROUP BY 1
    )
    SELECT CAST(0 AS BIGINT) AS stage_idx, 'view' AS stage,
           count(*) AS n_users FROM s0
    UNION ALL
    SELECT 1, 'click', count(*) FROM s1
    UNION ALL
    SELECT 2, 'purchase', count(*) FROM s2
    """,
)
def ts_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view->click->purchase funnel
    (operators.timeseries.funnel_stages): stage i requires an event at or
    after the user's first stage i-1 event. Every join/aggregate keys on
    the user, so one repartition co-locates all stages; intermediates are
    user-sized, never stream-sized."""
    return TS.funnel_stages(
        load_table(spark, sf_dir, "events"),
        "user_id",
        "event_type",
        "ts",
        ["view", "click", "purchase"],
    )


@query(
    "ts_cohort_retention",
    oracle="""
    WITH f AS (
      -- DuckDB's week-truncation yields DATE; Spark's yields TIMESTAMP
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP)
             AS cohort_week
      FROM events GROUP BY 1
    ), a AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP)
             AS wk
      FROM events
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', CAST(f.cohort_week AS DATE),
                          CAST(a.wk AS DATE)) // 7 AS BIGINT) AS week_offset,
           count(*) AS n_users
    FROM a JOIN f USING (user_id)
    GROUP BY 1, 2
    """,
)
def ts_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (operators.timeseries.cohort_retention):
    activity is shrunk to distinct (user, week) BEFORE the user-keyed
    join, so the join moves O(users x weeks), not O(events); the distinct
    rows make the final count(*) a distinct-user count with no
    count_distinct buffer."""
    return TS.cohort_retention(
        load_table(spark, sf_dir, "events"), "user_id", "ts"
    )


@query("rel_approx_count_distinct")
def rel_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct counts per group — the 100 TB form of
    rel_count_distinct: a fixed-size sketch per (group, column), map-side
    combinable, no shuffle of the distinct values themselves (exact
    count-distinct expands rows per distinct column and shuffles them
    all). Rows-only: sketch estimates are implementation-defined; the
    relative-error bound vs the exact counts is property-tested in
    tests/test_operators.py."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("n_l_orderkey"),
        F.approx_count_distinct("l_partkey", 0.02).alias("n_l_partkey"),
        F.approx_count_distinct("l_suppkey", 0.02).alias("n_l_suppkey"),
    )


@query(
    "rel_asof_join",
    oracle="""
    SELECT l.event_id, l.user_id, l.ts,
           r.event_id AS purchase_event_asof,
           r.value AS purchase_value_asof
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def rel_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators.joins.asof_join): attach each click to the
    user's most recent at-or-before purchase. Spark lacks a native ASOF —
    implemented as union + carry-forward window (one shuffle); oracle uses
    DuckDB's native ASOF LEFT JOIN."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("ts"), F.col("event_id"), F.col("value")
    )
    joined = J.asof_join(
        clicks,
        purchases.withColumnRenamed("event_id", "purchase_event").withColumnRenamed(
            "value", "purchase_value"
        ),
        keys=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["purchase_event", "purchase_value"],
        tiebreak="purchase_event",
    )
    return joined.select(
        "event_id", "user_id", "ts", "purchase_event_asof", "purchase_value_asof"
    )


@query(
    "rel_multi_quantiles",
    oracle="""
    WITH s AS (
      SELECT l_returnflag, l_extendedprice AS v,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    )
    SELECT l_returnflag,
           max(CASE WHEN rn = CAST(floor(0.25 * (n - 1)) AS BIGINT) + 1 THEN v END) AS p25,
           max(CASE WHEN rn = CAST(floor(0.50 * (n - 1)) AS BIGINT) + 1 THEN v END) AS p50,
           max(CASE WHEN rn = CAST(floor(0.75 * (n - 1)) AS BIGINT) + 1 THEN v END) AS p75
    FROM s
    GROUP BY l_returnflag
    """,
)
def rel_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete (type-1) multi-quantile per group via rank selection —
    returns actual data values, so results are bit-identical across engines
    (interpolated percentile differs in the last ulp between Spark's
    (1-g)a+gb and DuckDB's a+(b-a)g and can flip a rounding boundary;
    operators.agg.percentiles_exact keeps the interpolated form)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    s = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("l_returnflag")).alias("n"),
    )
    def pick(p: float):
        target = F.floor(F.lit(p) * (F.col("n") - 1)).cast("long") + 1
        return F.max(F.when(F.col("rn") == target, F.col("v")))
    return s.groupBy("l_returnflag").agg(
        pick(0.25).alias("p25"), pick(0.50).alias("p50"), pick(0.75).alias("p75")
    )


@query(
    "rel_selectexpr_agg",
    oracle="""
    SELECT CAST(CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100
               AS total_qty,
           round(CAST(sum(CAST(round(l_discount * 10000) AS BIGINT)) AS BIGINT) / count(*)) / 10000
               AS avg_disc,
           CAST(floor(max(l_extendedprice) / 1000) AS BIGINT) AS max_price_k
    FROM lineitem
    """,
)
def rel_selectexpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: SQL-expression aggregates via selectExpr
    (data-viz&cleaning.py:445).

    Hash-stable canon (round-1 mismatch fix): sums go through exact integer
    cents/basis-points on BOTH engines (Spark's parallel double sum differs
    from DuckDB's sequential sum in the last ulps, so rounding the double
    sum is not stable), the mean rounds at the basis-point level where
    half-integers are exact doubles, and floor() is cast to BIGINT (Spark
    floor→LONG, DuckDB floor→DOUBLE)."""
    return load_table(spark, sf_dir, "lineitem").selectExpr(
        "CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_qty",
        "round(sum(CAST(round(l_discount * 10000) AS BIGINT)) / count(*)) / 10000 AS avg_disc",
        "CAST(floor(max(l_extendedprice) / 1000) AS BIGINT) AS max_price_k",
    )


@query(
    "rel_bucketed_counts",
    oracle="""
    SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS price_bucket,
           count(*) AS n
    FROM orders
    GROUP BY price_bucket
    ORDER BY price_bucket
    """,
)
def rel_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/P5-style numeric bucketing via explicit floor (portable across
    engines — bare double→int CAST truncates in Spark but rounds in
    DuckDB, so the engine always buckets with floor)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn(
            "price_bucket", F.floor(F.col("o_totalprice") / 50000).cast("long")
        )
        .groupBy("price_bucket")
        .agg(F.count("*").alias("n"))
        .orderBy("price_bucket")
    )


@query(
    "rel_rank_fractions",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           ntile(4) OVER w AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def rel_rank_fractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional ranking family: percent_rank ((rank-1)/(n-1)), cume_dist
    (rank/n), ntile — exact rational values, identical across engines given
    the unique tie-broken ordering."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).alias("quartile"),
    )


@query(
    "rel_grouping_sets",
    oracle="""
    SELECT o_orderpriority, o_orderstatus, count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
)
def rel_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (disjoint rollups + grand total) — the
    general form under cube/rollup, via the SQL API (Catalyst plans the
    same Expand as cube)."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus, count(*) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


@query(
    "rel_range_frame_30d",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW), 2)
             AS spend_30d
    FROM orders
    """,
)
def rel_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame: trailing-30-day spend per customer. Spark's
    rangeBetween needs a numeric sort key → epoch seconds in both engines.
    (Sum order within a frame is deterministic given the sort, so the
    rounded values agree.)"""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-2_592_000, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.sum("o_totalprice").over(w), 2).alias("spend_30d"),
    )


@query(
    "rel_unpivot_measures",
    oracle="""
    SELECT o_orderpriority, measure, round(sum(val), 2) AS total
    FROM (
      SELECT o_orderpriority, 'totalprice' AS measure, o_totalprice AS val FROM orders
      UNION ALL
      SELECT o_orderpriority, 'custkey_sum' AS measure, CAST(o_custkey AS DOUBLE) FROM orders
    )
    GROUP BY o_orderpriority, measure
    """,
)
def rel_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot via stack(): wide measures → (measure, val) long form, then
    re-aggregate (the pivot/unpivot pair of the engine surface)."""
    orders = load_table(spark, sf_dir, "orders")
    long = orders.selectExpr(
        "o_orderpriority",
        "stack(2, 'totalprice', o_totalprice, 'custkey_sum', CAST(o_custkey AS DOUBLE))"
        " AS (measure, val)",
    )
    return long.groupBy("o_orderpriority", "measure").agg(
        F.round(F.sum("val"), 2).alias("total")
    )


@query(
    "rel_salted_join",
    oracle="""
    SELECT n_name, count(*) AS n_customers,
           round(CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                 * 1.0 / count(*)) / 100 AS avg_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def rel_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join (operators.partitioning.salted_join): results must
    be identical to the plain join — the salt only changes the shuffle
    layout. Oracle is the unsalted SQL join. The money average sums integer
    CENTS and rounds at the CENT level: half-integers are exactly
    representable doubles, so Spark (decimal-string rounding) and DuckDB
    (binary rounding) agree — round(x, 2) on a value that is exactly .xx5
    diverges between the engines."""
    from ..operators.partitioning import salted_join

    customer = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_nationkey", "nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").withColumnRenamed(
        "n_nationkey", "nationkey"
    )
    joined = salted_join(customer, nation, "nationkey", buckets=4)
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    return joined.groupBy("n_name").agg(
        F.count("*").alias("n_customers"),
        (F.round(F.sum(cents) / F.count("*")) / 100).alias("avg_bal"),
    )


@query(
    "rel_topk_per_group",
    oracle="""
    SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    QUALIFY row_number() OVER (
      PARTITION BY l_returnflag
      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) <= 3
    """,
)
def rel_topk_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 line items per return flag (operators.window.top_k_per_group
    — the 'Top-K per group' OLAP staple)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    return W.top_k_per_group(
        li,
        ["l_returnflag"],
        [F.col("l_extendedprice").desc(), F.col("l_orderkey").asc(),
         F.col("l_linenumber").asc()],
        3,
    )


@query(
    "rel_above_avg_orders",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_above
    FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    GROUP BY o_orderpriority
    """,
)
def rel_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery filter (orders above the global average price):
    the average is a 1-row partial-combinable aggregate broadcast back
    onto the fact scan — NOT a window-over-no-partition, which the r9
    SinglePartition audit showed funnels the ENTIRE orders table through
    one task before filtering. (Threshold comparison uses the unrounded
    avg — identical filter decisions require only that both engines'
    avgs agree to ~1e-12, far from any price gap.)"""
    orders = load_table(spark, sf_dir, "orders")
    avg_row = orders.agg(F.avg("o_totalprice").alias("__avg"))
    return (
        orders.crossJoin(F.broadcast(avg_row))
        .filter(F.col("o_totalprice") > F.col("__avg"))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_above"))
    )


@query(
    "rel_explode_words",
    oracle="""
    SELECT word, count(*) AS n
    FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
    GROUP BY word
    """,
)
def rel_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array construction + explode + re-aggregate: word frequencies over
    part names (split/explode are narrow ops; the only shuffle is the final
    count)."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(F.explode(F.split("p_name", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


@query(
    "rel_collect_sorted_lists",
    oracle="""
    SELECT c_mktsegment,
           array_to_string(list_sort(list(DISTINCT c_nationkey)), ',') AS nation_keys,
           count(*) AS n_customers
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def rel_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set + array_sort per group, serialized to a CSV string
    (sorted so the value is deterministic regardless of aggregation order;
    stringified because raw array cells are unhashable in the driver's
    pandas canonicalizer — round-1 crash)."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.groupBy("c_mktsegment").agg(
        F.expr(
            "array_join(transform(array_sort(collect_set(c_nationkey)),"
            " x -> CAST(x AS STRING)), ',')"
        ).alias("nation_keys"),
        F.count("*").alias("n_customers"),
    )


@query(
    "rel_string_funcs",
    oracle="""
    SELECT upper(substring(p_brand, 1, 5)) AS brand_prefix,
           concat_ws('/', p_type, p_brand) AS type_brand,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           replace(p_name, ' ', '_') AS name_slug,
           length(p_name) AS name_len
    FROM part
    WHERE p_partkey < 50
    """,
)
def rel_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function family (F1/F3 neighbors): substring, concat_ws,
    lpad, replace, length — all JVM-native, no regex (regex dialects are
    where engines diverge; the regexp surface is covered separately)."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 50)
    return part.select(
        F.upper(F.substring("p_brand", 1, 5)).alias("brand_prefix"),
        F.concat_ws("/", "p_type", "p_brand").alias("type_brand"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_slug"),
        F.length("p_name").cast("long").alias("name_len"),
    )


@query(
    "rel_null_semantics",
    oracle="""
    WITH d AS (
      SELECT o_orderpriority,
             CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END AS maybe_price
      FROM orders
    )
    SELECT o_orderpriority,
           count(*) AS n_rows,
           count(maybe_price) AS n_nonnull,
           round(sum(coalesce(maybe_price, 0)), 2) AS sum_with_default,
           round(avg(maybe_price), 2) AS avg_ignoring_nulls
    FROM d
    GROUP BY o_orderpriority
    """,
)
def rel_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL semantics: count(*) vs count(col), coalesce defaults, and
    avg's null-ignoring behavior — identical three-valued logic in both
    engines by construction."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.withColumn(
        "maybe_price",
        F.when(F.col("o_orderstatus") == "P", F.lit(None)).otherwise(
            F.col("o_totalprice")
        ),
    )
    return d.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_rows"),
        F.count("maybe_price").alias("n_nonnull"),
        F.round(F.sum(F.coalesce("maybe_price", F.lit(0))), 2).alias("sum_with_default"),
        F.round(F.avg("maybe_price"), 2).alias("avg_ignoring_nulls"),
    )


@query(
    "rel_date_funcs",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
           count(*) AS n,
           min(CAST(day(o_orderdate) AS INTEGER)) AS min_day,
           max(CAST(datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INTEGER))
             AS max_days_since_epoch
    FROM orders
    GROUP BY order_month
    """,
)
def rel_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-function family: date_trunc, day-of-month extraction, day
    difference. (Engine-portable subset — e.g. dayofweek numbering differs
    between Spark and DuckDB, so the engine standardizes on ISO weekday
    where needed.)"""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("order_month", F.date_trunc("month", "o_orderdate"))
        .groupBy("order_month")
        .agg(
            F.count("*").alias("n"),
            F.min(F.dayofmonth("o_orderdate")).cast("int").alias("min_day"),
            F.max(
                F.datediff(
                    F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")
                )
            ).cast("int").alias("max_days_since_epoch"),
        )
    )


@query(
    "rel_first_last_window",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_totalprice) OVER w AS first_spend,
           last_value(o_totalprice) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS last_spend,
           nth_value(o_totalprice, 2) OVER w AS second_spend
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def rel_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth analytic values per partition. last_value needs the
    full-partition frame explicitly (the default frame ends at CURRENT ROW
    — identical trap in both engines, handled identically here)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_spend"),
        F.last("o_totalprice").over(w_full).alias("last_spend"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_spend"),
    )


@query("rows_approx_stats")
def rows_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A11 approximate forms (percentile_approx + HyperLogLog++) — the
    interactive-scale variants; approximate by nature → rows-only."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        A.median_approx("l_extendedprice").alias("approx_median_price"),
        F.approx_count_distinct("l_partkey").alias("approx_n_parts"),
    )


# ---------------------------------------------------------------------------
# Correlated-subquery shapes (TPC-H Q4 / Q17 families)
# ---------------------------------------------------------------------------


@query(
    "rel_exists_lineitem",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE o.o_orderstatus = 'O'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_discount > 0.05
                    AND l.l_quantity > 30)
    GROUP BY o_orderpriority
    """,
)
def rel_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (EXISTS correlated subquery): count open orders per
    priority that have at least one heavily-discounted bulk lineitem.
    Spark-first form: a LEFT SEMI join — Catalyst decorrelates EXISTS to
    exactly this, so writing the semi join directly keeps one plan and one
    shuffle on the join key. The lineitem predicate is applied BEFORE the
    semi join (pushed to the scan), so the build side carries only
    qualifying keys — at 100 TB the semi join's state is the qualifying-key
    set, not the full lineitem table."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "O"
    )
    qualifying = (
        load_table(spark, sf_dir, "lineitem")
        .filter((F.col("l_discount") > 0.05) & (F.col("l_quantity") > 30))
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return (
        J.semi(orders, qualifying, "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@query(
    "rel_scalar_correlated",
    oracle="""
    SELECT p.p_brand,
           count(*) AS n_small_orders,
           round(sum(l.l_extendedprice), 2) AS small_order_revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand IN ('Brand#11', 'Brand#12', 'Brand#13')
      AND l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
    GROUP BY p.p_brand
    """,
)
def rel_scalar_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (correlated scalar subquery): revenue from lineitems
    whose quantity is below half the per-part average, for three brands.
    Spark-first decorrelation: (1) filter part to the brands (pushed to the
    scan), (2) semi-restrict lineitem to those parts FIRST so the per-part
    average is computed over only the needed keys — the classic Q17 rewrite
    that turns a whole-table aggregate into one proportional to the
    selected brands, (3) join the per-part threshold back on l_partkey.
    Both the threshold agg and the final join hash on l_partkey, so AQE
    reuses one exchange; no broadcast hint — part is only locally small."""
    brands = ["Brand#11", "Brand#12", "Brand#13"]
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand").isin(brands))
        .select("p_partkey", "p_brand")
    )
    line = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    relevant = line.join(part, line.l_partkey == part.p_partkey).drop("p_partkey")
    thresholds = relevant.groupBy("l_partkey", "p_brand").agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("__half_avg")
    )
    return (
        relevant.join(thresholds, ["l_partkey", "p_brand"])
        .filter(F.col("l_quantity") < F.col("__half_avg"))
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_small_orders"),
            F.round(F.sum("l_extendedprice"), 2).alias("small_order_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Storage-layout round-trips (partitioned layout + row formats)
# ---------------------------------------------------------------------------


@query(
    "rel_partitioned_prune",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    WHERE year(o_orderdate) = 1996
    GROUP BY o_orderpriority
    """,
)
def rel_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-layout round-trip with partition pruning: write orders
    as year-partitioned parquet (repartitioned by the partition column
    first, so each Hive partition gets one writer task and one file — the
    small-files guard that matters at 100 TB), read it back, and aggregate
    one year. The read-back filter is on the PARTITION column, so the scan
    plans only the 1996 directory (PartitionFilters, asserted in
    tests/test_plan_shapes.py) — at scale this is the difference between
    scanning one year and scanning the whole table. Overwrite mode keeps
    the entry idempotent across driver replays."""
    out = scratch_dir(spark, sf_dir, "partitioned_orders")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    (
        orders.repartition("o_year")
        .write.partitionBy("o_year")
        .mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out).filter(F.col("o_year") == 1996)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@query(
    "rel_jsonl_roundtrip",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang
    """,
)
def rel_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines round-trip (the interchange format most raw text corpora
    arrive in): write documents as JSONL, read back with an EXPLICIT schema
    (schema inference is a full extra pass over 100 TB — never in
    production paths), and aggregate per language. Equality with the
    parquet-sourced oracle proves the round-trip is lossless for the text
    payload (JSON escaping of newlines/quotes/unicode included). Overwrite
    mode keeps the entry idempotent."""
    out = scratch_dir(spark, sf_dir, "jsonl_docs")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    docs.write.mode("overwrite").json(out)
    back = spark.read.schema("doc_id BIGINT, lang STRING, text STRING").json(out)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
    )


@query(
    "rel_sql_interface",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_total,
           count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
           round(avg(CASE WHEN o_orderstatus = 'O'
                          THEN o_totalprice END), 2) AS avg_open_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def rel_sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-string interface end-to-end: register a temp view, run
    ``spark.sql`` verbatim — proving the engine's surface is reachable
    without the DataFrame builder (ad-hoc analysts, BI tools). The query
    itself covers conditional aggregation (CASE inside count/avg — the
    filtered-aggregate idiom no other entry exercises); it plans
    identically to the DataFrame form — one partial+final aggregate, so
    the API choice costs nothing at any scale."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_total,
               count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
               round(avg(CASE WHEN o_orderstatus = 'O'
                              THEN o_totalprice END), 2) AS avg_open_price
        FROM orders_v
        GROUP BY o_orderpriority
        """
    )


# Recursive month spine + revenue fill: the SAME SQL text runs on Spark
# (WITH RECURSIVE landed in Spark 4) and DuckDB — only the table name
# differs, so the oracle is the query itself.
_RECURSIVE_MONTHS_SQL = """
WITH RECURSIVE months(m, hi) AS (
  SELECT CAST(date_trunc('month', min(o_orderdate)) AS DATE),
         CAST(date_trunc('month', max(o_orderdate)) AS DATE)
  FROM {t}
  UNION ALL
  SELECT CAST(m + INTERVAL 1 MONTH AS DATE), hi FROM months WHERE m < hi
)
SELECT m AS month_start,
       coalesce(r.rev, 0.0) AS revenue,
       coalesce(r.n, 0) AS n_orders
FROM months LEFT JOIN (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m2,
         round(sum(o_totalprice), 2) AS rev, count(*) AS n
  FROM {t} GROUP BY 1
) r ON m = m2
"""


@query("rel_recursive_cte", oracle=_RECURSIVE_MONTHS_SQL.format(t="orders"))
def rel_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE, new SQL surface in Spark 4): a month
    spine from min to max order date, generated by recursion and LEFT
    JOINed to monthly revenue so empty months surface as explicit zero
    rows — the gap-filled-calendar idiom (the set-based cousin of
    ts_resample_gap_fill's sequence() approach). The recursion carries its
    stop bound as a column (no correlated subquery in the recursive step);
    depth = number of months, so the iterative union is calendar-sized,
    never data-sized — each step is a constant-width one-row append and
    the single data-sized job is the monthly aggregate. Oracle: the
    IDENTICAL SQL text on DuckDB."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(_RECURSIVE_MONTHS_SQL.format(t="orders_v"))


@query(
    "rel_lateral_topk",
    oracle="""
    SELECT n_name, c_custkey, c_acctbal
    FROM (
      SELECT n.n_name, c.c_custkey, c.c_acctbal,
             row_number() OVER (PARTITION BY n.n_nationkey
                                ORDER BY c.c_acctbal DESC, c.c_custkey)
               AS rn
      FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
    ) WHERE rn <= 2
    """,
)
def rel_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (Spark 4 SQL surface): per nation, the
    top-2 customers by account balance via an ORDER BY ... LIMIT inside
    the lateral — the per-row-subquery idiom BI tools emit. Catalyst
    rewrites it to the same ranked-window shape the oracle replays
    (DecorrelateInnerQuery), so the declarative form costs nothing vs the
    window form rel_topk_per_group exercises directly."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_v")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    return spark.sql(
        """
        SELECT n.n_name, c.c_custkey, c.c_acctbal
        FROM nation_v n,
        LATERAL (
          SELECT c_custkey, c_acctbal FROM customer_v
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey
          LIMIT 2
        ) c
        """
    )


@query(
    "rel_python_udtf",
    oracle="""
    SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, w[i] AS token
    FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
          FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
                FROM documents WHERE doc_id < 20))
    """,
)
def rel_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (functions.udtf.PosTokens): one-row-in/N-out
    positional tokenization as a LATERAL table function. Row-at-a-time
    Python — the escape-hatch path, fed a BOUNDED slice (doc_id < 20)
    here; the production rewrite is posexplode(split(...)), whose
    semantics the DuckDB oracle certifies this matches exactly
    (NULL text -> no rows, 0-based positions)."""
    from ..functions.udtf import register_udtfs

    register_udtfs(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("docs_v")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM docs_v d, LATERAL pos_tokens(d.text) t
        WHERE d.doc_id < 20
        """
    )


@query(
    "rel_outer_join_coalesce",
    oracle="""
    WITH o AS (
      SELECT o_orderstatus AS status, count(*) AS n_orders
      FROM orders GROUP BY 1
    ), l AS (
      SELECT l_linestatus AS status, count(*) AS n_lines
      FROM lineitem GROUP BY 1
    )
    SELECT coalesce(o.status, l.status) AS status,
           coalesce(n_orders, 0) AS n_orders,
           coalesce(n_lines, 0) AS n_lines
    FROM o FULL OUTER JOIN l ON o.status = l.status
    """,
)
def rel_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer reconciliation (SURVEY.md §2.3 outer-join coverage):
    per-status order counts vs lineitem counts, keys coalesced, missing
    sides zero-filled — order status 'P' has no lineitem twin, so the
    unmatched path is genuinely exercised. Both inputs are pre-aggregated
    before the join: the outer join moves group-cardinality rows, never
    fact rows."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o = orders.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    l = li.groupBy(F.col("l_linestatus").alias("__status")).agg(
        F.count(F.lit(1)).alias("n_lines")
    )
    return (
        J.join_facts(o, l, on=o["status"] == l["__status"], how="full")
        .select(
            F.coalesce("status", "__status").alias("status"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
        )
    )


@query(
    "rel_group_correlation",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 2)
             AS qty_price_covar,
           round(var_samp(l_quantity), 4) AS qty_var,
           round(stddev_samp(l_extendedprice), 2) AS price_sd
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def rel_group_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics per group (corr / covar_samp / var_samp /
    stddev_samp): all are single-pass, map-side-combinable sum-of-products
    aggregates — one shuffle of constant-width partial states per group
    regardless of row count, the cheapest family there is at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "qty_price_covar"
        ),
        F.round(F.var_samp("l_quantity"), 4).alias("qty_var"),
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("price_sd"),
    )


@query("rel_freq_items")
def rel_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate heavy hitters (DataFrameStatFunctions.freqItems —
    Karp/Shenker/Papadimitriou one-pass counter sketch): every value with
    frequency above the support threshold is guaranteed PRESENT (false
    positives possible, false negatives not), with constant memory per
    partition and a driver-side merge — no shuffle of the value
    distribution at all. Rows-only: sketch contents beyond the guarantee
    are implementation-defined; the no-false-negative guarantee is
    asserted in tests/test_operators.py."""
    orders = load_table(spark, sf_dir, "orders")
    out = orders.freqItems(["o_orderpriority", "o_orderstatus"], support=0.3)
    # arrays sorted so the driver's schema/value probe sees a stable shape
    return out.select(
        F.array_sort("o_orderpriority_freqItems").alias("priority_heavy"),
        F.array_sort("o_orderstatus_freqItems").alias("status_heavy"),
    )


@query(
    "rel_schema_evolution",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_priority,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    """,
)
def rel_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read (the add-a-column case every long-lived
    dataset hits): two parquet batches of orders — an old layout without
    o_orderpriority and a new layout with it — land in one directory;
    ``mergeSchema`` unions the layouts and old rows surface NULL for the
    added column. The aggregate proves both halves arrived and the
    evolved column is null exactly on the old batch. mergeSchema is a
    footer-metadata merge (per-file schemas, not data), so the read-time
    cost at 100 TB is per-FILE, not per-row — and it's opt-in here
    because production tables should evolve through a catalog, not
    ad-hoc directory scans."""
    import os

    out = scratch_dir(spark, sf_dir, "schema_evo")
    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    new = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    old.write.mode("overwrite").parquet(os.path.join(out, "batch=a"))
    new.write.mode("overwrite").parquet(os.path.join(out, "batch=b"))
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_orderpriority").alias("n_with_priority"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


# Overlapping price bands for the banded range join (widths roughly double,
# adjacent bands overlap — a genuine interval join, not a bucketization).
_PRICE_BANDS: list[tuple[int, int, int]] = [
    (1, 0, 2000),
    (2, 1500, 5000),
    (3, 4000, 12000),
    (4, 10000, 30000),
    (5, 25000, 70000),
    (6, 60000, 150000),
    (7, 120000, 300000),
    (8, 250000, 520000),
]


@query(
    "rel_range_join",
    oracle="""
    SELECT band_id,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS band_revenue
    FROM orders
    JOIN (VALUES {bands}) AS bands(band_id, lo, hi)
      ON o_totalprice BETWEEN lo AND hi
    GROUP BY band_id
    """.format(
        bands=", ".join(f"({b}, {lo}, {hi})" for b, lo, hi in _PRICE_BANDS)
    ),
)
def rel_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: orders matched into overlapping price bands
    via operators.joins.interval_join — the banding rewrite (explode each
    interval into covering fixed-width buckets, hash-join on the bucket id,
    refine with BETWEEN) instead of the BroadcastNestedLoopJoin a naive
    non-equi join plans. Plan-asserted in tests/test_plan_shapes.py: no
    NLJ/cartesian anywhere. At 100 TB the fact side hashes once on an int
    key; the interval side grows only by intervals × span/width."""
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    bands = spark.createDataFrame(_PRICE_BANDS, "band_id INT, lo INT, hi INT")
    matched = J.interval_join(
        orders, "o_totalprice", bands, "lo", "hi", bucket_width=10000
    )
    return matched.groupBy("band_id").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("band_revenue"),
    )


@query(
    "rel_merge_upsert",
    oracle="""
    WITH upd AS (
        SELECT o_orderkey
                 + CASE WHEN o_orderkey % 8 = 0 THEN 10000000 ELSE 0 END
                 AS o_orderkey,
               'U' AS o_orderstatus,
               o_totalprice + 1000.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 4 = 0
    )
    SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN u.o_orderkey IS NOT NULL
                THEN u.o_orderstatus ELSE b.o_orderstatus END AS o_orderstatus,
           CASE WHEN u.o_orderkey IS NOT NULL
                THEN u.o_totalprice ELSE b.o_totalprice END AS o_totalprice
    FROM orders b FULL OUTER JOIN upd u ON b.o_orderkey = u.o_orderkey
    """,
)
def rel_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch CDC MERGE (operators.joins.merge_upsert): a deterministic
    change set derived from orders — every 4th key carries a repriced 'U'
    row; every 8th is re-keyed past the live range so it inserts instead of
    updating — merged with update-wins semantics. The full merged table is
    returned so the oracle hash-checks updates, inserts, and pass-throughs
    row-for-row. This is the Delta/Iceberg MERGE shape as one DataFrame
    plan: full-outer hash join on the key + presence-marker resolution."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = (
        orders.filter(F.col("o_orderkey") % 4 == 0)
        .select(
            (
                F.col("o_orderkey")
                + F.when(F.col("o_orderkey") % 8 == 0, 10000000).otherwise(0)
            ).alias("o_orderkey"),
            F.lit("U").alias("o_orderstatus"),
            (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
        )
    )
    return J.merge_upsert(orders, updates, ["o_orderkey"])


@query(
    "rel_scd2_merge",
    oracle="""
    WITH dim AS (
      SELECT c_custkey AS k, c_mktsegment AS seg,
             DATE '1990-01-01' AS valid_from,
             CAST(NULL AS DATE) AS valid_to,
             TRUE AS is_current
      FROM customer
    ), upd AS (
      SELECT c_custkey AS k,
             CASE WHEN c_custkey % 3 = 0 THEN 'MOVED' ELSE c_mktsegment END
               AS seg,
             DATE '1996-06-01' AS eff
      FROM customer WHERE c_custkey % 3 = 0 OR c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey + 10000000, 'NEWSEG', DATE '1996-06-01'
      FROM customer WHERE c_custkey % 11 = 0
    ), changed AS (
      SELECT d.k, d.seg AS old_seg, u.seg AS new_seg, u.eff
      FROM dim d JOIN upd u ON d.k = u.k AND d.seg <> u.seg
    )
    SELECT k AS c_custkey, seg, valid_from, valid_to, is_current FROM dim
    WHERE k NOT IN (SELECT k FROM changed)
    UNION ALL
    SELECT k, old_seg, DATE '1990-01-01', eff, FALSE FROM changed
    UNION ALL
    SELECT k, new_seg, eff, CAST(NULL AS DATE), TRUE FROM changed
    UNION ALL
    SELECT u.k, u.seg, u.eff, CAST(NULL AS DATE), TRUE
    FROM upd u WHERE u.k NOT IN (SELECT k FROM dim)
    """,
)
def rel_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 merge (operators.joins.scd2_merge): a versioned customer
    dimension absorbs one update batch containing changed segments (every
    3rd key), no-op rows (every 7th — must NOT produce spurious
    versions), and brand-new keys. Changed keys emit a closed historical
    row plus an open current row; the whole merge is one full-outer join
    and one explode pass. The oracle rebuilds the expected version set
    with plain set logic."""
    cust = load_table(spark, sf_dir, "customer")
    dim = cust.select(
        F.col("c_custkey"),
        F.col("c_mktsegment").alias("seg"),
        F.to_date(F.lit("1990-01-01")).alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = (
        cust.filter((F.col("c_custkey") % 3 == 0) | (F.col("c_custkey") % 7 == 0))
        .select(
            F.col("c_custkey"),
            F.when(F.col("c_custkey") % 3 == 0, F.lit("MOVED"))
            .otherwise(F.col("c_mktsegment"))
            .alias("seg"),
            F.to_date(F.lit("1996-06-01")).alias("eff"),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 11 == 0).select(
                (F.col("c_custkey") + 10000000).alias("c_custkey"),
                F.lit("NEWSEG").alias("seg"),
                F.to_date(F.lit("1996-06-01")).alias("eff"),
            )
        )
    )
    return J.scd2_merge(
        dim, updates, keys=["c_custkey"], attr_cols=["seg"], eff_col="eff"
    )


@query(
    "rel_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ), new AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN round(o_totalprice + 100.0, 2)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 13 <> 0
      UNION ALL
      SELECT o_orderkey + 20000000, 'N', 1.0
      FROM orders WHERE o_orderkey % 17 = 0
    )
    SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'inserted'
                WHEN n.o_orderkey IS NULL THEN 'deleted'
                WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                  OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
                  THEN 'updated'
                ELSE 'unchanged' END AS change_type,
           coalesce(n.o_orderstatus, o.o_orderstatus) AS o_orderstatus,
           coalesce(n.o_totalprice, o.o_totalprice) AS o_totalprice
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE NOT (o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
               AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
               AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice)
    """,
)
def rel_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changeset extraction (operators.joins.snapshot_diff): diff two
    snapshots of orders — deletions (every 13th key), updates (every 7th
    price bumped), insertions (new keys) — classified through one
    full-outer join with null-safe column comparison. The changeset is
    what incremental pipelines feed to merge_upsert/scd2_merge instead of
    reprocessing the snapshot."""
    old = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = (
        old.filter(F.col("o_orderkey") % 13 != 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(
                F.col("o_orderkey") % 7 == 0,
                F.round(F.col("o_totalprice") + 100.0, 2),
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionByName(
            old.filter(F.col("o_orderkey") % 17 == 0).select(
                (F.col("o_orderkey") + 20000000).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.lit(1.0).alias("o_totalprice"),
            )
        )
    )
    return J.snapshot_diff(old, new, keys=["o_orderkey"])


@query("rel_hll_sketch_rollup")
def rel_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL distinct sketches (operators.agg.hll_sketch_rollup):
    per-priority distinct-customer estimates plus an ALL row produced by
    UNIONING the group sketches — the corpus-wide distinct costs a
    metadata-sized merge, not a rescan (the mergeability exact
    countDistinct partials lack). Rows-only: sketch estimates are
    engine-specific; the ≤5%-of-exact bound is pytest-pinned."""
    return A.hll_sketch_rollup(
        load_table(spark, sf_dir, "orders"), ["o_orderpriority"], "o_custkey"
    )


@query(
    "rel_pseudonymize",
    oracle="""
    SELECT c_custkey,
           sha256('tok:' || c_name) AS c_name,
           sha256('tok:' || CAST(c_nationkey AS VARCHAR)) AS c_nationkey,
           c_mktsegment
    FROM customer
    """,
)
def rel_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudonymization (operators.clean.pseudonymize):
    identifier columns replaced by salted sha256 tokens in one narrow
    zero-shuffle projection — same value, same token, so joins and
    distinct counts survive while the identifiers are irrecoverable
    without the salt (the tokenized nation key still joins/groups with
    25 distinct values). Both engines hash the same UTF-8 bytes, so the
    oracle replays the tokens exactly."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    return C.pseudonymize(cust, ["c_name", "c_nationkey"], salt="tok")


_PROFILE_COLS = ["o_orderkey", "o_orderstatus", "o_orderpriority", "o_orderdate"]


@query(
    "rel_profile_table",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS col_name,
           (SELECT count(*) FROM orders) AS n_rows,
           (SELECT count(*) FROM orders WHERE {c} IS NULL) AS n_nulls,
           (SELECT count(DISTINCT {c}) FROM orders) AS n_distinct,
           (SELECT CAST(min({c}) AS VARCHAR) FROM orders) AS min_str,
           (SELECT CAST(max({c}) AS VARCHAR) FROM orders) AS max_str
    """
        for c in _PROFILE_COLS
    ),
)
def rel_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling report (operators.agg.profile_table): per-column
    row/null/distinct counts + lexicographic min/max as strings, computed
    for ALL columns in ONE scan (wide aggregate, then a stack() unpivot)
    — vs the per-column describe() loop that scans once per column. The
    contract profiles the int/string/date columns of orders; doubles are
    excluded from the ORACLE only because float-to-string rendering is
    engine-specific (the operator itself takes any column list)."""
    return A.profile_table(
        load_table(spark, sf_dir, "orders"), _PROFILE_COLS
    )


def _zorder_oracle() -> str:
    """Morton-interleave replay: the same bit fold as
    operators.partitioning.zorder_key (bit b of column i lands at z-bit
    b*n_cols + i; price is column 0, custkey column 1), over the same
    deterministic integer buckets."""
    z = " + ".join(
        f"(((bp >> {b}) & 1) << {2 * b}) + (((bc >> {b}) & 1) << {2 * b + 1})"
        for b in range(8)
    )
    return f"""
    WITH mx AS (
      SELECT max(CAST(floor(o_totalprice) AS BIGINT)) AS mxp,
             max(o_custkey) AS mxc
      FROM orders
    ), b AS (
      SELECT (CAST(floor(o_totalprice) AS BIGINT) * 256) // (mxp + 1) AS bp,
             (o_custkey * 256) // (mxc + 1) AS bc
      FROM orders, mx
    ), z AS (
      SELECT bp, bc, {z} AS zkey FROM b
    )
    SELECT zkey // 4096 AS z_bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(zkey) AS z_min, max(zkey) AS z_max,
           CAST(sum(zkey) AS BIGINT) AS z_sum,
           max(bp) - min(bp) AS span_price_bucket,
           max(bc) - min(bc) AS span_cust_bucket
    FROM z
    GROUP BY 1
    """


@query("rel_zorder_layout", oracle=_zorder_oracle())
def rel_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout report (operators.partitioning.zorder_key,
    the key generator under zorder_layout): orders bucketized onto a
    256-wide integer grid per dimension (exact BIGINT arithmetic so both
    engines compute identical buckets), bit-interleaved by the SAME fold
    zorder_layout sorts by, then summarized per top-4-bit z range — the
    16 range-partition assignments a 16-file layout would get. Promoted
    from rows-only in round 8: z_min/z_max/z_sum per bucket pin every
    interleaved bit, and the per-range bucket spans carry the layout
    story (a compact span on BOTH dimensions is what makes multi-column
    min/max pruning work at 100 TB). The physical file-span report —
    which depends on engine file boundaries and has no SQL oracle — is
    pinned in tests/test_operators.py against a single-column sort
    baseline."""
    from ..operators.partitioning import zorder_key

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_custkey"
    )
    mx = orders.agg(
        F.max(F.floor("o_totalprice").cast("long")).alias("mxp"),
        F.max("o_custkey").alias("mxc"),
    ).first()
    b = orders.select(
        F.expr(f"(CAST(floor(o_totalprice) AS BIGINT) * 256) div {mx.mxp + 1}")
        .alias("bp"),
        F.expr(f"(o_custkey * 256) div {mx.mxc + 1}").alias("bc"),
    )
    keyed, key = zorder_key(
        b, ["bp", "bc"], bits=8, bucket_exprs=[F.col("bp"), F.col("bc")]
    )
    return keyed.groupBy(
        F.expr(f"{key} div 4096").alias("z_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(key).alias("z_min"),
        F.max(key).alias("z_max"),
        F.sum(key).alias("z_sum"),
        (F.max("bp") - F.min("bp")).alias("span_price_bucket"),
        (F.max("bc") - F.min("bc")).alias("span_cust_bucket"),
    )


@query(
    "rel_pandas_udaf_geomean",
    oracle="""
    SELECT o_orderpriority,
           round(exp(avg(ln(o_totalprice))), 4) AS geo_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def rel_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF surface: per-priority geometric mean through a
    GROUPED_AGG pandas_udf (functions.grouped.geomean — the group column
    arrives as one Arrow batch). Deliberately a decomposable aggregate so
    the docstring cost note is honest: the native rewrite exp(avg(ln)) is
    the production path (partial-aggregates JVM-side; the UDAF moves whole
    group columns through the shuffle), and row-for-row parity between the
    two is asserted in tests/test_operators.py."""
    from ..functions.grouped import geomean

    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(geomean("o_totalprice"), 4).alias("geo_price")
    )


# ---------------------------------------------------------------------------
# Rows-only queries (nondeterministic or engine-specific semantics)
# ---------------------------------------------------------------------------


@query("rows_ml_regression_metrics")
def rows_ml_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1-M12 through the contract: featurize orders (one-pass multi-column
    indexing + assembly), seeded split, fit linear + decision tree, emit the
    metrics table (S4 shape). Rows-only: training is floating-point
    iterative — never hash-comparable; metric sanity is asserted in
    tests/test_ml.py."""
    from ..ml.features import build_feature_table
    from ..ml.regress import run_model_suite

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("label"),
        F.year("o_orderdate").cast("double").alias("order_year"),
        "o_orderpriority",
        "o_orderstatus",
    )
    data = build_feature_table(
        orders, "label", ["order_year", "o_orderpriority", "o_orderstatus"]
    )
    return run_model_suite(data, ["linear", "decision_tree"])


@query(
    "ml_indexed_feature_hist",
    oracle="""
    WITH pr AS (
      SELECT o_orderpriority AS v, count(*) AS c FROM orders GROUP BY 1
    ), pri AS (
      SELECT v, ROW_NUMBER() OVER (ORDER BY c DESC, v ASC) - 1 AS idx FROM pr
    ), st AS (
      SELECT o_orderstatus AS v, count(*) AS c FROM orders GROUP BY 1
    ), sti AS (
      SELECT v, ROW_NUMBER() OVER (ORDER BY c DESC, v ASC) - 1 AS idx FROM st
    )
    SELECT CAST(pri.idx AS DOUBLE) AS priority_idx,
           CAST(sti.idx AS DOUBLE) AS status_idx,
           count(*) AS n
    FROM orders o
    JOIN pri ON o.o_orderpriority = pri.v
    JOIN sti ON o.o_orderstatus = sti.v
    GROUP BY 1, 2
    """,
)
def ml_indexed_feature_hist_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible ML featurization (r4 verdict task 7): the
    DETERMINISTIC half of the M1-M2 surface under the hash oracle. The
    one-pass multi-column StringIndexer (frequencyDesc — most frequent
    label gets index 0, frequency ties break alphabetically ascending)
    and the VectorAssembler are replayed exactly in SQL: each index is
    ROW_NUMBER() over (count DESC, value ASC) minus 1, and the
    histogram keys are read BACK OUT of the assembled vector
    (vector_to_array element positions), so the entry certifies the
    indexer's mapping AND the assembler's column order — the parts of
    the ML pipeline that are hash-comparable, complementing the
    rows-only iterative fits. Fit+transform is two jobs over a 2-column
    projection; the histogram is one map-side-combinable aggregate."""
    from pyspark.ml.functions import vector_to_array

    from ..ml.features import assemble_features, index_categoricals

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderstatus"
    )
    indexed, _ = index_categoricals(
        orders, ["o_orderpriority", "o_orderstatus"], keep_original=True
    )
    assembled = assemble_features(
        indexed, ["o_orderpriority__idx", "o_orderstatus__idx"]
    )
    arr = vector_to_array(F.col("features"))
    return (
        assembled.select(
            arr[0].alias("priority_idx"), arr[1].alias("status_idx")
        )
        .groupBy("priority_idx", "status_idx")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query("rows_ml_kmeans_clusters")
def rows_ml_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's dead-import estimators end-to-end (SURVEY F12 via
    ml.prep): impute → bucketize price bands → index/assemble → seeded
    KMeans → per-cluster sizes + silhouette. Rows-only: cluster identity
    is seed/engine-specific; determinism and silhouette bounds are
    pytest-pinned in tests/test_ml.py."""
    from ..ml.features import build_feature_table
    from ..ml.prep import bucketize, impute_numeric, kmeans_cluster

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("label"),
        F.year("o_orderdate").cast("double").alias("order_year"),
        "o_orderpriority",
        "o_orderstatus",
    )
    holey = orders.withColumn(
        "order_year",
        F.when(F.rand(7) < 0.05, None).otherwise(F.col("order_year")),
    )
    imputed, _ = impute_numeric(holey, ["order_year"])
    banded = bucketize(
        imputed.drop("order_year").withColumnRenamed("order_year__imp", "order_year"),
        "label",
        [0.0, 50000.0, 150000.0, float("inf")],
    )
    data = build_feature_table(
        banded, "label", ["order_year", "o_orderpriority", "o_orderstatus", "label__bucket"]
    )
    clustered, _, sil = kmeans_cluster(data, k=4)
    return (
        clustered.groupBy("prediction")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("silhouette", F.round(F.lit(sil), 4))
    )


@query("rows_bernoulli_sample")
def rows_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1: seeded Bernoulli sample — engine-specific RNG, rows-only check;
    statistical bounds are asserted in tests/test_sample.py."""
    events = load_table(spark, sf_dir, "events")
    return R.bernoulli_sample(events, 0.1, seed=42)


@query("rows_monotonic_index")
def rows_mono(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: monotonically_increasing_id — value set depends on partition
    layout; uniqueness/monotonicity asserted in tests."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return D.add_monotonic_index(docs, alias="index")


# ---------------------------------------------------------------------------
# Event-time batch (round 4 late): growth curve, transitions, concurrency,
# activity islands
# ---------------------------------------------------------------------------


@query(
    "ts_cumulative_distinct",
    oracle="""
    WITH fs AS (
      SELECT user_id, min(date_trunc('hour', ts)) AS d FROM events GROUP BY 1
    ),
    hourly AS (SELECT d, count(*) AS new_keys FROM fs GROUP BY 1)
    SELECT d, new_keys,
           CAST(sum(new_keys) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cum_keys
    FROM hourly
    """,
)
def ts_cum_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unique-users-to-date growth curve, hourly buckets
    (operators.timeseries.cumulative_distinct): the first-seen rewrite of
    cumulative COUNT(DISTINCT) — each user contributes only its min-bucket
    row, so the running sum ranges over |buckets| rows instead of holding
    every user in every frame. (Hourly, not daily, because all harness
    users first appear within two days — day buckets would make this a
    2-row check.)"""
    return TS.cumulative_distinct(
        load_table(spark, sf_dir, "events"), "user_id", "ts", bucket="hour"
    )


@query(
    "ts_event_transitions",
    oracle="""
    WITH p AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS from_type,
             event_type AS to_type
      FROM events
    )
    SELECT from_type, to_type, count(*) AS n_transitions
    FROM p WHERE from_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def ts_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts of event types per user
    (operators.timeseries.event_transitions). One shuffle on the user key;
    the output is |types|² rows."""
    return TS.event_transitions(
        load_table(spark, sf_dir, "events"), "user_id", "ts", "event_type",
        "event_id",
    )


@query(
    "ts_max_concurrency",
    oracle="""
    WITH bounds AS (
      SELECT event_type AS k, epoch_us(ts) AS t, 1 AS delta FROM events
      UNION ALL
      SELECT event_type,
             epoch_us(ts) + CAST(value * 1000000 AS BIGINT), -1 FROM events
    ),
    run AS (
      SELECT k, sum(delta) OVER (PARTITION BY k ORDER BY t, delta
                                 ROWS UNBOUNDED PRECEDING) AS load
      FROM bounds
    )
    SELECT k AS event_type, CAST(max(load) AS INTEGER) AS max_concurrent
    FROM run GROUP BY k
    """,
)
def ts_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent events per type, treating each event as the interval
    [ts, ts + value seconds] (operators.timeseries.max_concurrency) — the
    sweep-line +1/−1 running sum, ends before starts at the same instant
    so touching intervals don't overlap."""
    return TS.max_concurrency(
        load_table(spark, sf_dir, "events"), "ts", "value", "event_type"
    )


@query(
    "ts_gaps_islands",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    g AS (
      SELECT user_id, d,
             d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS grp
      FROM d
    ),
    i AS (SELECT user_id, grp, count(*) AS len FROM g GROUP BY 1, 2)
    SELECT user_id,
           count(*) AS n_islands,
           max(len) AS longest_run,
           CAST(sum(len) AS BIGINT) AS active_days
    FROM i GROUP BY 1
    """,
)
def ts_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-active-day islands per user
    (operators.timeseries.gaps_islands): date − row_number grouping;
    reports streak count, longest streak, and total active days."""
    return TS.gaps_islands(load_table(spark, sf_dir, "events"), "user_id", "ts")


@query(
    "rel_group_mode",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority, o_orderstatus, count(*) AS n
      FROM orders GROUP BY 1, 2
    ),
    r AS (
      SELECT o_orderpriority, o_orderstatus, n,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY n DESC, o_orderstatus ASC) AS rk
      FROM c
    )
    SELECT o_orderpriority, o_orderstatus AS mode_status, n AS mode_count
    FROM r WHERE rk = 1
    """,
)
def rel_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode (most frequent order status per
    priority). Both engines' native mode() breaks frequency ties
    arbitrarily, so this is the count + row_number rewrite with an
    explicit value tie-break — two map-side-combinable aggregations and a
    window over the tiny (|priorities|×|statuses|) count relation."""
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("n").desc(), F.col("o_orderstatus").asc()
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "o_orderpriority",
            F.col("o_orderstatus").alias("mode_status"),
            F.col("n").alias("mode_count"),
        )
    )


@query(
    "rel_benford_digits",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INTEGER) AS digit
      FROM orders WHERE o_totalprice >= 1
    )
    SELECT digit,
           count(*) AS n,
           round(count(*) * 1.0 / sum(count(*)) OVER (), 4) AS observed_freq,
           round(log10(1.0 + 1.0 / digit), 4) AS benford_freq
    FROM d GROUP BY digit
    """,
)
def rel_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law leading-digit audit of order totals — the classic
    anomaly screen for fabricated numeric data. The digit extraction
    floor()s to integer FIRST — an explicit floor on BOTH sides, because
    Spark's double→bigint cast truncates while DuckDB's ROUNDS (a 9999.6
    order would land on digit 9 vs digit 1) — then substrings the integer's
    string form (a float's string form would hit engine-specific
    formatting). Observed vs expected frequencies land in one pass via a
    window over the 9-row aggregate."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = orders.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy()
    return counts.select(
        "digit",
        "n",
        F.round(F.col("n") / F.sum("n").over(w), 4).alias("observed_freq"),
        F.round(F.log10(1.0 + 1.0 / F.col("digit")), 4).alias("benford_freq"),
    )


@query(
    "ts_time_weighted_avg",
    oracle="""
    WITH h AS (
      SELECT event_type, value,
             lead(epoch_us(ts)) OVER (PARTITION BY event_type
                                      ORDER BY ts, event_id)
               - epoch_us(ts) AS hold_us
      FROM events
    )
    SELECT event_type,
           count(*) AS n_obs,
           round(sum(value * hold_us) / sum(hold_us), 4) AS twap
    FROM h WHERE hold_us IS NOT NULL
    GROUP BY event_type
    """,
)
def ts_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type
    (operators.timeseries.time_weighted_avg): each observation weighted by
    its holding time to the next — the uneven-sampling-robust mean an
    evenly-weighted avg misstates."""
    return TS.time_weighted_avg(
        load_table(spark, sf_dir, "events"), "event_type", "ts", "event_id",
        "value",
    )


@query(
    "rel_rfm_segments",
    oracle="""
    WITH base AS (
      SELECT o_custkey,
             datediff('day', max(o_orderdate),
                      (SELECT max(o_orderdate) FROM orders)) AS recency_days,
             count(*) AS frequency,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS monetary_cents
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey, recency_days, frequency, monetary_cents,
             ntile(5) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS r_score,
             ntile(5) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_score,
             ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey ASC) AS m_score
      FROM base
    )
    SELECT r_score * 100 + f_score * 10 + m_score AS segment,
           count(*) AS n_customers,
           CAST(round(avg(monetary_cents)) AS BIGINT) AS avg_monetary_cents
    FROM scored GROUP BY 1
    """,
)
def rel_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency/frequency/monetary quintiles
    (ntile(5)) composed into a 3-digit segment, with customer counts and
    average spend per segment. Every ntile ordering carries the custkey
    tie-break so both engines assign identical quintiles at metric ties.

    Monetary is integer CENTS end-to-end: the dollars form hit a segment
    whose average landed exactly on a half-cent (x.695), where Spark's
    round (HALF_UP on the decimal string) and DuckDB's (on the binary
    double) disagree. With integer cents the group average is sum/n of
    exact integers: either exactly representable (both engines round it
    identically) or ≥ 1/(2n) away from the .5 boundary — orders of
    magnitude beyond the one-division FP error.

    The per-customer rollup shuffles once on custkey; the three
    quintile assignments run through operators.window.global_ntile
    (r8) — range exchange + bucket-partitioned row_number + closed-form
    tile, bit-identical to ntile() OVER (ORDER BY ...) while keeping
    every data-sized exchange partitioned (the former form funneled the
    customer table through ONE partition per metric)."""
    orders = load_table(spark, sf_dir, "orders")
    ref_date = orders.agg(F.max("o_orderdate").alias("__ref"))
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            F.sum(cents).alias("monetary_cents"),
        )
        .join(F.broadcast(ref_date))
        .select(
            "o_custkey",
            F.datediff(F.col("__ref"), F.col("last_order")).alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    from ..operators.window import global_ntile

    scored = global_ntile(
        base,
        [F.col("recency_days").asc(), F.col("o_custkey").asc()],
        5,
        "r_score",
    )
    scored = global_ntile(
        scored,
        [F.col("frequency").desc(), F.col("o_custkey").asc()],
        5,
        "f_score",
    )
    scored = global_ntile(
        scored,
        [F.col("monetary_cents").desc(), F.col("o_custkey").asc()],
        5,
        "m_score",
    )
    scored = scored.select(
        "monetary_cents",
        (
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
        ).alias("segment"),
    )
    return scored.groupBy("segment").agg(
        F.count("*").alias("n_customers"),
        F.round(F.avg("monetary_cents")).cast("bigint").alias("avg_monetary_cents"),
    )


@query(
    "rel_abc_analysis",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                      AS BIGINT)) AS rev_fp
      FROM lineitem GROUP BY l_partkey
    ),
    c AS (
      SELECT l_partkey, rev_fp,
             sum(rev_fp) OVER (ORDER BY rev_fp DESC, l_partkey ASC
                               ROWS UNBOUNDED PRECEDING) * 1.0
               / sum(rev_fp) OVER () AS cum_share
      FROM rev
    )
    SELECT CASE WHEN cum_share <= 0.8 THEN 'A'
                WHEN cum_share <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class,
           count(*) AS n_parts,
           round(sum(rev_fp) / 10000.0, 2) AS class_revenue
    FROM c GROUP BY 1
    """,
)
def rel_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC inventory analysis: parts ranked by revenue, classified
    by cumulative revenue share (A ≤ 80%, B ≤ 95%, C rest). ALL revenue
    arithmetic runs in fixed point (line revenue × 10⁴ as BIGINT): per-part
    sums of ~10⁹-magnitude doubles land on cent rounding boundaries under
    engine-specific accumulation order, which flipped a class total by
    0.01 in the first cut of this query — integer sums are order-exact, so
    ranks, cumulative shares, and class totals all agree bit-for-bit. The
    global-order window runs on the |parts|-row aggregate (documented
    single-axis cost)."""
    li = load_table(spark, sf_dir, "lineitem")
    line_fp = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("bigint")
    rev = li.groupBy("l_partkey").agg(F.sum(line_fp).alias("rev_fp"))
    # Cumulative revenue share via the distributed global prefix sum
    # (r8): the former unpartitioned running-sum window funneled the
    # parts-sized revenue table through one partition; the integer
    # cumulative and total are bit-identical, so the share division and
    # the oracle are unchanged.
    from ..operators.window import global_running_sum

    c = global_running_sum(
        rev,
        [F.col("rev_fp").desc(), F.col("l_partkey").asc()],
        "rev_fp",
        out_col="cum_fp",
        total_col="tot_fp",
    ).select(
        "rev_fp",
        (F.col("cum_fp") * 1.0 / F.col("tot_fp")).alias("cum_share"),
    )
    klass = (
        F.when(F.col("cum_share") <= 0.8, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
    )
    return c.select(klass.alias("abc_class"), "rev_fp").groupBy("abc_class").agg(
        F.count("*").alias("n_parts"),
        F.round(F.sum("rev_fp") / 10000.0, 2).alias("class_revenue"),
    )


@query(
    "rel_copurchase_pairs",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_orders
    FROM items a
    JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
)
def rel_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing together in ≥2
    orders. The self-join is basket-bounded — distinct (order, part) first
    (collapses duplicate lines map-side), then an equi-join on l_orderkey
    with the a < b triangle predicate halving the pair space. Pair volume
    is Σ basket_size², independent of part-table width; at 100 TB a
    pathological mega-basket would salt the orderkey (the same skew
    treatment as operators.joins.salted), noted here because TPC-H baskets
    are bounded at 7."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("__ok"), F.col("l_partkey").alias("part_b")
    )
    pairs = a.join(
        b, (a.l_orderkey == b.__ok) & (F.col("part_a") < F.col("part_b"))
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


@query(
    "ts_stream_stream_join",
    oracle="""
    SELECT c.user_id,
           c.event_id AS click_id,
           c.ts AS click_ts,
           p.event_id AS purchase_id,
           p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 1 HOUR
    """,
)
def ts_stream_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM event-time interval join, contract-visible
    (streaming.joins.clicks_to_purchases): attribute each purchase to the
    same user's clicks within the prior hour. Both sides are watermarked
    readStream branches of the events source; the interval condition is
    what bounds the join state (click state evicts at watermark+1h,
    purchase state at watermark). Inner join → append output drained with
    availableNow into a memory sink; the emitted pair set equals the batch
    interval self-join, which the DuckDB oracle replays — a real
    stateful-join streaming execution under the driver's hash check, not
    a batch twin."""
    from ..streaming.events import read_event_stream
    from ..streaming.joins import clicks_to_purchases

    sink = "ts_stream_stream_join_sink"
    stream = read_event_stream(spark, sf_dir)
    joined = clicks_to_purchases(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
        max_gap="1 hour",
        watermark="2 hours",
    )
    run_stream(joined, sink)
    return spark.table(sink)


@query(
    "ts_stream_stateful_anomaly",
    oracle="""
    WITH c AS (
      SELECT user_id, event_id, round(value * 100) AS value_cents FROM events
    ),
    m AS (
      SELECT user_id, event_id, value_cents,
             avg(value_cents) OVER (PARTITION BY user_id ORDER BY event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING)
               AS running_mean_cents
      FROM c
    )
    SELECT user_id, event_id, value_cents,
           round(running_mean_cents, 4) AS running_mean_cents,
           coalesce(value_cents > 3.0 * running_mean_cents, false) AS flagged
    FROM m
    """,
)
def ts_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM STATEFUL streaming operator, contract-visible
    (streaming.stateful.running_anomaly_flags, applyInPandasWithState):
    per-user running spend tracker flagging events above 3× the user's
    mean-so-far — state (n, total) persists across micro-batches,
    Arrow-batched, sharded by user. Drained with availableNow into an
    append memory sink; with the harness's single-file source the arrival
    order is the per-user event_id order, so the emitted rows equal the
    batch prefix-window twin the oracle replays.

    The contract feeds the tracker integer CENTS (round(value*100) — still
    a double column, but integer-valued, so Python's sequential float
    accumulation and DuckDB's window aggregate sum the SAME exact integers
    and the mean is a bit-identical integer÷count on both sides). The
    first cut fed raw dollars and one of 10 000 rows flipped at the
    6th-decimal rounding boundary — prefix means are the worst case for
    accumulation-order drift because every prefix is its own sum."""
    from ..streaming.events import read_event_stream
    from ..streaming.stateful import running_anomaly_flags

    sink = "ts_stream_stateful_sink"
    cents = read_event_stream(spark, sf_dir).withColumn(
        "value", F.round(F.col("value") * 100)
    )
    flags = running_anomaly_flags(cents)
    run_stream(flags, sink)
    return spark.table(sink).select(
        "user_id",
        "event_id",
        F.col("value").alias("value_cents"),
        F.round("running_mean", 4).alias("running_mean_cents"),
        "flagged",
    )


@query(
    "rel_orc_roundtrip",
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM documents
    """,
)
def rel_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write→read round-trip (S5 source family): the engine's columnar
    formats are interchangeable behind the same DataFrame surface — write
    the documents metadata as ORC (zlib), read it back, certify
    value-identity against the parquet-derived oracle. Text column
    excluded to keep the round-trip payload metadata-shaped."""
    out = scratch_dir(spark, sf_dir, "orc_rt")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    docs.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@query(
    "rel_textfile_logparse",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           max(user_id) AS max_user
    FROM events
    GROUP BY 1
    """,
)
def rel_textparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-source round-trip + log parsing (S5 family, the unstructured
    leg next to CSV/JSONL/ORC/parquet/binaryFile): events are formatted
    into syslog-shaped lines (``ts [TYPE] user=<id> value=<v>``), written
    with the TEXT sink, read back with spark.read.text, and re-parsed
    with one regexp_extract per field — the grep-to-schema pipeline every
    log-ingest job runs. The aggregate over parsed fields must equal the
    oracle's aggregate over the original table, certifying the format →
    parse loop is lossless for these fields (value is carried as exact
    integer cents through the text form — float repr round-trips are a
    different, weaker guarantee). The parse predicates are plain column
    regexes (JVM, codegen) — no Python in the row path; at 100 TB the
    text scan parallelizes by line ranges like any file source."""
    out = scratch_dir(spark, sf_dir, "text_rt")
    events = load_table(spark, sf_dir, "events")
    lines = events.select(
        F.concat(
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"),
            F.lit(" ["),
            F.upper("event_type"),
            F.lit("] user="),
            F.col("user_id").cast("string"),
            F.lit(" cents="),
            F.round(F.col("value") * 100).cast("bigint").cast("string"),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(out)
    raw = spark.read.text(out)
    parsed = raw.select(
        F.lower(F.regexp_extract("value", r"\[([A-Z]+)\]", 1)).alias(
            "event_type"
        ),
        F.regexp_extract("value", r"user=(\d+)", 1).cast("bigint").alias(
            "user_id"
        ),
        F.regexp_extract("value", r"cents=(-?\d+)", 1).cast("bigint").alias(
            "cents"
        ),
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("cents").alias("total_cents"),
        F.max("user_id").alias("max_user"),
    )


@query(
    "rel_pagerank_copurchase",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
    nn AS (SELECT count(*) AS n FROM deg),
    pr0 AS (SELECT src AS node, 1.0 / (SELECT n FROM nn) AS pr FROM deg),
    pr1 AS (
      SELECT e.dst AS node,
             0.15 / (SELECT n FROM nn) + 0.85 * sum(pr0.pr / deg.d) AS pr
      FROM e JOIN pr0 ON e.src = pr0.node JOIN deg ON e.src = deg.src
      GROUP BY e.dst
    ),
    pr2 AS (
      SELECT e.dst AS node,
             0.15 / (SELECT n FROM nn) + 0.85 * sum(pr1.pr / deg.d) AS pr
      FROM e JOIN pr1 ON e.src = pr1.node JOIN deg ON e.src = deg.src
      GROUP BY e.dst
    ),
    pr3 AS (
      SELECT e.dst AS node,
             0.15 / (SELECT n FROM nn) + 0.85 * sum(pr2.pr / deg.d) AS pr
      FROM e JOIN pr2 ON e.src = pr2.node JOIN deg ON e.src = deg.src
      GROUP BY e.dst
    )
    SELECT node, round(pr, 8) AS pr FROM pr3
    """,
)
def rel_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 unrolled iterations, operators.graph.pagerank_unrolled)
    over the symmetric co-purchase part graph — iterative graph analytics
    as ONE declarative plan, oracle-replayed by unrolled CTEs. The
    symmetric edge set guarantees no dangling nodes, so the simple
    damping form is exact."""
    from ..operators.graph import pagerank_unrolled

    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select("l_orderkey", F.col("l_partkey").alias("src"))
    b = items.select(
        F.col("l_orderkey").alias("__ok"), F.col("l_partkey").alias("dst")
    )
    edges = a.join(
        b, (a.l_orderkey == b.__ok) & (F.col("src") != F.col("dst"))
    ).select("src", "dst")
    return pagerank_unrolled(edges, "src", "dst", iterations=3)


@query(
    "ts_rolling_active_users",
    oracle="""
    WITH kb AS (
      SELECT DISTINCT user_id, date_trunc('hour', ts) AS b FROM events
    ),
    span AS (SELECT min(b) AS lo, max(b) AS hi FROM kb),
    contrib AS (
      SELECT user_id,
             unnest(generate_series(b, b + INTERVAL 23 HOUR, INTERVAL 1 HOUR))
               AS td
      FROM kb
    )
    SELECT td AS bucket_start, count(DISTINCT user_id) AS n_active
    FROM contrib, span
    WHERE td BETWEEN lo AND hi
    GROUP BY 1
    """,
)
def ts_rolling_au(spark: SparkSession, sf_dir: str) -> DataFrame:
    """24-hour rolling active users by hour
    (operators.timeseries.rolling_active_keys): the contribution rewrite of
    sliding COUNT(DISTINCT) — work scales with |user-hours| × 24, not
    events × window, and no per-frame distinct set is ever held."""
    return TS.rolling_active_keys(
        load_table(spark, sf_dir, "events"), "user_id", "ts",
        window_buckets=24, bucket="hour",
    )


@query(
    "rel_fk_audit",
    oracle="""
    SELECT 'lineitem_order_orphans' AS check_name, count(*) AS n_violations
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'orders_childless', count(*)
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    UNION ALL
    SELECT 'lineitem_part_orphans', count(*)
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
    """,
)
def rel_fk_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphaned lineitems (no parent order),
    childless orders (no lineitem), and dangling part references — three
    anti-join counts in one result, the standard pre-ingest FK check a
    warehouse runs on every batch. Each anti join moves only the pruned
    key column; counts aggregate map-side."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")

    def _count(df, name):
        return df.agg(F.count("*").alias("n_violations")).select(
            F.lit(name).alias("check_name"), "n_violations"
        )

    ok = orders.select("o_orderkey")
    lk = li.select("l_orderkey")
    pk = part.select("p_partkey")
    a = _count(J.anti(li.select("l_orderkey"), ok,
                      F.col("l_orderkey") == F.col("o_orderkey")),
               "lineitem_order_orphans")
    b = _count(J.anti(orders.select("o_orderkey"), lk,
                      F.col("o_orderkey") == F.col("l_orderkey")),
               "orders_childless")
    c = _count(J.anti(li.select("l_partkey"), pk,
                      F.col("l_partkey") == F.col("p_partkey")),
               "lineitem_part_orphans")
    return a.unionByName(b).unionByName(c)


@query(
    "rel_psi_drift",
    oracle="""
    WITH b AS (
      SELECT least(floor(CAST(round(o_totalprice * 100) AS BIGINT)
                         / 5000000.0), 9) AS bucket,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END
               AS is_ref
      FROM orders
    ),
    c AS (
      SELECT CAST(bucket AS INTEGER) AS bucket,
             sum(is_ref) AS n_ref,
             sum(1 - is_ref) AS n_cur
      FROM b GROUP BY 1
    ),
    t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM c)
    SELECT bucket,
           CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           round((n_cur * 1.0 / tc - n_ref * 1.0 / tr)
                 * ln((n_cur * 1.0 / tc) / (n_ref * 1.0 / tr)), 6) AS psi_term
    FROM c, t
    WHERE n_ref > 0 AND n_cur > 0
    """,
)
def rel_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of order totals, reference (pre-1998) vs
    current — the standard model-monitoring drift metric. Buckets are
    FIXED-width (50k, capped at 10) over integer cents: quantile-derived
    edges would hinge on interpolation FP that differs across engines for
    non-midpoint fractions, while cents/5e6 is one exact-integer IEEE
    division — bucket assignment is bit-deterministic. One pass computes
    both distributions (conditional aggregates); buckets empty on either
    side are excluded (counts are identical in both engines, so the
    exclusion is too)."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    bucket = F.least(F.floor(cents / 5000000.0), F.lit(9)).cast("int")
    is_ref = F.when(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), 1
    ).otherwise(0)
    c = (
        orders.select(bucket.alias("bucket"), is_ref.alias("is_ref"))
        .groupBy("bucket")
        .agg(
            F.sum("is_ref").alias("n_ref"),
            F.sum(1 - F.col("is_ref")).alias("n_cur"),
        )
    )
    t = c.agg(F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc"))
    p_cur = F.col("n_cur") / F.col("tc")
    p_ref = F.col("n_ref") / F.col("tr")
    return (
        c.crossJoin(F.broadcast(t))
        .filter((F.col("n_ref") > 0) & (F.col("n_cur") > 0))
        .select(
            "bucket",
            "n_ref",
            "n_cur",
            F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias("psi_term"),
        )
    )


@query(
    "ts_mad_outliers",
    oracle="""
    WITH c AS (
      SELECT event_type, round(value * 100) AS v FROM events
    ),
    m AS (SELECT event_type, quantile_cont(v, 0.5) AS med FROM c GROUP BY 1),
    d AS (
      SELECT c.event_type, v, abs(v - med) AS dev
      FROM c JOIN m USING (event_type)
    ),
    md AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY 1)
    SELECT d.event_type,
           count(*) AS n,
           max(m.med) AS median_cents,
           max(md.mad) AS mad_cents,
           CAST(sum(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM d JOIN md USING (event_type) JOIN m USING (event_type)
    GROUP BY 1
    """,
)
def ts_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: median absolute deviation
    (MAD), the breakdown-resistant alternative to the z-score gate
    (ts_zscore_anomaly) — one wild value shifts a mean/stddev but not a
    median/MAD. All arithmetic in integer cents so medians interpolate at
    exact multiples of 0.25 (midpoint of half-integers) — bit-identical
    across engines with NO output rounding at all; the 3×MAD threshold
    compares exact quantities, so even boundary-equal deviations classify
    identically. Three passes over the stream (median → deviations/MAD →
    outlier count), each a per-type aggregate with the tiny stats side
    broadcast back; the one-pass scale variant swaps in approx_percentile
    like the quality gate's sketch twin."""
    events = load_table(spark, sf_dir, "events")
    c = events.select(
        "event_type", F.round(F.col("value") * 100).alias("v")
    )
    m = c.groupBy("event_type").agg(
        F.expr("percentile(v, 0.5)").alias("med")
    )
    # The deviation table feeds both the MAD aggregate and the outlier
    # count — materialized so the stream is read twice total (median
    # pass + deviation pass), not once more per consumer (audit: 4).
    d = (
        c.join(F.broadcast(m), "event_type")
        .select(
            "event_type", "v", F.abs(F.col("v") - F.col("med")).alias("dev"),
            "med",
        )
        .localCheckpoint(eager=True)
    )
    md = d.groupBy("event_type").agg(F.expr("percentile(dev, 0.5)").alias("mad"))
    return (
        d.join(F.broadcast(md), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.max("med").alias("median_cents"),
            F.max("mad").alias("mad_cents"),
            F.sum(
                F.when(F.col("dev") > 3 * F.col("mad"), 1).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
        )
    )


@query(
    "ts_mom_growth",
    oracle="""
    WITH m AS (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
             CAST(month(o_orderdate) AS INTEGER) AS mo,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_cents,
             count(*) AS n_orders
      FROM orders GROUP BY 1, 2
    )
    SELECT y, mo, n_orders,
           round(rev_cents / 100.0, 2) AS revenue,
           round((rev_cents - lag(rev_cents) OVER (ORDER BY y, mo)) * 1.0
                 / lag(rev_cents) OVER (ORDER BY y, mo), 6) AS mom_growth
    FROM m
    """,
)
def ts_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: monthly rollup (exact integer
    cents) + lag over the |months|-row aggregate — the reporting pattern
    every finance dashboard runs. The growth ratio divides exact integers,
    so both engines start from identical doubles; the single-task window
    is month-cardinality-sized."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    m = orders.groupBy(
        F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("mo")
    ).agg(
        F.sum(cents).alias("rev_cents"), F.count("*").alias("n_orders")
    )
    w = Window.orderBy("y", "mo")
    prev = F.lag("rev_cents").over(w)
    return m.select(
        "y",
        "mo",
        "n_orders",
        F.round(F.col("rev_cents") / 100.0, 2).alias("revenue"),
        F.round((F.col("rev_cents") - prev) * 1.0 / prev, 6).alias("mom_growth"),
    )


@query(
    "rel_topk_with_ties",
    oracle="""
    SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS o_totalprice,
           rk
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             CAST(dense_rank() OVER (PARTITION BY o_orderpriority
                                     ORDER BY CAST(round(o_totalprice * 100)
                                               AS BIGINT) DESC) AS INTEGER)
               AS rk
      FROM orders
    )
    WHERE rk <= 3
    """,
)
def rel_topk_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 order VALUES per priority WITH ties (dense_rank) — the
    tie-preserving semantics row_number-based top-k
    (rel_topk_per_group) deliberately drops: every order sharing a top-3
    price survives, so the output is value-deterministic without an
    arbitrary tie-break. Ranks compare integer cents (exact), not raw
    doubles."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    w = Window.partitionBy("o_orderpriority").orderBy(cents.desc())
    return (
        orders.select(
            "o_orderpriority",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.dense_rank().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


@query(
    "rel_chi_square",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority AS p, o_orderstatus AS s, count(*) AS n
      FROM orders GROUP BY 1, 2
    ),
    r AS (SELECT p, sum(n) AS rn FROM c GROUP BY 1),
    cl AS (SELECT s, sum(n) AS cn FROM c GROUP BY 1),
    t AS (SELECT sum(n) AS tot FROM c)
    SELECT c.p AS o_orderpriority, c.s AS o_orderstatus,
           CAST(c.n AS BIGINT) AS observed,
           round(r.rn * cl.cn * 1.0 / t.tot, 4) AS expected,
           round(pow(c.n - r.rn * cl.cn * 1.0 / t.tot, 2)
                 / (r.rn * cl.cn * 1.0 / t.tot), 6) AS chi2_term
    FROM c JOIN r USING (p) JOIN cl USING (s) CROSS JOIN t
    """,
)
def rel_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence for priority × status: per-cell
    observed vs expected (row·col/N) with the χ² contribution — the
    categorical-association screen run before trusting a segmentation.
    All inputs are exact integer counts, so the expected-value doubles are
    bit-identical across engines; the margins are |priorities|- and
    |statuses|-sized and broadcast onto the cell table."""
    orders = load_table(spark, sf_dir, "orders")
    # The cell table is |priorities|x|statuses| rows but read by FOUR
    # consumers (row/col margins, total, final) — each re-scanned orders
    # without the materialization (audit: 4 scans; 1 after).
    c = (
        orders.groupBy(
            F.col("o_orderpriority").alias("p"),
            F.col("o_orderstatus").alias("s"),
        )
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=True)
    )
    r = c.groupBy("p").agg(F.sum("n").alias("rn"))
    cl = c.groupBy("s").agg(F.sum("n").alias("cn"))
    t = c.agg(F.sum("n").alias("tot"))
    e = F.col("rn") * F.col("cn") * 1.0 / F.col("tot")
    return (
        c.join(F.broadcast(r), "p")
        .join(F.broadcast(cl), "s")
        .crossJoin(F.broadcast(t))
        .select(
            F.col("p").alias("o_orderpriority"),
            F.col("s").alias("o_orderstatus"),
            F.col("n").alias("observed"),
            F.round(e, 4).alias("expected"),
            F.round(F.pow(F.col("n") - e, 2) / e, 6).alias("chi2_term"),
        )
    )


@query(
    "rel_gini_revenue",
    oracle="""
    WITH m AS (
      SELECT o_custkey,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY 1
    ),
    rk AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents ASC, o_custkey ASC) AS i
      FROM m
    )
    SELECT count(*) AS n_customers,
           round((2.0 * sum(i * cents) - (count(*) + 1) * sum(cents))
                 / (count(*) * sum(cents)), 6) AS gini
    FROM rk
    """,
)
def rel_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration — the
    inequality/concentration metric (how much spend the top customers
    command). Exact integer cents and rank arithmetic: Σ i·xᵢ stays in
    int64 (rank ≤ |customers|, cents ≤ 10⁹ → products ~10¹³; ANSI mode
    would throw loudly on a true overflow rather than wrap). The global
    rank runs the two-pass range-exchange form (distributed_row_number)
    — the customer axis is DATA-sized, so the r8 unpartitioned window
    was a funnel (r9 audit); emitted ranks are bit-identical. The final
    formula is one aggregate over it."""
    from ..operators.window import distributed_row_number

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    m = orders.groupBy("o_custkey").agg(F.sum(cents).alias("cents"))
    rk = distributed_row_number(
        m, [F.col("cents").asc(), F.col("o_custkey").asc()], out_col="i"
    ).select("cents", "i")
    n = F.count("*")
    return rk.agg(
        n.alias("n_customers"),
        F.round(
            (2.0 * F.sum(F.col("i") * F.col("cents")) - (n + 1) * F.sum("cents"))
            / (n * F.sum("cents")),
            6,
        ).alias("gini"),
    )


@query(
    "ts_user_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2
    ),
    u AS (SELECT user_id, sum(n) AS tot FROM c GROUP BY 1)
    SELECT c.user_id,
           CAST(count(*) AS INTEGER) AS n_types,
           CAST(max(u.tot) AS BIGINT) AS n_events,
           round(-sum((n * 1.0 / tot) * ln(n * 1.0 / tot)), 6) AS entropy
    FROM c JOIN u USING (user_id)
    GROUP BY c.user_id
    """,
)
def ts_user_entropy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral entropy per user: Shannon entropy of the event-type
    distribution — bots and single-purpose accounts sit near 0, diverse
    organic users near ln(|types|). Two key-local aggregates (both shuffle
    on user_id once, AQE reuses the exchange); probabilities are exact
    integer ratios."""
    events = load_table(spark, sf_dir, "events")
    c = events.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    u = c.groupBy("user_id").agg(F.sum("n").alias("tot"))
    p = F.col("n") * 1.0 / F.col("tot")
    return (
        c.join(u, "user_id")
        .groupBy("user_id")
        .agg(
            F.count("*").cast("int").alias("n_types"),
            F.max("tot").cast("bigint").alias("n_events"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
        )
    )


@query(
    "ts_interarrival_burstiness",
    oracle="""
    WITH g AS (
      SELECT user_id,
             (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                     ORDER BY ts, event_id))
               // 1000000 AS dt_s
      FROM events
    ),
    m AS (
      SELECT user_id, count(*) AS n,
             sum(dt_s) AS sx, sum(dt_s * dt_s) AS sxx
      FROM g WHERE dt_s IS NOT NULL GROUP BY 1
    )
    SELECT user_id,
           CAST(n AS BIGINT) AS n_gaps,
           round(sx * 1.0 / n, 4) AS mean_gap_s,
           round(sqrt((n * sxx - sx * sx) * 1.0 / (n * (n - 1)))
                 / (sx * 1.0 / n), 6) AS cv,
           round((sqrt((n * sxx - sx * sx) * 1.0 / (n * (n - 1)))
                  / (sx * 1.0 / n) - 1)
                 / (sqrt((n * sxx - sx * sx) * 1.0 / (n * (n - 1)))
                    / (sx * 1.0 / n) + 1), 6) AS burstiness
    FROM m WHERE n >= 2 AND sx > 0
    """,
)
def ts_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness per user: coefficient of variation of the
    gap distribution and the Goh-Barabási burstiness B = (cv−1)/(cv+1) —
    B→−1 periodic, 0 Poisson, →1 bursty; the standard bot-vs-human timing
    signature. Gaps are floor-divided to integer SECONDS and the variance
    comes from exact integer moments (n·Σx² − (Σx)²) rather than a
    streaming stddev — engine-order-independent by construction, the same
    fixed-point discipline as the session's currency ops. One shuffle on
    the user key serves both the lag and the moment aggregate."""
    events = load_table(spark, sf_dir, "events")
    # integer floor-division semantics matching DuckDB's `//`
    g = events.select(
        "user_id",
        F.expr(
            "(unix_micros(ts) - lag(unix_micros(ts)) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id)) div 1000000"
        ).alias("dt_s"),
    )
    m = (
        g.filter(F.col("dt_s").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("dt_s").alias("sx"),
            F.sum(F.col("dt_s") * F.col("dt_s")).alias("sxx"),
        )
        .filter((F.col("n") >= 2) & (F.col("sx") > 0))
    )
    mean = F.col("sx") * 1.0 / F.col("n")
    sd = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * 1.0
        / (F.col("n") * (F.col("n") - 1))
    )
    cv = sd / mean
    return m.select(
        "user_id",
        F.col("n").alias("n_gaps"),
        F.round(mean, 4).alias("mean_gap_s"),
        F.round(cv, 6).alias("cv"),
        F.round((cv - 1) / (cv + 1), 6).alias("burstiness"),
    )


@query(
    "rel_incremental_agg",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price
    FROM orders GROUP BY 1
    """,
)
def rel_incr_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (materialized-view delta merge):
    the stored per-priority state from the pre-1998 "initial load" is
    MERGED with the 1998+ "new batch" state — count/sum/min/max are
    mergeable aggregates, so the refresh touches only the new partition
    plus the |groups|-sized state, never the full history. The oracle
    computes the aggregate over everything in one pass; equality certifies
    the merge law (state(A) ⊕ state(B) = state(A ∪ B)) on real data, not
    just algebra. Sums merge in exact integer cents (the session's
    fixed-point policy); min/max are order-free."""
    orders = load_table(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("timestamp")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")

    def state(part: DataFrame) -> DataFrame:
        return part.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_orders"),
            F.sum(cents).alias("sum_cents"),
            F.min("o_totalprice").alias("min_p"),
            F.max("o_totalprice").alias("max_p"),
        )

    old = state(orders.filter(F.col("o_orderdate") < cut))
    new = state(orders.filter(F.col("o_orderdate") >= cut))
    merged = (
        old.unionByName(new)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("sum_cents").alias("sum_cents"),
            F.round(F.min("min_p"), 2).alias("min_price"),
            F.round(F.max("max_p"), 2).alias("max_price"),
        )
    )
    return merged


@query(
    "rel_dynamic_partition_overwrite",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
           count(*) AS n,
           CAST(sum(CAST(round(
             CASE WHEN year(o_orderdate) = 1997 THEN o_totalprice * 1.1
                  ELSE o_totalprice END * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders
    GROUP BY 1
    """,
)
def rel_dpo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite (the idempotent-backfill primitive):
    write orders partitioned by year, then re-run ONLY 1997 with a +10%
    price restatement in partitionOverwriteMode=dynamic — untouched years
    must survive, the restated partition must fully replace (INSERT
    OVERWRITE a static mode would truncate the whole table; dynamic
    replaces exactly the partitions present in the new batch). The final
    read-back aggregate matches the oracle's restated view of the source."""
    out = scratch_dir(spark, sf_dir, "dpo")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "y", F.year("o_orderdate")
    )
    orders.select("y", "o_totalprice").write.mode("overwrite").partitionBy(
        "y"
    ).parquet(out)
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        restated = (
            orders.filter(F.col("y") == 1997)
            .select("y", (F.col("o_totalprice") * 1.1).alias("o_totalprice"))
        )
        restated.write.mode("overwrite").partitionBy("y").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    back = spark.read.parquet(out)
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return back.groupBy(F.col("y").cast("int").alias("y")).agg(
        F.count("*").alias("n"), F.sum(cents).alias("cents")
    )


@query(
    "rel_nth_value_window",
    oracle="""
    SELECT DISTINCT o_custkey,
           nth_value(o_orderkey, 2) OVER (
             PARTITION BY o_custkey
             ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC,
                      o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS second_best_order
    FROM orders
    """,
)
def rel_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value window coverage: each customer's SECOND-highest-value
    order key over the full-partition frame (NULL for single-order
    customers — preserved, not dropped). Ordering on integer cents with
    the orderkey tie-break keeps the selected row identical across
    engines."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(cents.desc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        orders.select(
            "o_custkey",
            F.nth_value("o_orderkey", 2).over(w).alias("second_best_order"),
        )
        .distinct()
    )


@query(
    "ts_session_conversion",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts, event_type,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM g
    ),
    per_session AS (
      SELECT user_id, session_seq,
             count(*) AS n_events,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted,
             (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS duration_s
      FROM s GROUP BY 1, 2
    )
    SELECT count(*) AS n_sessions,
           CAST(sum(converted) AS BIGINT) AS n_converted,
           round(sum(converted) * 1.0 / count(*), 6) AS conversion_rate,
           round(avg(n_events), 4) AS avg_events_per_session,
           round(sum(duration_s) * 1.0 / count(*), 4) AS avg_duration_s
    FROM per_session
    """,
)
def ts_session_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level conversion report COMPOSED from the sessionize
    operator (operators.timeseries.sessionize feeds a per-session rollup):
    total sessions, sessions containing a purchase, conversion rate, mean
    events and mean duration per session. Certifies that sessionize's
    labels survive composition into downstream aggregates (the oracle
    re-derives sessions from scratch in SQL). Durations floor-divide to
    integer seconds and the rate/means are exact-integer ratios — the
    session's fixed-point discipline."""
    events = load_table(spark, sf_dir, "events")
    labeled = TS.sessionize(events, "user_id", "ts", "event_id", gap_minutes=30)
    with_type = labeled.join(
        events.select("event_id", "event_type"), "event_id"
    )
    per_session = with_type.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
        F.expr("(unix_micros(max(ts)) - unix_micros(min(ts))) div 1000000").alias(
            "duration_s"
        ),
    )
    return per_session.agg(
        F.count("*").alias("n_sessions"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        F.round(F.sum("converted") * 1.0 / F.count("*"), 6).alias(
            "conversion_rate"
        ),
        F.round(F.avg("n_events"), 4).alias("avg_events_per_session"),
        F.round(F.sum("duration_s") * 1.0 / F.count("*"), 4).alias(
            "avg_duration_s"
        ),
    )


@query(
    "ts_time_to_convert",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t0 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    p AS (
      SELECT e.user_id,
             (epoch_us(min(e.ts)) - epoch_us(min(v.t0))) // 1000000 AS dt_s
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= v.t0
      GROUP BY e.user_id
    )
    SELECT count(*) AS n_converted,
           quantile_cont(dt_s, 0.5) AS median_s,
           round(sum(dt_s) * 1.0 / count(*), 4) AS mean_s
    FROM p
    """,
)
def ts_ttc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert: seconds from each user's first view to their first
    subsequent purchase — converting-user count, median (integer seconds →
    midpoint interpolation exact), and mean (exact integer ratio). The
    funnel operator's timing companion; both stage reductions key on the
    user, so one exchange serves the join and both aggregates."""
    events = load_table(spark, sf_dir, "events")
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t0"))
        .groupBy("user_id")
        .agg(
            F.expr(
                "(unix_micros(min(ts)) - unix_micros(min(t0))) div 1000000"
            ).alias("dt_s")
        )
    )
    return p.agg(
        F.count("*").alias("n_converted"),
        F.expr("percentile(dt_s, 0.5)").alias("median_s"),
        F.round(F.sum("dt_s") * 1.0 / F.count("*"), 4).alias("mean_s"),
    )


@query(
    "ts_clamped_balance",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT user_id, event_id,
             CASE WHEN event_type IN ('purchase', 'signup')
                  THEN CAST(round(value * 100) AS BIGINT)
                  ELSE -CAST(round(value * 100) AS BIGINT) END AS delta,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), bal AS (
      SELECT user_id, event_id, rn, delta,
             CAST(greatest(0, delta) AS BIGINT) AS balance
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b.user_id, b.event_id, b.rn, b.delta,
             CAST(greatest(0, h.balance + b.delta) AS BIGINT)
      FROM base b JOIN bal h
        ON b.user_id = h.user_id AND b.rn = h.rn + 1
    )
    SELECT event_id, user_id, rn, delta, balance FROM bal
    """,
)
def ts_clamped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-clamped running balance per user
    (operators.timeseries.clamped_running_balance): credits from
    purchase/signup events, debits from the rest, floor at zero — the
    inventory/prepaid-credit recurrence whose clamp has NO window form
    (a plain running sum does; max() couples every step). Second member
    of the sequential-per-key family after Holt, and the stronger oracle
    case: all-int64 arithmetic, so the recursive-CTE replay is exact with
    no float discussion at all. Engine side is the sorted-partition
    mapInPandas carry — one shuffle, one integer of state per key."""
    events = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    delta = F.when(
        F.col("event_type").isin("purchase", "signup"), cents
    ).otherwise(-cents)
    return TS.clamped_running_balance(
        events.withColumn("delta", delta), "user_id", "ts", "event_id", "delta"
    )


@query(
    "rel_dp_noisy_counts",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1
    ), u AS (
      SELECT event_type, n,
             (CAST('0x' || substr(md5('dp-seed:' || event_type), 1, 8)
                   AS BIGINT) + 0.5) / 4294967296.0 AS unif
      FROM c
    )
    SELECT event_type, n,
           round(n + (CASE WHEN unif < 0.5 THEN 1.0 ELSE -1.0 END)
                     * ln(1.0 - 2.0 * abs(unif - 0.5)), 4) AS noisy_n
    FROM u
    """,
)
def rel_dp_noisy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private-STYLE noisy histogram: per-event-type counts
    plus Laplace(b=1/ε, ε=1) noise drawn by inverse CDF from an
    md5-seeded uniform — the mechanism SHAPE of a DP release (ε=1,
    event-level sensitivity; real deployments draw from a CSPRNG and
    account user-level sensitivity — this entry's noise is deterministic
    BY DESIGN so DuckDB replays the identical draw and the driver
    hash-checks the mechanism end-to-end, the same honest trade the KMV/
    CMS entries make for verifiability). Laplace inverse CDF:
    x = −b·sign(u−½)·ln(1−2|u−½|). The 4-decimal round is safely inside
    double precision at count magnitude (~8 significant digits), so the
    1-ulp ln() divergence between libm implementations cannot flip it.
    Complements k-anonymity (rel_k_anonymity) and pseudonymization
    (rel_pseudonymize) in the privacy family."""
    counts = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    h = F.substring(
        F.md5(F.concat(F.lit("dp-seed:"), F.col("event_type"))), 1, 8
    )
    unif = (F.conv(h, 16, 10).cast("long") + 0.5) / F.lit(4294967296.0)
    centered = unif - 0.5
    noise = (
        F.when(unif < 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(1.0 - 2.0 * F.abs(centered))
    )
    return counts.select(
        "event_type",
        "n",
        F.round(F.col("n") + noise, 4).alias("noisy_n"),
    )


@query(
    "rel_grouped_ols",
    oracle="""
    WITH m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(hour(ts) AS BIGINT)) AS BIGINT) AS sx,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sy,
             CAST(sum(CAST(hour(ts) AS BIGINT) * CAST(hour(ts) AS BIGINT))
                  AS BIGINT) AS sxx,
             CAST(sum(CAST(hour(ts) AS BIGINT)
                      * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sxy
      FROM events GROUP BY 1
    )
    SELECT event_type, n,
           round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                    / CAST(n AS DOUBLE))
                 / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                    / CAST(n AS DOUBLE)), 6) AS slope_cents_per_hour,
           round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                 - ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                       / CAST(n AS DOUBLE))
                    / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                       / CAST(n AS DOUBLE)))
                   * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 4)
             AS intercept_cents
    FROM m
    """,
)
def rel_grouped_ols_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped simple linear regression (value-cents on hour-of-day, per
    event type) — the SQL-standard REGR_SLOPE/REGR_INTERCEPT surface,
    computed here from EXACT integer moments (n, Σx, Σy, Σx², Σxy in
    int64) with explicit-double derivations, the CUPED discipline: the
    engines' built-in regr_* aggregates use engine-specific streaming
    accumulations whose float order differs, so the moment form is what
    makes the driver hash exact. A pytest pins Spark's built-in
    F.regr_slope/F.regr_intercept against this form within 1e-9 — the
    built-ins are certified THROUGH the entry, not trusted blindly."""
    events = load_table(spark, sf_dir, "events")
    x = F.hour("ts").cast("bigint")
    y = F.round(F.col("value") * 100).cast("bigint")
    m = events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
    )

    def d(c):
        return c.cast("double")

    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy = F.col("sxx"), F.col("sxy")
    slope = (d(sxy) - d(sx) * d(sy) / d(n)) / (d(sxx) - d(sx) * d(sx) / d(n))
    intercept = d(sy) / d(n) - slope * (d(sx) / d(n))
    return m.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope_cents_per_hour"),
        F.round(intercept, 4).alias("intercept_cents"),
    )


@query("rows_markov_attribution")
def rows_markov_attr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain (removal-effect) attribution over click journeys
    (operators.timeseries.markov_attribution): channels from props.k mod
    5 as in ts_attribution_models; a user converts if they have any
    purchase event. Transition counting is distributed; the absorbing-
    chain solve is driver-side numpy on the (channels+3)² matrix — the
    tiny-dense-algebra-on-aggregated-counts pattern (PCA precedent).
    Rows-only (matrix inversion has no SQL form); share-sum and planted
    single-channel invariants are pytest-pinned."""
    events = load_table(spark, sf_dir, "events")
    conv_users = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("__conv", F.lit(True))
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            "ts",
            "event_id",
            F.concat(
                F.lit("ch"),
                (F.get_json_object("props", "$.k").cast("int") % 5).cast(
                    "string"
                ),
            ).alias("channel"),
        )
        .join(conv_users, "user_id", "left")
        .withColumn("converted", F.coalesce("__conv", F.lit(False)))
    )
    return TS.markov_attribution(
        clicks, "user_id", "ts", "event_id", "channel", "converted"
    )


# Shared DuckDB CTE for the Holt-Winters family (ts_holt_winters /
# ts_hw_forecast / ts_hw_anomalies): hourly per-type counts -> the
# recursive triple-smoothing with the rolling last-24 seasonal history
# carried as a LIST column. The level expression is inlined wherever
# referenced — repeated identical IEEE-double expressions evaluate to
# the identical double, which is what makes the bitwise-unrounded
# comparison against Spark's sorted-partition carry sound.
_HW_CTE = """
    WITH RECURSIVE hourly AS (
      SELECT event_type AS k, date_trunc('hour', ts) AS b,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), base AS (
      SELECT k, x, row_number() OVER (PARTITION BY k ORDER BY b) AS rn
      FROM hourly
    ), hw AS (
      SELECT k, rn, x,
             CAST(x AS DOUBLE) AS level,
             CAST(0.0 AS DOUBLE) AS trend,
             CAST(0.0 AS DOUBLE) AS seasonal,
             [CAST(0.0 AS DOUBLE)] AS s_hist
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b.k, b.rn, b.x,
             (CAST(b.x AS DOUBLE)
                - (CASE WHEN b.rn > 24 THEN h.s_hist[1] ELSE 0.0 END)) * 0.5
               + (h.level + h.trend) * 0.5,
             ((CAST(b.x AS DOUBLE)
                 - (CASE WHEN b.rn > 24 THEN h.s_hist[1] ELSE 0.0 END)) * 0.5
                + (h.level + h.trend) * 0.5
              - h.level) * 0.5 + h.trend * 0.5,
             (CAST(b.x AS DOUBLE)
                - ((CAST(b.x AS DOUBLE)
                     - (CASE WHEN b.rn > 24 THEN h.s_hist[1] ELSE 0.0 END)) * 0.5
                   + (h.level + h.trend) * 0.5)) * 0.5
               + (CASE WHEN b.rn > 24 THEN h.s_hist[1] ELSE 0.0 END) * 0.5,
             CASE WHEN len(list_append(h.s_hist,
                    (CAST(b.x AS DOUBLE)
                       - ((CAST(b.x AS DOUBLE)
                            - (CASE WHEN b.rn > 24 THEN h.s_hist[1]
                               ELSE 0.0 END)) * 0.5
                          + (h.level + h.trend) * 0.5)) * 0.5
                      + (CASE WHEN b.rn > 24 THEN h.s_hist[1]
                         ELSE 0.0 END) * 0.5)) > 24
                  THEN list_append(h.s_hist,
                    (CAST(b.x AS DOUBLE)
                       - ((CAST(b.x AS DOUBLE)
                            - (CASE WHEN b.rn > 24 THEN h.s_hist[1]
                               ELSE 0.0 END)) * 0.5
                          + (h.level + h.trend) * 0.5)) * 0.5
                      + (CASE WHEN b.rn > 24 THEN h.s_hist[1]
                         ELSE 0.0 END) * 0.5)[2:]
                  ELSE list_append(h.s_hist,
                    (CAST(b.x AS DOUBLE)
                       - ((CAST(b.x AS DOUBLE)
                            - (CASE WHEN b.rn > 24 THEN h.s_hist[1]
                               ELSE 0.0 END)) * 0.5
                          + (h.level + h.trend) * 0.5)) * 0.5
                      + (CASE WHEN b.rn > 24 THEN h.s_hist[1]
                         ELSE 0.0 END) * 0.5)
             END
      FROM base b JOIN hw h ON b.k = h.k AND b.rn = h.rn + 1
    )
"""


@query(
    "ts_holt_winters",
    oracle=_HW_CTE + """
    SELECT k AS event_type, rn, x, level, trend, seasonal FROM hw
    """,
)
def ts_holt_winters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (m=24 hourly seasonality) over per-type
    hourly event counts (operators.timeseries.holt_winters_additive) —
    the triple-smoothing completion of the exponential family, FULLY
    oracle-backed: the DuckDB recursive CTE carries the rolling
    last-24 seasonal history as a LIST column (deque ≙ list_append +
    slice) and executes the identical α=β=γ=0.5 IEEE-double expressions
    in the identical per-key order, compared bitwise UNROUNDED (the Holt
    lesson). The oracle inlines the level expression wherever it is
    referenced — repeated identical float expressions evaluate to the
    identical double, so textual duplication is parity-safe."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type"),
            F.date_trunc("hour", F.col("ts")).alias("b"),
        )
        .agg(F.count("*").alias("x"))
    )
    return TS.holt_winters_additive(
        hourly, "event_type", "b", "x", season=24
    )


@query(
    "ts_hw_forecast",
    oracle=_HW_CTE + """
    , final AS (
      SELECT k, rn AS n, level, trend, s_hist,
             row_number() OVER (PARTITION BY k ORDER BY rn DESC) AS rd
      FROM hw
    )
    SELECT f.k AS event_type, t.h,
           f.level + t.h * f.trend
             + (CASE WHEN f.n + t.h <= 24 THEN 0.0
                     WHEN f.n >= 24 THEN f.s_hist[t.h]
                     ELSE f.s_hist[f.n + t.h - 24] END) AS forecast
    FROM final f
    CROSS JOIN (SELECT unnest(generate_series(1, 6)) AS h) t
    WHERE f.rd = 1
    """,
)
def ts_hw_forecast_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """h-step-ahead Holt-Winters forecasts (h = 1..6 hours) from the
    fitted final state: forecast_h = l_n + h·b_n + s_{n+h−m} — the
    payoff step of the smoothing entry. The Spark side reads the HW
    OUTPUT (final level/trend per key via max_by, the needed seasonal by
    an equi-join on rn = n+h−24, coalesced to the first-season 0.0);
    the oracle reads the SAME quantities from the recursion's list state
    — two different access paths to identical doubles, compared bitwise
    unrounded. h·trend is int×double in both engines."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type"),
            F.date_trunc("hour", F.col("ts")).alias("b"),
        )
        .agg(F.count("*").alias("x"))
    )
    hw = TS.holt_winters_additive(
        hourly, "event_type", "b", "x", season=24
    ).localCheckpoint(eager=True)
    last = hw.groupBy("event_type").agg(
        F.max("rn").alias("n"),
        F.max_by("level", "rn").alias("level"),
        F.max_by("trend", "rn").alias("trend"),
    )
    hs = last.select(
        "event_type", "n", "level", "trend",
        F.explode(F.sequence(F.lit(1), F.lit(6))).alias("h"),
    ).withColumn("rn_s", F.col("n") + F.col("h") - 24)
    seas = hw.select(
        "event_type", F.col("rn").alias("rn_s"), F.col("seasonal").alias("s")
    )
    return (
        hs.join(seas, ["event_type", "rn_s"], "left")
        .select(
            "event_type",
            "h",
            (
                F.col("level")
                + F.col("h") * F.col("trend")
                + F.coalesce("s", F.lit(0.0))
            ).alias("forecast"),
        )
    )


@query(
    "ts_hw_anomalies",
    oracle=_HW_CTE + """
    , pred AS (
      SELECT k, rn, x,
             lag(level) OVER w + lag(trend) OVER w
               + coalesce(lag(seasonal, 24) OVER w, 0.0) AS yhat
      FROM hw
      WINDOW w AS (PARTITION BY k ORDER BY rn)
    )
    SELECT k AS event_type, rn, x, yhat,
           CAST(x AS DOUBLE) - yhat AS resid
    FROM pred
    WHERE yhat IS NOT NULL
      AND abs(CAST(x AS DOUBLE) - yhat) > 10.0
    """,
)
def ts_hw_anomalies_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based anomaly detection on Holt-Winters one-step-ahead
    residuals: the forecast for bucket i made at i−1 is
    ŷ_i = l_{i−1} + b_{i−1} + s_{i−24}, and buckets where |x − ŷ| exceeds
    a fixed threshold (10 events) are flagged — the MODEL-AWARE
    complement to ts_zscore_anomaly (global moments) and ts_mad_outliers
    (robust moments): a value can be globally unremarkable yet wildly
    off its seasonal trajectory, and vice versa. Both engines derive
    ŷ with lag windows over the SAME smoothing states (Spark from the
    operator's output, the oracle from the recursion), so the residuals
    compare bitwise; the fixed threshold sidesteps the cross-engine
    quantile-interpolation question a residual-MAD gate would raise —
    that gate exists as ts_mad_outliers and composes."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type"),
            F.date_trunc("hour", F.col("ts")).alias("b"),
        )
        .agg(F.count("*").alias("x"))
    )
    hw = TS.holt_winters_additive(hourly, "event_type", "b", "x", season=24)
    w = Window.partitionBy("event_type").orderBy("rn")
    yhat = (
        F.lag("level").over(w)
        + F.lag("trend").over(w)
        + F.coalesce(F.lag("seasonal", 24).over(w), F.lit(0.0))
    )
    resid = F.col("x").cast("double") - F.col("yhat")
    return (
        hw.withColumn("yhat", yhat)
        .filter(F.col("yhat").isNotNull())
        .withColumn("resid", resid)
        .filter(F.abs("resid") > 10.0)
        .select("event_type", "rn", "x", "yhat", "resid")
    )


@query(
    "ts_gone_silent",
    oracle="""
    WITH hz AS (
      SELECT max(ts) - INTERVAL 7 DAY AS cut,
             max(ts) - INTERVAL 14 DAY AS prior_lo
      FROM events
    ), prior AS (
      SELECT e.user_id,
             count(*) AS n_events_prior,
             max(e.ts) AS last_seen
      FROM events e CROSS JOIN hz
      WHERE e.ts >= hz.prior_lo AND e.ts < hz.cut
      GROUP BY 1
    )
    SELECT p.user_id, p.n_events_prior, p.last_seen
    FROM prior p
    WHERE NOT EXISTS (
      SELECT 1 FROM events e2 CROSS JOIN hz
      WHERE e2.user_id = p.user_id AND e2.ts >= hz.cut
    )
    ORDER BY p.user_id
    """,
)
def ts_gone_silent_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gone-silent (churn-candidate) detection: users active in the
    prior week but with NO event in the most recent week — the temporal
    anti-join (EXISTS in window A AND NOT EXISTS in window B) that
    retention dashboards alert on; the absence half is what plain
    cohort/rolling metrics cannot express. Spark-first: the horizon is a
    1-row aggregate broadcast onto both period scans; the prior-week
    aggregate LEFT ANTI joins the recent-week key set — the absence
    predicate becomes one pruned anti join, no correlated subquery at
    runtime. One events shuffle per period, both keyed on the user."""
    events = load_table(spark, sf_dir, "events")
    hz = events.agg(
        (F.max("ts") - F.expr("INTERVAL 7 DAY")).alias("cut"),
        (F.max("ts") - F.expr("INTERVAL 14 DAY")).alias("prior_lo"),
    )
    # ONE conditional aggregation computes both periods per user (the
    # two-branch form scanned the stream once per period: 3 scans; 2
    # after — horizon + this pass), then absence is a plain filter.
    per_user = (
        events.join(F.broadcast(hz))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    (F.col("ts") >= F.col("prior_lo"))
                    & (F.col("ts") < F.col("cut")),
                    1,
                ).otherwise(0)
            ).alias("n_events_prior"),
            F.max(
                F.when(
                    (F.col("ts") >= F.col("prior_lo"))
                    & (F.col("ts") < F.col("cut")),
                    F.col("ts"),
                )
            ).alias("last_seen"),
            F.sum(
                F.when(F.col("ts") >= F.col("cut"), 1).otherwise(0)
            ).alias("__n_recent"),
        )
    )
    return (
        per_user.filter(
            (F.col("n_events_prior") > 0) & (F.col("__n_recent") == 0)
        )
        .select("user_id", "n_events_prior", "last_seen")
        .orderBy("user_id")
    )


@query(
    "ts_ab_cuped",
    oracle="""
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS variant,
             CAST(coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
               THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT)
               AS pre,
             CAST(coalesce(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
               THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT)
               AS post
      FROM events GROUP BY 1
    ), overall AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pre) AS BIGINT) AS sx,
             CAST(sum(post) AS BIGINT) AS sy,
             CAST(sum(pre * pre) AS BIGINT) AS sxx,
             CAST(sum(pre * post) AS BIGINT) AS sxy
      FROM per_user
    ), theta AS (
      SELECT (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                / CAST(n AS DOUBLE))
             / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                / CAST(n AS DOUBLE)) AS th,
             CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_pre_all
      FROM overall
    ), v AS (
      SELECT variant,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pre) AS BIGINT) AS sx,
             CAST(sum(post) AS BIGINT) AS sy,
             CAST(sum(pre * pre) AS BIGINT) AS sxx,
             CAST(sum(post * post) AS BIGINT) AS syy,
             CAST(sum(pre * post) AS BIGINT) AS sxy
      FROM per_user GROUP BY 1
    )
    SELECT v.variant, v.n,
           round(CAST(v.sy AS DOUBLE) / CAST(v.n AS DOUBLE), 6) AS mean_post,
           round(CAST(v.sy AS DOUBLE) / CAST(v.n AS DOUBLE)
                 - t.th * (CAST(v.sx AS DOUBLE) / CAST(v.n AS DOUBLE)
                           - t.mean_pre_all), 6) AS mean_adj,
           CAST(round((CAST(v.syy AS DOUBLE)
                  - CAST(v.sy AS DOUBLE) * CAST(v.sy AS DOUBLE)
                    / CAST(v.n AS DOUBLE))
                 / CAST(v.n - 1 AS DOUBLE)) AS BIGINT) AS var_post_c2,
           CAST(round(((CAST(v.syy AS DOUBLE)
                   - CAST(v.sy AS DOUBLE) * CAST(v.sy AS DOUBLE)
                     / CAST(v.n AS DOUBLE))
                  - 2 * t.th * (CAST(v.sxy AS DOUBLE)
                                - CAST(v.sx AS DOUBLE) * CAST(v.sy AS DOUBLE)
                                  / CAST(v.n AS DOUBLE))
                  + t.th * t.th * (CAST(v.sxx AS DOUBLE)
                                   - CAST(v.sx AS DOUBLE) * CAST(v.sx AS DOUBLE)
                                     / CAST(v.n AS DOUBLE)))
                 / CAST(v.n - 1 AS DOUBLE)) AS BIGINT) AS var_adj_c2
    FROM v CROSS JOIN theta t
    """,
)
def ts_ab_cuped_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with CUPED variance reduction (Deng et al.
    2013): users hash into two variants (user_id % 2); the post-period
    metric (value cents after the fixed cut) is adjusted by the
    pre-period covariate — adjusted = post − θ·(pre − mean_pre), with
    θ = cov(pre, post)/var(pre) pooled over all users — which shrinks
    metric variance without biasing the between-variant difference
    (E[pre] is variant-independent under randomization). Output per
    variant: n, raw and adjusted means (6-decimal cents), raw and
    adjusted variances as INTEGER cents² — a ~1.6e9 variance rounded to 6
    decimals needs 16 significant digits, past double precision, where
    Spark's BigDecimal rounding and DuckDB's multiply-round-divide
    disagree by 1 ulp (observed); integer rounding is exact for both. The
    var_adj/var_post ratio IS the experiment-speedup CUPED buys.

    Exactness discipline: every moment (Σpre, Σpost, Σpre², Σpost²,
    Σpre·post) is an INTEGER-cents sum — summation order cannot change
    them — and θ/means/variances derive from those integers with
    identical float expressions on both engines, so the rounded outputs
    hash-match. One shuffle to per-user sums (map-side combined); the
    moment aggregates are single rows; theta broadcasts back.

    tests/test_analytics_ops.py pins var_adj ≤ var_post per variant (the
    CUPED guarantee when θ is the pooled OLS slope)."""
    events = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    cents = F.round(F.col("value") * 100).cast("bigint")
    per_user = events.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("ts") < cut, cents)), F.lit(0)
        ).alias("pre"),
        F.coalesce(
            F.sum(F.when(F.col("ts") >= cut, cents)), F.lit(0)
        ).alias("post"),
    ).withColumn("variant", F.col("user_id") % 2)
    # Materialize the per-user table once (localCheckpoint): overall and
    # per-variant moment aggregates otherwise each re-scan events
    # (measured two scans; one with).
    per_user = per_user.localCheckpoint(eager=True)
    overall = per_user.agg(
        F.count("*").alias("n"),
        F.sum("pre").alias("sx"),
        F.sum("post").alias("sy"),
        F.sum(F.col("pre") * F.col("pre")).alias("sxx"),
        F.sum(F.col("pre") * F.col("post")).alias("sxy"),
    )
    def d(c):
        return c.cast("double")

    theta = overall.select(
        (
            (d(F.col("sxy")) - d(F.col("sx")) * d(F.col("sy")) / d(F.col("n")))
            / (d(F.col("sxx")) - d(F.col("sx")) * d(F.col("sx")) / d(F.col("n")))
        ).alias("th"),
        (d(F.col("sx")) / d(F.col("n"))).alias("mean_pre_all"),
    )
    v = per_user.groupBy("variant").agg(
        F.count("*").alias("n"),
        F.sum("pre").alias("sx"),
        F.sum("post").alias("sy"),
        F.sum(F.col("pre") * F.col("pre")).alias("sxx"),
        F.sum(F.col("post") * F.col("post")).alias("syy"),
        F.sum(F.col("pre") * F.col("post")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    th, mpa = F.col("th"), F.col("mean_pre_all")
    return v.join(F.broadcast(theta)).select(
        "variant",
        "n",
        F.round(d(sy) / d(n), 6).alias("mean_post"),
        F.round(d(sy) / d(n) - th * (d(sx) / d(n) - mpa), 6).alias("mean_adj"),
        F.round((d(syy) - d(sy) * d(sy) / d(n)) / d(n - 1))
        .cast("bigint")
        .alias("var_post_c2"),
        F.round(
            (
                (d(syy) - d(sy) * d(sy) / d(n))
                - 2 * th * (d(sxy) - d(sx) * d(sy) / d(n))
                + th * th * (d(sxx) - d(sx) * d(sx) / d(n))
            )
            / d(n - 1)
        )
        .cast("bigint")
        .alias("var_adj_c2"),
    )


@query(
    "ts_attribution_models",
    oracle="""
    WITH p AS (
      SELECT user_id, ts AS p_ts, event_id AS p_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, ts AS c_ts, event_id AS c_id,
             CAST(json_extract_string(props, '$.k') AS INTEGER) % 5 AS channel
      FROM events WHERE event_type = 'click'
    ), t AS (
      SELECT p.p_id, p.cents, c.c_ts, c.c_id, c.channel
      FROM p JOIN c ON c.user_id = p.user_id
       AND c.c_ts <= p.p_ts AND c.c_ts > p.p_ts - INTERVAL 1 HOUR
    ), r AS (
      SELECT *,
             row_number() OVER (PARTITION BY p_id ORDER BY c_ts, c_id)
               AS rn_first,
             row_number() OVER (PARTITION BY p_id ORDER BY c_ts DESC, c_id DESC)
               AS rn_last,
             CAST(count(*) OVER (PARTITION BY p_id) AS BIGINT) AS n_t
      FROM t
    )
    SELECT 'first_touch' AS model, channel,
           CAST(sum(cents * 10000) AS BIGINT) AS attributed_microcents,
           count(*) AS n_attributions
    FROM r WHERE rn_first = 1 GROUP BY 2
    UNION ALL
    SELECT 'last_touch', channel,
           CAST(sum(cents * 10000) AS BIGINT), count(*)
    FROM r WHERE rn_last = 1 GROUP BY 2
    UNION ALL
    SELECT 'linear', channel,
           CAST(sum((cents * 10000) // n_t) AS BIGINT), count(*)
    FROM r GROUP BY 2
    """,
)
def ts_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch revenue attribution: every purchase's value is credited
    to the click touchpoints of the SAME user within the preceding hour,
    under three standard models — first-touch (earliest click takes all),
    last-touch (latest takes all), linear (equal split across touches).
    The channel is the click's props.k mod 5 (JVM-native get_json_object;
    the harness's stand-in for a UTM source). All money is integer
    micro-cents with truncating division, so the three models are
    hash-exact across engines; (c_ts, c_id) tie-breaks make first/last
    deterministic under simultaneous clicks.

    Scale shape: the touch join is a per-user interval join — one shuffle
    on user_id, with the 1-hour bound keeping per-purchase touch counts
    small; the three window functions share ONE p_id exchange (different
    sort orders add sorts, not shuffles — plan-asserted in
    test_plan_shapes), and all three models come out of ONE pass via an
    exploded (model, amount) contribution column into a single aggregate.
    The naive union-of-three-branches form re-planned the whole join
    subtree per model (3 p_id exchanges, 3 event scans — measured before
    the rewrite); explode-then-aggregate touches the joined rows once.
    At 100 TB the equivalent plan holds with event-time bucketing on the
    join (operators.joins.interval_join precedent)."""
    events = load_table(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    c = events.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
        (F.get_json_object("props", "$.k").cast("int") % 5).alias("channel"),
    )
    touches = p.join(
        c,
        (p.user_id == c.user_id)
        & (c.c_ts <= p.p_ts)
        & (c.c_ts > p.p_ts - F.expr("INTERVAL 1 HOUR")),
    ).select("p_id", "cents", "c_ts", "c_id", "channel")
    w = Window.partitionBy("p_id")
    r = (
        touches.withColumn(
            "rn_first",
            F.row_number().over(w.orderBy("c_ts", "c_id")),
        )
        .withColumn(
            "rn_last",
            F.row_number().over(
                w.orderBy(F.col("c_ts").desc(), F.col("c_id").desc())
            ),
        )
        .withColumn("n_t", F.count("*").over(w))
    )
    micro = F.col("cents") * 10000
    contributions = F.array(
        F.struct(
            F.lit("first_touch").alias("model"),
            F.when(F.col("rn_first") == 1, micro).alias("amount"),
        ),
        F.struct(
            F.lit("last_touch").alias("model"),
            F.when(F.col("rn_last") == 1, micro).alias("amount"),
        ),
        F.struct(
            F.lit("linear").alias("model"),
            F.expr("(cents * 10000) div n_t").alias("amount"),
        ),
    )
    return (
        r.select("channel", F.explode(contributions).alias("c"))
        .select("channel", "c.model", "c.amount")
        .filter(F.col("amount").isNotNull())
        .groupBy("model", "channel")
        .agg(
            F.sum("amount").alias("attributed_microcents"),
            F.count("*").alias("n_attributions"),
        )
        .select("model", "channel", "attributed_microcents", "n_attributions")
    )


@query(
    "rel_try_ansi_safety",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n,
           CAST(sum(CASE WHEN o_custkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_div_null,
           CAST(sum(TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER)) AS BIGINT)
             AS sum_prefix,
           CAST(sum(CASE WHEN TRY_CAST(o_orderpriority AS INTEGER) IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_parse_fail
    FROM orders
    GROUP BY 1
    """,
)
def rel_try_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic surface: this engine runs Spark 4 ANSI mode,
    where bare division-by-zero and bad casts THROW — try_divide /
    try_cast are the production idiom for dirty data. Per priority:
    rows whose try_divide(price, custkey%5) returned NULL (the zero
    denominators), the sum of the parseable priority prefix digits, and
    the count of full-string casts that failed. DuckDB's `/` and
    TRY_CAST already carry NULL-on-error semantics, so the oracle states
    the same contract natively."""
    orders = load_table(spark, sf_dir, "orders")
    denom = F.col("o_custkey") % 5
    ratio = F.try_divide(F.col("o_totalprice"), denom)
    return orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(F.when(ratio.isNull(), 1).otherwise(0)).alias("n_div_null"),
        F.sum(
            F.expr("try_cast(substr(o_orderpriority, 1, 1) AS INT)").cast("long")
        ).alias("sum_prefix"),
        F.sum(
            F.when(
                F.expr("try_cast(o_orderpriority AS INT)").isNull(), 1
            ).otherwise(0)
        ).alias("n_parse_fail"),
    )


@query(
    "rel_map_roundtrip",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority, o_orderstatus, count(*) AS n
      FROM orders GROUP BY 1, 2
    ),
    k AS (
      SELECT o_orderpriority, count(*) AS n_statuses FROM c GROUP BY 1
    )
    SELECT c.o_orderpriority, c.o_orderstatus, c.n,
           CAST(k.n_statuses AS INTEGER) AS n_statuses
    FROM c JOIN k USING (o_orderpriority)
    """,
)
def rel_map_rt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP column round-trip (complex-type coverage): status→count per
    priority built with map_from_entries(collect_list(struct)), then
    exploded back to rows alongside the map's cardinality. collect_list
    order is partition-dependent, but map CONTENT is not — exploding back
    to rows makes the check order-free (returning the raw map would also
    crash the driver's pandas canonicalizer, the ext_embedding_quantize
    lesson). Certifies build → size → explode as one plan."""
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n")
    )
    mapped = counts.groupBy("o_orderpriority").agg(
        F.map_from_entries(
            F.collect_list(F.struct("o_orderstatus", "n"))
        ).alias("m")
    )
    return mapped.select(
        "o_orderpriority",
        F.size("m").alias("n_statuses"),
        F.explode("m").alias("o_orderstatus", "n"),
    ).select("o_orderpriority", "o_orderstatus", "n", "n_statuses")


@query(
    "rel_tpch_q21_waiting",
    oracle="""
    WITH l AS (
      SELECT l_orderkey, l_suppkey,
             max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                      THEN 1 ELSE 0 END) AS late
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      GROUP BY 1, 2
    ),
    o AS (
      SELECT l_orderkey, count(*) AS n_sup, sum(late) AS n_late
      FROM l GROUP BY 1
    )
    SELECT s.s_name, count(*) AS numwait
    FROM l
    JOIN o ON l.l_orderkey = o.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE l.late = 1 AND o.n_sup >= 2 AND o.n_late = 1
    GROUP BY s.s_name
    """,
)
def rel_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): the classic
    EXISTS + NOT-EXISTS double correlation, decorrelated Spark-first —
    per-(order, supplier) lateness flags aggregate once, per-order
    supplier/lateness counts aggregate once more, and both correlated
    predicates collapse into `n_sup ≥ 2 AND n_late = 1` on the join —
    no subquery replay, two exchanges total on the order key (AQE reuses
    the first). Lateness adapts the published commitdate/receiptdate
    test to ship-lag > 60 days (the harness schema carries no
    receipt/commit dates)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    late_flag = F.max(
        F.when(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"),
            1,
        ).otherwise(0)
    )
    l = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(late_flag.alias("late"))
    )
    o = l.groupBy("l_orderkey").agg(
        F.count("*").alias("n_sup"), F.sum("late").alias("n_late")
    )
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        l.join(o, "l_orderkey")
        .filter(
            (F.col("late") == 1) & (F.col("n_sup") >= 2) & (F.col("n_late") == 1)
        )
        .join(supplier, l.l_suppkey == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@query(
    "rel_percentile_disc",
    oracle="""
    SELECT o_orderpriority,
           quantile_disc(CAST(round(o_totalprice * 100) AS BIGINT), 0.5)
             AS p50_cents,
           quantile_disc(CAST(round(o_totalprice * 100) AS BIGINT), 0.9)
             AS p90_cents
    FROM orders GROUP BY 1
    """,
)
def rel_pct_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE percentiles per group (an actual data value, not an
    interpolation — the right semantics for latencies and money where an
    interpolated value may not exist). Spark has no percentile_disc
    aggregate, so this is the rank-selection rewrite: value at rank
    ceil(p·n) in the sorted multiset — DuckDB's quantile_disc rule,
    probed and matched. Rank selection is value-deterministic under ties
    regardless of tie ORDER (the sorted multiset fixes rank→value), and
    everything is integer cents."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    w = Window.partitionBy("o_orderpriority").orderBy(cents.asc())
    wp = Window.partitionBy("o_orderpriority")
    ranked = orders.select(
        "o_orderpriority",
        cents.alias("cents"),
    ).select(
        "o_orderpriority",
        "cents",
        F.row_number().over(w.orderBy(F.col("cents").asc(), F.lit(1))).alias("rn"),
        F.count("*").over(wp).alias("n"),
    )
    pick = lambda p: F.max(  # noqa: E731
        F.when(F.col("rn") == F.ceil(F.lit(p) * F.col("n")), F.col("cents"))
    )
    return ranked.groupBy("o_orderpriority").agg(
        pick(0.5).alias("p50_cents"), pick(0.9).alias("p90_cents")
    )


@query(
    "rel_pivot_multi_agg",
    oracle="""
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f_n,
           round(sum(CASE WHEN o_orderstatus = 'F'
                          THEN CAST(round(o_totalprice * 100) AS BIGINT)
                          ELSE 0 END) / 100.0, 2) AS f_rev,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS o_n,
           round(sum(CASE WHEN o_orderstatus = 'O'
                          THEN CAST(round(o_totalprice * 100) AS BIGINT)
                          ELSE 0 END) / 100.0, 2) AS o_rev,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS p_n,
           round(sum(CASE WHEN o_orderstatus = 'P'
                          THEN CAST(round(o_totalprice * 100) AS BIGINT)
                          ELSE 0 END) / 100.0, 2) AS p_rev
    FROM orders GROUP BY 1
    """,
)
def rel_pivot_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with MULTIPLE aggregates per pivoted value (count AND revenue
    per status column) — the wide-report shape single-agg pivot
    (rel_pivot_status) can't express. The pivot values are declared
    explicitly (no extra distinct-scan job to discover them) and revenue
    sums ride integer cents. Spark names multi-agg pivot columns
    '<value>_<alias>'; the select renames to the oracle's flat names."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    pivoted = (
        orders.select("o_orderpriority", "o_orderstatus", cents.alias("c"))
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),  # count("*") is invalid inside pivot
            F.round(F.sum("c") / 100.0, 2).alias("rev"),
        )
    )
    # a priority with zero orders of some status yields a NULL pivot cell,
    # while the oracle's conditional sums yield 0/0.00 — coalesce to match
    # (review finding: latent at any SF where a (priority, status) cell
    # empties out)
    return pivoted.select(
        "o_orderpriority",
        F.coalesce("F_n", F.lit(0)).alias("f_n"),
        F.coalesce("F_rev", F.lit(0.0)).alias("f_rev"),
        F.coalesce("O_n", F.lit(0)).alias("o_n"),
        F.coalesce("O_rev", F.lit(0.0)).alias("o_rev"),
        F.coalesce("P_n", F.lit(0)).alias("p_n"),
        F.coalesce("P_rev", F.lit(0.0)).alias("p_rev"),
    )


def _multibatch_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """The events table re-laid-out as THREE parquet files split by
    event-time range (one range-partitioned write job), written once per
    application and shared by the multi-micro-batch stream entries:
    streamed with maxFilesPerTrigger=1, each file is one micro-batch, and
    the ascending mtimes ``write_replay_source`` stamps make event time
    advance monotonically across them."""
    return write_replay_source(
        scratch_dir(spark, sf_dir, "stream_mb"),
        [load_table(spark, sf_dir, "events").repartitionByRange(3, "ts")],
    )


@query(
    "ts_stream_multibatch",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def ts_stream_multibatch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-micro-batch streaming run: the events table is re-laid-out as
    THREE parquet files split by event-time range, streamed with
    maxFilesPerTrigger=1 — so the windowed aggregation's state genuinely
    carries across three micro-batches with the watermark advancing
    between them (ts_stream_microbatch drains everything in one batch;
    this is the incremental-state path a production file/Kafka source
    exercises). Complete output mode retains every window, so the final
    table equals the batch aggregation whatever the batch boundaries.
    Range-split (not random) so each batch advances event time
    monotonically, the realistic arrival order."""
    from ..streaming.events import read_event_stream, windowed_counts

    src = _multibatch_events_dir(spark, sf_dir)
    sink = "ts_stream_multibatch_sink"
    stream = windowed_counts(
        read_event_stream(spark, src, glob="*.parquet", max_files_per_trigger=1)
    )
    q = run_stream(stream, sink, output_mode="complete")
    n_batches = len(q.recentProgress)
    assert n_batches >= 3, f"expected >=3 micro-batches, got {n_batches}"
    return spark.table(sink)


@query(
    "ts_stream_upsert_sink",
    oracle="""
    SELECT user_id % 20 AS bucket,
           count(*) AS n_events,
           round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def ts_stream_upsert_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch exactly-once upsert sink, end-to-end under the oracle:
    an UPDATE-mode aggregated stream (per-bucket count + value sum) over
    the 3-file range-split events source merges each micro-batch's changed
    keys into a parquet target via streaming.sinks.upsert_to_parquet (the
    anti-join + union + atomic-swap MERGE). Update mode emits cumulative
    values for keys touched by each batch, so after the final batch the
    LATEST row per key IS the total — the target must equal the batch
    aggregation exactly. This makes the production sink path (idempotent
    keyed merge, the Delta-MERGE shape without the jar) driver-visible;
    the restart/replay exactly-once semantics are pinned separately in
    tests/test_streaming_advanced.py. Stream state accumulates integer
    CENTS (the rel_textfile_logparse idiom, round-5 advice fix): a
    double F.sum across micro-batch state is order-sensitive at the
    half-cent boundary, so the state column is sum(bigint cents) —
    exactly associative in any accumulation order — and the /100 + round
    happen only in the final read."""
    import os

    from ..streaming.events import read_event_stream
    from ..streaming.sinks import upsert_to_parquet

    base = scratch_dir(spark, sf_dir, "stream_upsert", fresh=("target", "ck"))
    src = _multibatch_events_dir(spark, sf_dir)
    target = os.path.join(base, "target")
    sink = "ts_stream_upsert_sink_q"
    agg = (
        read_event_stream(spark, src, glob="*.parquet", max_files_per_trigger=1)
        .groupBy((F.col("user_id") % 20).alias("bucket"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("__cents"),
        )
    )
    q = upsert_to_parquet(
        agg, target, key="bucket", checkpoint=os.path.join(base, "ck"),
        query_name=sink, output_mode="update",
    )
    n_batches = len(q.recentProgress)
    assert n_batches >= 3, f"expected >=3 micro-batches, got {n_batches}"
    return spark.read.parquet(target).select(
        "bucket",
        "n_events",
        F.round(F.col("__cents") / 100.0, 2).alias("sum_value"),
    )


@query("rows_stream_near_dup")
def ts_stream_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash/LSH near-duplicate detection
    (streaming.dedup.streaming_near_dup_flags): the documents corpus
    arrives as three id-ordered micro-batches; each batch is signed,
    banded, checked against the accumulated (band, sig) → min-id bucket
    state, and the state is min-merged via the composite-key
    merge_upsert. Rows-only by nature (the batch twin needs xxhash64,
    which DuckDB cannot replay); the EQUALITY to the one-pass batch LSH
    rule is pinned in tests/test_streaming_advanced.py. State is
    bucket-vocabulary sized — the property that makes the pattern run
    indefinitely at 100 TB."""
    import os

    from ..streaming.dedup import streaming_near_dup_flags

    base = scratch_dir(
        spark, sf_dir, "stream_neardup", fresh=("state", "flags", "ck")
    )
    # three id-ordered files, one per micro-batch
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    cuts = [(0, n_docs // 3), (n_docs // 3, 2 * n_docs // 3),
            (2 * n_docs // 3, n_docs + 10**9)]
    src = write_replay_source(os.path.join(base, "src"), [
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        .coalesce(1)
        for lo, hi in cuts
    ])
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(src)
    )
    sink = "rows_stream_near_dup_q"
    q = streaming_near_dup_flags(
        stream,
        state_dir=os.path.join(base, "state"),
        out_dir=os.path.join(base, "flags"),
        checkpoint=os.path.join(base, "ck"),
        query_name=sink,
    )
    n_batches = len(q.recentProgress)
    assert n_batches >= 3, f"expected >=3 micro-batches, got {n_batches}"
    return spark.read.parquet(os.path.join(base, "flags"))


# Guard the textual splice below: if _HW_CTE is ever reworded the
# .replace() would silently no-op and the oracle's x type would diverge,
# surfacing only as a confusing hash mismatch (ADVICE r7).
assert "CAST(count(*) AS BIGINT) AS x" in _HW_CTE, (
    "_HW_CTE was reworded; update rows_stream_holt_winters' x-cast splice"
)


@query(
    "rows_stream_holt_winters",
    # Same recursive-CTE oracle as ts_holt_winters, with x emitted as
    # DOUBLE (the stream casts the hourly count to double at source).
    oracle=_HW_CTE.replace(
        "CAST(count(*) AS BIGINT) AS x", "CAST(count(*) AS DOUBLE) AS x"
    )
    + """
    SELECT k AS event_type, rn, x, level, trend, seasonal FROM hw
    """,
)
def rows_stream_hw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Holt-Winters (streaming.dedup.streaming_holt_winters):
    the hourly per-type series arrives as three time-ordered micro-
    batches; each continues the per-key (level, trend, rn, seasonal
    history) state from the state parquet and emits the smoothed rows.
    Promoted from rows-only in round 7: every observation emits exactly
    once and the foreachBatch fold is BIT-IDENTICAL to the batch
    recursive CTE — α=β=γ=0.5 makes every smoothing product an exact
    power-of-two halving, so the Python loop's a·(x−s)+(1−a)·(l+t)
    shape and the CTE's (x−s)·0.5+(l+t)·0.5 shape produce the same
    doubles, and the parquet state roundtrip is exact — so the emitted
    table hash-matches the SAME oracle that certifies ts_holt_winters
    (x typed double), compared bitwise UNROUNDED. In-order arrival is
    guaranteed by ascending file mtimes + per-batch (key, b) sort;
    stream==batch equality additionally pinned in
    test_streaming_advanced. (The name keeps its historical rows_
    prefix for continuity across round records.)"""
    import os

    from ..streaming.dedup import streaming_holt_winters

    base = scratch_dir(spark, sf_dir, "stream_hw", fresh=("state", "out", "ck"))
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("b"))
        .agg(F.count("*").cast("double").alias("x"))
    )
    # ONE range-partitioned write job (three filtered writes re-aggregate
    # events three times). Equal-count (not equal-span) thirds — the
    # emitted fold is batch-boundary-independent (every row emits exactly
    # once; state carries).
    src = write_replay_source(
        os.path.join(base, "src"), [hourly.repartitionByRange(3, "b")]
    )
    sink = "rows_stream_hw_q"
    stream = (
        spark.readStream.schema("event_type string, b timestamp, x double")
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(src)
    )
    q = streaming_holt_winters(
        stream,
        state_dir=os.path.join(base, "state"),
        out_dir=os.path.join(base, "out"),
        checkpoint=os.path.join(base, "ck"),
        key_col="event_type",
        order_col="b",
        value_col="x",
        query_name=sink,
    )
    n_batches = len(q.recentProgress)
    assert n_batches >= 3, f"expected >=3 micro-batches, got {n_batches}"
    return spark.read.parquet(os.path.join(base, "out"))


@query("rows_word2vec_synonyms")
def rows_word2vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word2Vec skip-gram embeddings trained on the documents corpus
    (ml.textsim.fit_word2vec, seeded + single-partition for determinism),
    probed for the top-5 nearest vocabulary words to three frequent
    corpus terms. Rows-only by nature (embedding values are float
    artifacts of the fit); the planted co-occurrence test in
    tests/test_ml.py pins that the geometry is real."""
    from ..ml.textsim import fit_word2vec, word_synonyms

    docs = load_table(spark, sf_dir, "documents")
    model = fit_word2vec(docs)
    return word_synonyms(model, ["table", "query", "spark"], k=5)


@query("rows_als_recommendations")
def rows_als(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALS collaborative filtering end-to-end (ml.als): implicit strengths
    from order history → seeded blocked factorization →
    recommendForAllUsers, exploded to (user, rec_rank, item) rows.
    Rows-only by nature: factor values depend on input partitioning
    (float reduction order in the block solves), so the driver checks
    shape/row-count while the planted-block preference test in
    tests/test_ml.py pins recommendation QUALITY — the LSH/IVF recall
    pattern."""
    from ..ml.als import fit_als, implicit_ratings, top_recommendations

    ratings = implicit_ratings(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    )
    model = fit_als(ratings, rank=8, max_iter=5, seed=42)
    return top_recommendations(model, n=3)


@query(
    "rel_skyline_pareto",
    oracle="""
    WITH p AS (
      SELECT p_partkey, p_type,
             CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
             p_size
      FROM part
    )
    SELECT a.p_partkey, a.p_type, a.price_cents, a.p_size
    FROM p a
    WHERE NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.p_type = a.p_type
        AND b.price_cents <= a.price_cents AND b.p_size >= a.p_size
        AND (b.price_cents < a.price_cents OR b.p_size > a.p_size)
    )
    """,
)
def rel_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped skyline / Pareto frontier (operators.sort.
    pareto_frontier_2d): per product type, the parts not dominated on
    (min price, max size) — the multi-objective shortlist a single
    ORDER BY cannot express. The oracle replays the DEFINITION
    (quadratic correlated NOT EXISTS anti-join); the engine runs the
    two-phase salted-window form whose widest window partition is
    1/n_salts of a group locally and frontier-sized globally — the
    independent formulations agreeing is the point of the check. Price
    in integer cents so the dominance comparisons are exact on both
    engines."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_type",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
        "p_size",
    )
    return O.pareto_frontier_2d(
        p, "price_cents", "p_size", salt_on="p_partkey", group_cols=["p_type"]
    )


@query(
    "rel_association_rules",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), tot AS (
      SELECT count(DISTINCT l_orderkey) AS n_orders FROM items
    ), brand AS (
      SELECT p_brand, CAST(count(*) AS BIGINT) AS n FROM items GROUP BY 1
    ), pr AS (
      SELECT a.p_brand AS antecedent, b.p_brand AS consequent,
             CAST(count(*) AS BIGINT) AS n_both
      FROM items a
      JOIN items b ON a.l_orderkey = b.l_orderkey
                  AND a.p_brand <> b.p_brand
      GROUP BY 1, 2
    )
    SELECT antecedent, consequent, n_both,
           ba.n AS n_ante, bc.n AS n_cons,
           (10000 * n_both) // ba.n AS conf_bp,
           (10000 * n_both * t.n_orders) // (ba.n * bc.n) AS lift_bp
    FROM pr
    JOIN brand ba ON ba.p_brand = antecedent
    JOIN brand bc ON bc.p_brand = consequent
    CROSS JOIN tot t
    WHERE n_both >= 20
    """,
)
def rel_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets at the BRAND level:
    antecedent→consequent with support, confidence and lift — the
    market-basket step after rel_copurchase_pairs' raw co-occurrence
    (counts alone can't rank rules; lift normalizes away popularity).
    Brand-level baskets keep support meaningful (25 brands vs 20k parts).

    Plan: distinct (order, brand) collapses map-side → one equi-join on
    the orderkey bounded by basket size² → three broadcast-able joins
    against the 25-row brand-count table and the 1-row total. Confidence
    and lift are emitted in integer BASIS POINTS via truncating integer
    division (Spark `div` and DuckDB `//` both truncate toward zero) —
    no floating division anywhere, so the driver hash is exact by
    construction."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # The basket table feeds four consumers (total, brand counts, both
    # self-join legs) — materialized so the lineitem⋈part derivation
    # runs once (audit: 5 scans of each without).
    items = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
        .localCheckpoint(eager=True)
    )
    tot = items.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    brand = items.groupBy("p_brand").agg(F.count("*").alias("n"))
    a = items.select(F.col("l_orderkey"), F.col("p_brand").alias("antecedent"))
    b = items.select(
        F.col("l_orderkey").alias("__ok"), F.col("p_brand").alias("consequent")
    )
    both = (
        a.join(
            b,
            (a.l_orderkey == b.__ok)
            & (F.col("antecedent") != F.col("consequent")),
        )
        .groupBy("antecedent", "consequent")
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= 20)
    )
    ba = brand.select(F.col("p_brand").alias("__ba"), F.col("n").alias("n_ante"))
    bc = brand.select(F.col("p_brand").alias("__bc"), F.col("n").alias("n_cons"))
    return (
        both.join(F.broadcast(ba), F.col("antecedent") == F.col("__ba"))
        .join(F.broadcast(bc), F.col("consequent") == F.col("__bc"))
        .crossJoin(F.broadcast(tot))
        .select(
            "antecedent",
            "consequent",
            "n_both",
            "n_ante",
            "n_cons",
            F.expr("(10000 * n_both) div n_ante").alias("conf_bp"),
            F.expr("(10000 * n_both * n_orders) div (n_ante * n_cons)").alias(
                "lift_bp"
            ),
        )
    )


@query(
    "ts_interpolate_linear",
    oracle="""
    WITH agg AS (
      SELECT event_type AS key, date_trunc('hour', ts) AS bucket_start,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS fp
      FROM events GROUP BY 1, 2
    ), span AS (
      SELECT min(bucket_start) AS lo, max(bucket_start) AS hi FROM agg
    ), axis AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour'))
             AS bucket_start
      FROM span
    ), keys AS (
      SELECT DISTINCT key FROM agg
    ), grid AS (
      SELECT k.key, a.bucket_start, g.fp,
             CAST(epoch(a.bucket_start) AS BIGINT) AS i
      FROM keys k CROSS JOIN axis a
      LEFT JOIN agg g ON g.key = k.key AND g.bucket_start = a.bucket_start
    ), nb AS (
      SELECT key, bucket_start, fp, i,
        last_value(fp IGNORE NULLS) OVER
          (PARTITION BY key ORDER BY bucket_start
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_fp,
        last_value(CASE WHEN fp IS NOT NULL THEN i END IGNORE NULLS) OVER
          (PARTITION BY key ORDER BY bucket_start
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_i,
        first_value(fp IGNORE NULLS) OVER
          (PARTITION BY key ORDER BY bucket_start
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_fp,
        first_value(CASE WHEN fp IS NOT NULL THEN i END IGNORE NULLS) OVER
          (PARTITION BY key ORDER BY bucket_start
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_i
      FROM grid
    )
    SELECT key AS event_type, bucket_start,
           coalesce(
             fp,
             prev_fp + ((next_fp - prev_fp) * (i - prev_i)) // (next_i - prev_i),
             prev_fp, next_fp
           ) AS value_fp,
           fp IS NOT NULL AS observed
    FROM nb
    """,
)
def ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation (operators.timeseries.interpolate_linear):
    hourly per-type value series where missing buckets take the linear
    blend of the nearest observed neighbors — the level-series repair
    ts_resample_gap_fill's zero fill gets wrong (about 6% of the sf grid
    is gaps). All arithmetic integer fixed-point with truncating division
    on BOTH engines, so even downward-sloping gaps (negative numerators)
    hash exactly."""
    return TS.interpolate_linear(
        load_table(spark, sf_dir, "events"), "ts", "event_type", "value"
    )


@query(
    "ts_seasonal_baseline",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket_start,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS actual_fp
      FROM events GROUP BY 1, 2
    ), base AS (
      SELECT event_type, CAST(hour(bucket_start) AS INTEGER) AS hod,
             CAST(SUM(actual_fp) AS BIGINT) AS tot,
             CAST(count(*) AS BIGINT) AS n
      FROM hourly GROUP BY 1, 2
    )
    SELECT h.event_type, h.bucket_start, h.actual_fp,
           b.tot // b.n AS baseline_fp,
           h.actual_fp - b.tot // b.n AS resid_fp
    FROM hourly h
    JOIN base b ON b.event_type = h.event_type
               AND b.hod = CAST(hour(h.bucket_start) AS INTEGER)
    """,
)
def ts_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive baseline and residual: each hourly bucket compared
    to the mean of SAME-HOUR-OF-DAY buckets for that event type — the
    deseasonalizing step that makes anomaly thresholds (ts_zscore_anomaly,
    ts_mad_outliers) meaningful on traffic with a daily cycle; a raw
    z-score flags every midnight as an anomaly. The baseline table is
    |types| x 24 rows and broadcasts back onto the hourly aggregate; the
    raw stream shuffles once. Integer fixed-point baseline (truncating
    mean) keeps both engines exact."""
    ev = load_table(spark, sf_dir, "events")
    # keys x hours hub consumed by the hour-of-day baseline AND the
    # residual join - checkpoint so the corpus groupBy runs once.
    hourly = (
        ev.groupBy(
            "event_type",
            F.window("ts", "1 hour")["start"].alias("bucket_start"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "actual_fp"
            )
        )
        .localCheckpoint(eager=True)
    )
    base = hourly.groupBy(
        "event_type", F.hour("bucket_start").alias("hod")
    ).agg(F.sum("actual_fp").alias("tot"), F.count("*").alias("n"))
    b = base.select(
        F.col("event_type").alias("__et"),
        "hod",
        F.expr("tot div n").alias("baseline_fp"),
    )
    return (
        hourly.join(
            F.broadcast(b),
            (F.col("event_type") == F.col("__et"))
            & (F.hour("bucket_start") == F.col("hod")),
        )
        .select(
            "event_type",
            "bucket_start",
            "actual_fp",
            "baseline_fp",
            (F.col("actual_fp") - F.col("baseline_fp")).alias("resid_fp"),
        )
    )


@query(
    "rows_fpgrowth_itemsets",
    oracle="""
    WITH items AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS o, p_brand AS b
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    nb AS (SELECT count(DISTINCT o) AS n FROM items),
    -- Spark FPGrowth: minCount = ceil(minSupport * n) computed in
    -- DOUBLE (FPGrowth.scala math.ceil) — replicate the double product,
    -- NOT DuckDB's exact-DECIMAL 0.02 * n (1-count divergences at SFs
    -- where 0.02*n sits epsilon above an integer)
    thr AS (SELECT CAST(ceil(CAST(0.02 AS DOUBLE) * CAST(n AS DOUBLE))
                        AS BIGINT) AS t FROM nb),
    f1 AS MATERIALIZED (
      SELECT b, CAST(count(*) AS BIGINT) AS freq FROM items GROUP BY b
      HAVING count(*) >= (SELECT t FROM thr)
    ),
    i2 AS MATERIALIZED (
      SELECT a.o, a.b AS b1, c.b AS b2
      FROM items a JOIN items c ON a.o = c.o AND a.b < c.b
    ),
    f2 AS MATERIALIZED (
      SELECT b1, b2, CAST(count(*) AS BIGINT) AS freq FROM i2
      GROUP BY 1, 2 HAVING count(*) >= (SELECT t FROM thr)
    ),
    i3 AS MATERIALIZED (
      SELECT p.o, p.b1, p.b2, c.b AS b3
      FROM i2 p JOIN items c ON c.o = p.o AND c.b > p.b2
    ),
    f3 AS (
      SELECT b1, b2, b3, CAST(count(*) AS BIGINT) AS freq FROM i3
      GROUP BY 1, 2, 3 HAVING count(*) >= (SELECT t FROM thr)
    ),
    f4 AS (
      SELECT p.b1, p.b2, p.b3, c.b AS b4, CAST(count(*) AS BIGINT) AS freq
      FROM i3 p JOIN items c ON c.o = p.o AND c.b > p.b3
      GROUP BY 1, 2, 3, 4 HAVING count(*) >= (SELECT t FROM thr)
    )
    SELECT b AS itemset, freq FROM f1
    UNION ALL SELECT b1 || ',' || b2, freq FROM f2
    UNION ALL SELECT b1 || ',' || b2 || ',' || b3, freq FROM f3
    UNION ALL SELECT b1 || ',' || b2 || ',' || b3 || ',' || b4, freq FROM f4
    """,
)
def rows_fpgrowth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FP-Growth frequent itemsets over brand-level order baskets
    (pyspark.ml.fpm.FPGrowth, minSupport=0.02) — the MLlib counterpart of
    the declarative rel_association_rules (which only enumerates pairs;
    FP-Growth finds arbitrary-size itemsets without materializing the
    powerset). Promoted from rows-only in round 7: the frequent-itemset
    SET is a pure function of the data (the FP-tree is an algorithm, not
    a semantics), so a level-wise Apriori enumeration in SQL certifies
    it — the oracle enumerates through size 4, and Apriori monotonicity
    guarantees completeness one level past the last nonempty one (max
    frequent size at the harness SFs is 2: minSupport 0.02 sits between
    the densest pair at sf0.1, 0.0253, and the densest triple anywhere,
    0.0136 at sf0.001 — so pairs are certified at EVERY SF and levels
    3-4 are the emptiness guard). The threshold replicates Spark's
    ceil-of-DOUBLE minCount. Itemsets emit as sorted comma-joined
    strings (raw array cells crash the driver's pandas canonicalizer —
    rel_collect_sorted_lists precedent)."""
    from pyspark.ml.fpm import FPGrowth

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    baskets = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.collect_set("p_brand").alias("items"))
    )
    model = FPGrowth(
        itemsCol="items", minSupport=0.02, minConfidence=0.3
    ).fit(baskets)
    return model.freqItemsets.select(
        F.array_join(F.array_sort("items"), ",").alias("itemset"),
        F.col("freq").cast("long").alias("freq"),
    )


@query(
    "rows_prefixspan_patterns",
    oracle="""
    WITH seqs AS MATERIALIZED (
      SELECT user_id,
             string_agg('>' || event_type || '>', ''
                        ORDER BY ts, event_id) AS s
      FROM events GROUP BY user_id
    ),
    nthr AS (SELECT CAST(ceil(CAST(0.2 AS DOUBLE)
                              * CAST(count(*) AS DOUBLE)) AS BIGINT) AS t
             FROM seqs),
    types AS (SELECT DISTINCT event_type AS a FROM events),
    p1 AS MATERIALIZED (
      SELECT a, CAST(count(*) AS BIGINT) AS freq
      FROM types JOIN seqs ON s LIKE '%>' || a || '>%'
      GROUP BY a HAVING count(*) >= (SELECT t FROM nthr)
    ),
    p2 AS MATERIALIZED (
      SELECT x.a AS a, y.a AS b, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT a FROM p1) x CROSS JOIN (SELECT a FROM p1) y
      JOIN seqs ON s LIKE '%>' || x.a || '>%>' || y.a || '>%'
      GROUP BY 1, 2 HAVING count(*) >= (SELECT t FROM nthr)
    ),
    p3 AS (
      SELECT p.a, p.b, z.a AS c, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT DISTINCT a, b FROM p2) p
      CROSS JOIN (SELECT a FROM p1) z
      JOIN seqs ON s LIKE '%>' || p.a || '>%>' || p.b || '>%>'
                          || z.a || '>%'
      GROUP BY 1, 2, 3 HAVING count(*) >= (SELECT t FROM nthr)
    )
    SELECT a AS pattern, freq FROM p1
    UNION ALL SELECT a || '>' || b, freq FROM p2
    UNION ALL SELECT a || '>' || b || '>' || c, freq FROM p3
    """,
)
def rows_prefixspan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PrefixSpan sequential patterns over per-user event-type journeys
    (pyspark.ml.fpm.PrefixSpan, minSupport=0.2, maxPatternLength=3):
    ORDER matters — <view, click, purchase> is a different pattern from
    its permutations, which no itemset miner sees. Sequences are built
    with ONE user-keyed shuffle (collect_list over a (ts, id)-sorted
    struct keeps intra-user order deterministic). Promoted from
    rows-only in round 7: with single-item itemsets the pattern support
    is plain SUBSEQUENCE counting, a pure function of the data — the
    oracle wraps each event as a '>type>' token (delimiters doubled at
    boundaries so adjacent tokens never share a '>') and counts
    sequences per candidate via LIKE '%>a>%>b>%...' (left-to-right LIKE
    matching decides subsequence containment exactly); candidates are
    Apriori-pruned level-wise, capped by maxPatternLength=3 so no
    emptiness guard is needed, and the threshold replicates Spark's
    ceil-of-DOUBLE minCount (PrefixSpan.scala). Patterns emitted as a
    '>'-joined string for the canonicalizer."""
    from pyspark.ml.fpm import PrefixSpan

    ev = load_table(spark, sf_dir, "events")
    seqs = (
        ev.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("__ordered")
        )
        .select(
            F.transform("__ordered", lambda s: F.array(s["event_type"])).alias(
                "sequence"
            )
        )
    )
    ps = PrefixSpan(
        minSupport=0.2, maxPatternLength=3, maxLocalProjDBSize=32_000_000
    )
    return ps.findFrequentSequentialPatterns(seqs).select(
        F.array_join(
            F.transform("sequence", lambda s: F.array_join(s, "+")), ">"
        ).alias("pattern"),
        F.col("freq").cast("long").alias("freq"),
    )


@query(
    "rel_k_anonymity",
    oracle="""
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS group_size,
           count(*) < 10 AS suppress
    FROM customer
    GROUP BY 1, 2
    """,
)
def rel_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier pair
    (nationality, market segment), k=10: any equivalence class smaller
    than k re-identifies its members and must be suppressed or
    generalized before release — the group-size complement of
    rel_pseudonymize's direct-identifier masking. One map-side-combined
    aggregate over the quasi-identifier key; the flag rides along so the
    release pipeline filters on it without re-counting."""
    return (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").alias("group_size"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "group_size",
            (F.col("group_size") < 10).alias("suppress"),
        )
    )


@query(
    "rel_max_by_lookup",
    oracle="""
    SELECT c_nationkey,
           c_custkey AS top_custkey,
           round(c_acctbal, 2) AS top_acctbal
    FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             row_number() OVER (
               PARTITION BY c_nationkey
               ORDER BY c_acctbal DESC, c_custkey DESC
             ) AS rn
      FROM customer
    )
    WHERE rn = 1
    """,
)
def rel_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1-per-group via the max_by AGGREGATE instead of a window:
    richest customer per nation. max_by(struct ordering, custkey
    tie-break) is partial-aggregatable — executors keep one candidate
    per group and merge (map-side combine, no sort) — where the
    row_number form shuffles and SORTS every row; for top-1 the
    aggregate is strictly cheaper at scale. The oracle deliberately
    replays the WINDOW formulation, so the two independent plans must
    agree on values and tie-breaks."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.expr(
            "max_by(c_custkey, struct(c_acctbal, c_custkey))"
        ).alias("top_custkey"),
        F.round(F.max(F.col("c_acctbal")), 2).alias("top_acctbal"),
    )


def _quality_lr_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared by the quality classifier and its isotonic calibration:
    deterministic surface features, 75th-percentile label, seeded LBFGS
    logistic fit, and the plain-column score z (see the classifier's
    docstring for why MLlib transform/summary jobs are avoided).
    Returns (doc_id, label, z)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    from ..ext.text import quality_score as _qs

    docs = load_table(spark, sf_dir, "documents")
    q = _qs(docs, "doc_id", "text").select("doc_id", "quality_score")
    w = F.split(F.trim(F.col("text")), r"\s+")
    feats = docs.join(q, "doc_id").select(
        "doc_id",
        F.col("quality_score"),
        F.length("text").cast("double").alias("f_chars"),
        F.size(w).cast("double").alias("f_words"),
        (F.length(F.regexp_replace(F.col("text"), r"\s+", "")) / F.size(w)).alias(
            "f_avg_wlen"
        ),
        (
            F.length(F.regexp_replace(F.col("text"), r"[^0-9]", ""))
            / F.length("text")
        ).alias("f_digit_ratio"),
        (
            F.length(F.regexp_replace(F.col("text"), r"[A-Za-z0-9\s]", ""))
            / F.length("text")
        ).alias("f_punct_ratio"),
    )
    thr = feats.agg(
        F.expr("percentile(quality_score, 0.75)").alias("t")
    ).collect()[0].t
    data = feats.withColumn(
        "label", (F.col("quality_score") >= F.lit(thr)).cast("double")
    )
    cols = ["f_chars", "f_words", "f_avg_wlen", "f_digit_ratio", "f_punct_ratio"]
    assembled = VectorAssembler(inputCols=cols, outputCol="features").transform(
        data
    )
    model = LogisticRegression(maxIter=25, regParam=0.01).fit(assembled)
    wts = model.coefficients.toArray().tolist()
    b = float(model.intercept)
    z = F.lit(b)
    for c, wt in zip(cols, wts):
        z = z + F.lit(float(wt)) * F.col(c)
    return data.select("doc_id", "label", z.alias("z"))


@query("rows_ml_quality_classifier")
def rows_ml_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary quality classifier (LogisticRegression over surface
    features): predicts whether a document clears the 75th-percentile
    quality bar from features that do NOT include the score itself
    (char/word/avg-word-length/digit+punct ratios). The missing family
    next to the nine reference regressors — corpus curation wants a
    calibrated gate, not a point estimate. Deterministic: features and
    labels are exact column math, the 75th percentile is the exact
    interpolated form, LBFGS from a fixed init on a fixed feature order.
    Output: one metrics row (auc, accuracy, n_pos, n) — rows-only (MLlib
    internals), quality floor pytest-pinned.

    Metrics WITHOUT MLlib transform/evaluator/summary jobs: in Spark 4,
    once any Observation has been registered on the session, the
    LogisticRegressionModel's training summary (which pins the session)
    fails closure serialization with "Task not serializable:
    ObservationManager" — model.transform and summary.areaUnderROC both
    trip it. The model is only a (w, b) pair here, so _quality_lr_scores
    scores with a plain column expression and AUC uses the tie-aware rank
    formula — deterministic, declarative, and nothing MLlib-owned in any
    closure.

    The rank comes from the two-pass distributed midrank map
    (operators.rankstats.global_doubled_midrank_map) + one equi-join on
    the score — NOT an unpartitioned rank window over the per-document
    scored table (r10 VERDICT: that shape sorted the whole corpus on one
    executor, with no top-k filter for limit-pushdown to rescue; same
    rewire as ml_best_f1_threshold in r9). r2 = 2·midrank is exact
    bigint, so the AUC closed form is bit-identical to the window form."""
    from ..operators.rankstats import global_doubled_midrank_map

    # NULL policy stated at the call site (r11 ADVICE): the equi-join on
    # z drops NULL observations, where the old window form counted them.
    # _quality_lr_scores emits z = w·x + b over non-null features, so no
    # row is NULL today — filter explicitly so a future scorer change
    # cannot silently shrink n/accuracy through the join.
    scored = (
        _quality_lr_scores(spark, sf_dir)
        .select("label", "z")
        .filter(F.col("z").isNotNull())
    )
    rank_map = global_doubled_midrank_map(scored, "z")
    ranked = scored.join(rank_map.select("z", "r2"), "z")
    m = ranked.agg(
        F.sum(F.when(F.col("label") == 1.0, F.col("r2"))).alias("rp2"),
        F.sum(F.when(F.col("label") == 1.0, 1).otherwise(0)).alias("np"),
        F.count("*").alias("n"),
        F.avg(
            (((F.col("z") >= 0).cast("double") == F.col("label")).cast("double"))
        ).alias("acc"),
    ).collect()[0]
    n_pos, n = int(m.np), int(m.n)
    n_neg = n - n_pos
    auc = (m.rp2 / 2.0 - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)
    return spark.createDataFrame(
        [(round(auc, 6), round(float(m.acc), 6), n_pos, n)],
        "auc DOUBLE, accuracy DOUBLE, n_pos BIGINT, n BIGINT",
    )


@query("rows_quality_calibration")
def rows_quality_cal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration of the quality classifier
    (pyspark.ml.regression.IsotonicRegression over the LR score z vs the
    binary label): raw classifier scores are ordinal, not probabilities —
    a curation gate that reads them as P(high quality) over- or
    under-selects. The isotonic fit is the standard non-parametric
    calibrator (no sigmoid shape assumed, monotonicity guaranteed by
    construction: it solves the pool-adjacent-violators problem). Output
    is the fitted calibration CURVE — (boundary z, calibrated p) knots —
    which is the model itself, broadcastable to score any corpus without
    refitting. Rows-only (MLlib internals); monotonicity, [0,1] range,
    and mean-calibration (sum of calibrated p equals the positive count
    — a PAV invariant) are pytest-pinned."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import IsotonicRegression

    scored = _quality_lr_scores(spark, sf_dir)
    assembled = VectorAssembler(inputCols=["z"], outputCol="features").transform(
        scored
    )
    iso = IsotonicRegression(
        featuresCol="features", labelCol="label", isotonic=True
    ).fit(assembled)
    bounds = iso.boundaries.toArray().tolist()
    preds = iso.predictions.toArray().tolist()
    return spark.createDataFrame(
        [
            (i, round(float(bz), 6), round(float(p), 6))
            for i, (bz, p) in enumerate(zip(bounds, preds))
        ],
        "knot INT, z_boundary DOUBLE, calibrated_p DOUBLE",
    )


@query(
    "ts_cusum_changepoints",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket_start,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), base AS (
      SELECT event_type,
             CAST(SUM(n) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_n
      FROM hourly GROUP BY 1
    )
    SELECT h.event_type, h.bucket_start, h.n,
           CAST(SUM(h.n - b.mean_n) OVER (
             PARTITION BY h.event_type ORDER BY h.bucket_start
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cusum,
           abs(CAST(SUM(h.n - b.mean_n) OVER (
             PARTITION BY h.event_type ORDER BY h.bucket_start
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT)) > 3 * b.mean_n AS drifted
    FROM hourly h JOIN base b ON b.event_type = h.event_type
    """,
)
def ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection on hourly event rates: the running sum of
    deviations from each type's mean rate, flagged when it exceeds
    3× the mean — catches SUSTAINED level shifts that per-bucket
    outlier tests (ts_zscore_anomaly, ts_mad_outliers) structurally
    miss, because a 10% rate change never trips a per-bucket threshold
    but integrates linearly in the CUSUM. Integer throughout (truncating
    mean, integer running sum): both engines agree bit-for-bit. One
    stream shuffle (the hourly pre-aggregation); the mean table
    broadcasts; the window runs over |types| bucket-sized partitions."""
    ev = load_table(spark, sf_dir, "events")
    # keys x hours hub consumed by the baseline agg AND the cusum join -
    # checkpoint so the corpus groupBy shuffle runs once (r8 scan audit).
    hourly = (
        ev.groupBy(
            "event_type",
            F.window("ts", "1 hour")["start"].alias("bucket_start"),
        )
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=True)
    )
    base = hourly.groupBy("event_type").agg(
        F.expr("sum(n) div count(*)").alias("mean_n")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    joined = hourly.join(
        F.broadcast(base.withColumnRenamed("event_type", "__et")),
        F.col("event_type") == F.col("__et"),
    )
    cusum = F.sum(F.col("n") - F.col("mean_n")).over(w).cast("long")
    return joined.select(
        "event_type",
        "bucket_start",
        "n",
        cusum.alias("cusum"),
        (F.abs(cusum) > 3 * F.col("mean_n")).alias("drifted"),
    )


@query(
    "rel_kmv_sketch",
    oracle="""
    WITH d AS (
      SELECT DISTINCT o_orderpriority,
             md5(CAST(o_custkey AS VARCHAR)) AS h
      FROM orders
    ), r AS (
      SELECT o_orderpriority, h,
             row_number() OVER (PARTITION BY o_orderpriority ORDER BY h) AS rn
      FROM d
    ), ex AS (
      SELECT o_orderpriority,
             CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact
      FROM orders GROUP BY 1
    )
    SELECT r.o_orderpriority,
           string_agg(r.h, ',' ORDER BY r.h) AS sketch,
           CAST(count(*) AS BIGINT) AS k_filled,
           any_value(ex.n_exact) AS n_exact
    FROM r JOIN ex ON ex.o_orderpriority = r.o_orderpriority
    WHERE r.rn <= 32
    GROUP BY 1
    """,
)
def rel_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct sketch, k=32, per order priority:
    the 32 lexicographically smallest md5(custkey) digests — a MERGEABLE
    sketch (union = min-k of concatenation) whose kth value estimates
    cardinality, the exact-verifiable cousin of the HLL behind
    approx_count_distinct (rel_approx_count_distinct is rows-only; this
    sketch is deterministic, so the driver hash-checks it).

    Scale shape: min-k uses the two-level salted pattern (the
    inverted_index precedent) — per (priority, salt) top-k bounds the
    widest window partition at 1/16 of a group, then the global pass
    sees ≤ 16k candidate rows per group. collect_list only ever
    aggregates the ≤ 32 survivors. n_exact rides along for the
    estimator's error test; a production sketch would drop it."""
    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        "o_orderpriority", F.md5(F.col("o_custkey").cast("string")).alias("h")
    ).distinct()
    salted = d.withColumn("__salt", F.pmod(F.xxhash64("h"), F.lit(16)))
    w1 = Window.partitionBy("o_orderpriority", "__salt").orderBy("h")
    local = (
        salted.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= 32)
        .drop("rn", "__salt")
    )
    w2 = Window.partitionBy("o_orderpriority").orderBy("h")
    topk = local.withColumn("rn", F.row_number().over(w2)).filter(
        F.col("rn") <= 32
    )
    ex = o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_exact")
    )
    return (
        topk.groupBy("o_orderpriority")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("h"))).alias("sketch"),
            F.count("*").alias("k_filled"),
        )
        .join(F.broadcast(ex), "o_orderpriority")
        .select("o_orderpriority", "sketch", "k_filled", "n_exact")
    )


@query(
    "rel_cms_sketch",
    oracle="""
    WITH cells AS (
      SELECT r, substr(md5(CAST(r AS VARCHAR) || event_type), 1, 2) AS bucket,
             CAST(count(*) AS BIGINT) AS c
      FROM events, (VALUES (0), (1), (2)) t(r)
      GROUP BY 1, 2
    ), probes AS (
      SELECT DISTINCT event_type, r,
             substr(md5(CAST(r AS VARCHAR) || event_type), 1, 2) AS bucket
      FROM events, (VALUES (0), (1), (2)) t(r)
    ), ex AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
      FROM events GROUP BY 1
    )
    SELECT p.event_type,
           CAST(min(c.c) AS BIGINT) AS cms_estimate,
           any_value(ex.n_exact) AS n_exact
    FROM probes p
    JOIN cells c ON c.r = p.r AND c.bucket = p.bucket
    JOIN ex ON ex.event_type = p.event_type
    GROUP BY 1
    """,
)
def rel_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (depth 3 × width 256), built and probed entirely
    in-engine and EXACTLY replayed by the oracle: bucket keys are
    2-hex-char md5 prefixes of (row_seed || item), so DuckDB reproduces
    the identical cells — the sketch's over-estimates (min over rows of
    a shared-bucket count) are deterministic and hash-checked, not just
    bounded. The KMV entry's md5-parity idiom extended from order
    statistics to frequency estimation; together with HLL
    (rel_approx_count_distinct, rows-only by JVM-internal hashing) and
    KMV this completes the sketch family: distinct-count, order, and
    frequency.

    Scale shape: ONE corpus scan into per-item counts (map-side
    combined; with a high-cardinality item domain the same weighted
    insert runs on (item, count) partials), then the depth-explode and
    (r, bucket) roll-up operate on the item-vocabulary-sized table —
    the sketch is a fixed ≤ depth × width = 768 cells, mergeable by
    cell-wise sum (pinned by the split-corpus merge test). Probes join
    the tiny cell table broadcast. n_exact rides along for the ε-bound
    test; a production sketch would drop it."""
    # One corpus scan: the exact per-item counts are the hub (tiny for a
    # categorical item domain; for a high-cardinality domain you would
    # combine to (item, count) partials the same way — weighted insert is
    # the standard CMS build), and cells/probes derive from it. The
    # original three-consumer form scanned events three times (measured).
    ex = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_exact"))
        .localCheckpoint(eager=True)
    )
    depth = F.array(F.lit(0), F.lit(1), F.lit(2))
    bucket = F.substring(
        F.md5(F.concat(F.col("r").cast("string"), F.col("event_type"))), 1, 2
    )
    cells = (
        ex.select(F.explode(depth).alias("r"), "event_type", "n_exact")
        .select("r", bucket.alias("bucket"), "n_exact")
        .groupBy("r", "bucket")
        .agg(F.sum("n_exact").alias("c"))
    )
    probes = ex.select(F.explode(depth).alias("r"), "event_type").select(
        "event_type", "r", bucket.alias("bucket")
    )
    return (
        probes.join(F.broadcast(cells), ["r", "bucket"])
        .groupBy("event_type")
        .agg(F.min("c").alias("cms_estimate"))
        .join(F.broadcast(ex), "event_type")
        .select("event_type", "cms_estimate", "n_exact")
    )


@query(
    "ts_survival_km",
    oracle="""
    WITH per AS (
      SELECT user_id, min(ts) AS f, max(ts) AS l FROM events GROUP BY 1
    ), hz AS (
      SELECT max(ts) - INTERVAL 24 HOUR AS cut FROM events
    ), lives AS (
      SELECT (epoch_us(l) - epoch_us(f)) // 3600000000 AS t_hours,
             l > hz.cut AS censored
      FROM per CROSS JOIN hz
    ), grid AS (
      SELECT t_hours,
             CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT)
               AS n_deaths,
             CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT)
               AS n_censored_here
      FROM lives GROUP BY 1
    ), curve AS (
      SELECT t_hours, n_deaths, n_censored_here,
             CAST(sum(n_deaths + n_censored_here) OVER (
               ORDER BY t_hours
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
             ) AS BIGINT) AS n_at_risk
      FROM grid
    ), sc AS (
      SELECT *,
             ((n_at_risk - n_deaths) * 1.0) / n_at_risk AS factor
      FROM curve
    ), fin AS (
      SELECT t_hours, n_at_risk, n_deaths, n_censored_here,
             max(CASE WHEN factor = 0 THEN 1 ELSE 0 END) OVER (
               ORDER BY t_hours
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS died_out,
             sum(CASE WHEN factor > 0 THEN ln(factor) END) OVER (
               ORDER BY t_hours
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS logsum
      FROM sc
    )
    SELECT t_hours, n_at_risk, n_deaths, n_censored_here,
           CASE WHEN died_out = 1 THEN 0.0
                ELSE round(exp(logsum), 6) END AS survival
    FROM fin
    WHERE n_deaths > 0
    """,
)
def ts_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival over user lifetimes
    (operators.timeseries.survival_km): right-censored entities (active
    in the final 24h) stay in the risk set without counting as deaths —
    the statistically correct retention curve next to
    ts_cohort_retention's raw ratios. Cumulative product via ordered
    sum-of-logs; the curve table is |distinct durations|-sized, so its
    single-partition window is output-shaped, not data-shaped."""
    return TS.survival_km(
        load_table(spark, sf_dir, "events"), "user_id", "ts"
    )


@query(
    "ts_conversion_wilson",
    oracle="""
    WITH per AS (
      SELECT user_id % 2 AS variant,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS converted
      FROM events GROUP BY user_id
    ), agg AS (
      SELECT variant,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(converted) AS BIGINT) AS k
      FROM per GROUP BY 1
    )
    SELECT variant, n, k,
           round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
           round((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                  + 1.959963985 * 1.959963985 / (2.0 * CAST(n AS DOUBLE))
                  - 1.959963985 * sqrt(
                      (CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                      * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                        / CAST(n AS DOUBLE)
                      + 1.959963985 * 1.959963985
                        / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
                 / (1.0 + 1.959963985 * 1.959963985 / CAST(n AS DOUBLE)), 6)
             AS lo95,
           round((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                  + 1.959963985 * 1.959963985 / (2.0 * CAST(n AS DOUBLE))
                  + 1.959963985 * sqrt(
                      (CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                      * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                        / CAST(n AS DOUBLE)
                      + 1.959963985 * 1.959963985
                        / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
                 / (1.0 + 1.959963985 * 1.959963985 / CAST(n AS DOUBLE)), 6)
             AS hi95
    FROM agg
    """,
)
def ts_wilson_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-variant conversion rate with the 95% WILSON interval — the
    score interval that behaves at small n and extreme rates where the
    Wald ±1.96·√(p(1−p)/n) collapses (Wald gives zero width at p∈{0,1}
    and can exit [0,1]; Wilson cannot) — the reporting companion to
    ts_ab_cuped's mean-metric readout. Counts are integers; the interval
    arithmetic uses the identical explicit-double expression on both
    engines (z = 1.959963985, sqrt of identical doubles → identical
    doubles), so the rounded bounds hash-match."""
    events = load_table(spark, sf_dir, "events")
    per = events.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    ).withColumn("variant", F.col("user_id") % 2)
    agg = per.groupBy("variant").agg(
        F.count("*").alias("n"), F.sum("converted").alias("k")
    )

    def d(c):
        return c.cast("double")

    z = 1.959963985
    p = d(F.col("k")) / d(F.col("n"))
    half = z * F.sqrt(
        p * (1.0 - p) / d(F.col("n")) + z * z / (4.0 * d(F.col("n")) * d(F.col("n")))
    )
    center = p + z * z / (2.0 * d(F.col("n")))
    denom = 1.0 + z * z / d(F.col("n"))
    return agg.select(
        "variant",
        "n",
        "k",
        F.round(p, 6).alias("rate"),
        F.round((center - half) / denom, 6).alias("lo95"),
        F.round((center + half) / denom, 6).alias("hi95"),
    )


@query(
    "ts_cohort_ltv",
    oracle="""
    WITH cohort AS (
      -- DuckDB's week-truncation yields DATE; Spark's yields TIMESTAMP
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cw
      FROM events GROUP BY 1
    ), rev AS (
      SELECT c.cw,
             CAST(date_diff('day', CAST(c.cw AS DATE),
                            CAST(date_trunc('week', e.ts) AS DATE)) // 7
                  AS BIGINT) AS age_w,
             CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events e JOIN cohort c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2
    ), sizes AS (
      SELECT cw, CAST(count(*) AS BIGINT) AS n_users FROM cohort GROUP BY 1
    )
    SELECT r.cw AS cohort_week, r.age_w, s.n_users,
           CAST(sum(r.cents) OVER (
             PARTITION BY r.cw ORDER BY r.age_w
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_revenue_cents
    FROM rev r JOIN sizes s ON s.cw = r.cw
    """,
)
def ts_cohort_ltv_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: cumulative purchase revenue per signup-week
    cohort traced by cohort AGE in weeks — the lifetime-value companion
    to ts_cohort_retention's activity counts (retention says who comes
    back; LTV says what that is worth, the curve growth teams project
    payback from). Integer cents end-to-end; the running sum partitions
    by cohort over the |cohorts|×|ages| grid — output-shaped, never
    stream-shaped — and the stream itself is touched twice (cohort
    assignment, revenue cells), both map-side-combined shuffles on the
    user/cohort keys."""
    events = load_table(spark, sf_dir, "events")
    # user-count-bounded cohort hub, consumed by the revenue join AND
    # the cohort-size aggregate — checkpoint so the per-user first-seen
    # shuffle runs once (r8 scan audit: 3 events scans -> 1).
    cohort = (
        events.groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cw"))
        .localCheckpoint(eager=True)
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    rev = (
        events.filter(F.col("event_type") == "purchase")
        .join(cohort, "user_id")
        .groupBy(
            "cw",
            F.floor(
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cw")) / 7
            ).alias("age_w"),
        )
        .agg(F.sum(cents).alias("cents"))
    )
    sizes = cohort.groupBy("cw").agg(F.count("*").alias("n_users"))
    w = Window.partitionBy("cw").orderBy("age_w").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        rev.join(sizes, "cw")
        .select(
            F.col("cw").alias("cohort_week"),
            "age_w",
            "n_users",
            F.sum("cents").over(w).alias("cum_revenue_cents"),
        )
    )


@query(
    "ts_two_proportion_test",
    oracle="""
    WITH per AS (
      SELECT user_id % 2 AS variant,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS converted
      FROM events GROUP BY user_id
    ), agg AS (
      SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n0,
             CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END)
                  AS BIGINT) AS k0,
             CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END)
                  AS BIGINT) AS k1
      FROM per
    )
    SELECT n0, k0, n1, k1,
           round(CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                 - CAST(k0 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) AS diff,
           CASE WHEN (CAST(k0 + k1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)) > 0
                  AND (CAST(k0 + k1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)) < 1
             THEN round((CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                  - CAST(k0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                 / sqrt((CAST(k0 + k1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                        * (1.0 - CAST(k0 + k1 AS DOUBLE)
                                 / CAST(n0 + n1 AS DOUBLE))
                        * (1.0 / CAST(n0 AS DOUBLE)
                           + 1.0 / CAST(n1 AS DOUBLE))), 6)
             ELSE NULL END AS z_pooled
    FROM agg
    """,
)
def ts_two_prop_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test for the variant conversion rates (pooled
    standard error) — the significance readout on top of the per-variant
    Wilson intervals (ts_conversion_wilson): diff = p₁−p₀ and the pooled
    z statistic, from the same one-pass per-user conversion table. All
    counts integer; the z derivation is the identical explicit-double
    expression on both engines."""
    events = load_table(spark, sf_dir, "events")
    per = events.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    ).withColumn("variant", F.col("user_id") % 2)
    agg = per.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(
            F.when(F.col("variant") == 0, F.col("converted")).otherwise(0)
        ).alias("k0"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(
            F.when(F.col("variant") == 1, F.col("converted")).otherwise(0)
        ).alias("k1"),
    )

    def d(c):
        return c.cast("double")

    p0 = d(F.col("k0")) / d(F.col("n0"))
    p1 = d(F.col("k1")) / d(F.col("n1"))
    pp = d(F.col("k0") + F.col("k1")) / d(F.col("n0") + F.col("n1"))
    se = F.sqrt(
        pp * (1.0 - pp) * (1.0 / d(F.col("n0")) + 1.0 / d(F.col("n1")))
    )
    # degenerate pooled rates (all or none converted — sf0.001's 15
    # users all purchase) zero the variance; ANSI 0/0 throws, DuckDB
    # yields NaN — both sides emit NULL instead
    return agg.select(
        "n0", "k0", "n1", "k1",
        F.round(p1 - p0, 6).alias("diff"),
        F.when(
            (pp > 0) & (pp < 1), F.round((p1 - p0) / se, 6)
        ).alias("z_pooled"),
    )


@query(
    "ts_logrank_test",
    oracle="""
    WITH per AS (
      SELECT user_id, user_id % 2 AS grp, min(ts) AS f, max(ts) AS l
      FROM events GROUP BY 1
    ), hz AS (
      SELECT max(ts) - INTERVAL 24 HOUR AS cut FROM events
    ), lives AS (
      SELECT grp,
             (epoch_us(l) - epoch_us(f)) // 3600000000 AS t,
             l > hz.cut AS censored
      FROM per CROSS JOIN hz
    ), cell AS (
      SELECT t, grp,
             CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT)
               AS d,
             CAST(count(*) AS BIGINT) AS leave_here
      FROM lives GROUP BY 1, 2
    ), grid AS (
      SELECT t.t, g.grp,
             coalesce(c.d, 0) AS d,
             coalesce(c.leave_here, 0) AS leave_here
      FROM (SELECT DISTINCT t FROM cell) t
      CROSS JOIN (SELECT 0 AS grp UNION ALL SELECT 1) g
      LEFT JOIN cell c ON c.t = t.t AND c.grp = g.grp
    ), risk AS (
      SELECT t, grp, d,
             CAST(sum(leave_here) OVER (
               PARTITION BY grp ORDER BY t
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
             ) AS BIGINT) AS n_at_risk
      FROM grid
    ), times AS (
      SELECT t,
             CAST(sum(CASE WHEN grp = 1 THEN d ELSE 0 END) AS BIGINT) AS d1,
             CAST(sum(d) AS BIGINT) AS dt,
             CAST(sum(CASE WHEN grp = 1 THEN n_at_risk ELSE 0 END)
                  AS BIGINT) AS n1,
             CAST(sum(n_at_risk) AS BIGINT) AS nt
      FROM risk GROUP BY t
    ), terms AS (
      SELECT t, d1, dt, n1, nt,
             CAST(dt AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE)
               AS e1,
             CASE WHEN nt > 1 THEN
               CAST(dt AS DOUBLE)
               * (CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE))
               * (1.0 - CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE))
               * (CAST(nt - dt AS DOUBLE) / CAST(nt - 1 AS DOUBLE))
             ELSE 0.0 END AS v
      FROM times WHERE dt > 0
    ), cum AS (
      SELECT t,
             CAST(sum(d1) OVER w AS BIGINT) AS o1,
             sum(e1) OVER w AS e1,
             sum(v) OVER w AS v,
             CAST(count(*) OVER w AS BIGINT) AS n_times
      FROM terms
      WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    )
    SELECT o1, round(e1, 6) AS e1,
           round((o1 - e1) * (o1 - e1) / v, 6) AS chi2,
           n_times
    FROM cum ORDER BY t DESC LIMIT 1
    """,
)
def ts_logrank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group log-rank test over user lifetimes (group = user_id % 2,
    the A/B hash): at each death time, observed group-1 deaths vs the
    hypergeometric expectation from the risk sets; χ² = (O₁−E₁)²/V —
    the duration-modeling hypothesis test next to the KM curve
    (ts_survival_km shares the lifetime/censoring construction). Every
    count is integer; E₁ and V accumulate via RUNNING window sums
    ordered by event time (the KM ordered-sum-of-logs precedent), so
    both engines add the identical doubles in the identical order and
    the rounded scalars hash-match."""
    events = load_table(spark, sf_dir, "events")
    # one stream scan: the censoring horizon derives from the per-user
    # table (max over user maxima == global max)
    per = events.groupBy("user_id").agg(
        F.min("ts").alias("f"), F.max("ts").alias("l")
    ).withColumn("grp", F.col("user_id") % 2).localCheckpoint(eager=True)
    hz = per.agg(
        (F.max("l") - F.expr("INTERVAL 24 HOUR")).alias("cut")
    )
    lives = per.join(F.broadcast(hz)).select(
        "grp",
        F.expr("(unix_micros(l) - unix_micros(f)) div 3600000000").alias("t"),
        (F.col("l") > F.col("cut")).alias("censored"),
    )
    cell = lives.groupBy("t", "grp").agg(
        F.sum(F.when(~F.col("censored"), 1).otherwise(0)).alias("d"),
        F.count("*").alias("leave_here"),
    )
    grid = (
        cell.select("t").distinct()
        .crossJoin(spark.range(2).select(F.col("id").cast("long").alias("grp")))
        .join(cell, ["t", "grp"], "left")
        .select(
            "t", "grp",
            F.coalesce("d", F.lit(0)).alias("d"),
            F.coalesce("leave_here", F.lit(0)).alias("leave_here"),
        )
    )
    wrisk = Window.partitionBy("grp").orderBy("t").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    risk = grid.withColumn("n_at_risk", F.sum("leave_here").over(wrisk))
    times = risk.groupBy("t").agg(
        F.sum(F.when(F.col("grp") == 1, F.col("d")).otherwise(0)).alias("d1"),
        F.sum("d").alias("dt"),
        F.sum(
            F.when(F.col("grp") == 1, F.col("n_at_risk")).otherwise(0)
        ).alias("n1"),
        F.sum("n_at_risk").alias("nt"),
    )

    def d(c):
        return c.cast("double")

    e1 = d(F.col("dt")) * d(F.col("n1")) / d(F.col("nt"))
    v = F.when(
        F.col("nt") > 1,
        d(F.col("dt"))
        * (d(F.col("n1")) / d(F.col("nt")))
        * (1.0 - d(F.col("n1")) / d(F.col("nt")))
        * (d(F.col("nt") - F.col("dt")) / d(F.col("nt") - 1)),
    ).otherwise(F.lit(0.0))
    terms = times.filter(F.col("dt") > 0).select(
        "t", "d1", e1.alias("e1"), v.alias("v")
    )
    wc = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = terms.select(
        "t",
        F.sum("d1").over(wc).alias("o1"),
        F.sum("e1").over(wc).alias("e1"),
        F.sum("v").over(wc).alias("v"),
        F.count("*").over(wc).alias("n_times"),
    )
    return (
        cum.orderBy(F.col("t").desc())
        .limit(1)
        .select(
            "o1",
            F.round("e1", 6).alias("e1"),
            F.round((F.col("o1") - F.col("e1")) * (F.col("o1") - F.col("e1")) / F.col("v"), 6).alias("chi2"),
            "n_times",
        )
    )


@query(
    "rel_dq_expectations",
    oracle="""
    WITH rowchecks AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS null_cust,
             CAST(sum(CASE WHEN o_totalprice <= 0 OR o_totalprice > 1000000
                           THEN 1 ELSE 0 END) AS BIGINT) AS bad_price,
             CAST(sum(CASE WHEN o_orderpriority NOT IN
                           ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED',
                            '5-LOW')
                           THEN 1 ELSE 0 END) AS BIGINT) AS bad_priority
      FROM orders
    ), dup AS (
      SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS extra
      FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
      WHERE c > 1
    ), orphan AS (
      SELECT CAST(count(*) AS BIGINT) AS n_orphans
      FROM orders o
      WHERE NOT EXISTS (
        SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey
      )
    )
    SELECT * FROM (
      SELECT 'not_null:o_custkey' AS rule, n AS n_checked,
             null_cust AS n_violations, null_cust = 0 AS pass
      FROM rowchecks
      UNION ALL
      SELECT 'range:o_totalprice', n, bad_price, bad_price = 0
      FROM rowchecks
      UNION ALL
      SELECT 'accepted_values:o_orderpriority', n, bad_priority,
             bad_priority = 0
      FROM rowchecks
      UNION ALL
      SELECT 'unique:o_orderkey', n, dup.extra, dup.extra = 0
      FROM rowchecks CROSS JOIN dup
      UNION ALL
      SELECT 'fk:o_custkey->customer', n, orphan.n_orphans,
             orphan.n_orphans = 0
      FROM rowchecks CROSS JOIN orphan
    )
    """,
)
def rel_dq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation suite over orders — the
    contract-check stage (dbt-test / Great-Expectations shape) a feed
    runs before publishing: NOT NULL, value range, accepted values,
    uniqueness, referential integrity. One summary row per rule with
    checked/violation counts and a pass flag.

    Plan shape: the three ROW-LEVEL rules fuse into a SINGLE conditional
    aggregate (one scan, map-side combined — adding rules is free);
    uniqueness is a key-grouped count and the FK check a broadcast
    ANTI join, each irreducibly its own shuffle. The 5-row result
    assembles with unions over 1-row aggregates. Complements
    rel_fk_audit (which reports the orphan rows; this reports the
    contract verdict)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pri = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    rowchecks = o.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias(
            "null_cust"
        ),
        F.sum(
            F.when(
                (F.col("o_totalprice") <= 0)
                | (F.col("o_totalprice") > 1_000_000),
                1,
            ).otherwise(0)
        ).alias("bad_price"),
        F.sum(
            F.when(~F.col("o_orderpriority").isin(pri), 1).otherwise(0)
        ).alias("bad_priority"),
    )
    dup = (
        o.groupBy("o_orderkey")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).alias("extra"))
    )
    orphan = o.join(
        F.broadcast(c.select("c_custkey")),
        o.o_custkey == F.col("c_custkey"),
        "left_anti",
    ).agg(F.count("*").alias("n_orphans"))

    # ONE combined 1-row frame exploded into the 5 verdict rows: the
    # earlier union-of-five-branches re-planned all three aggregates per
    # branch (audit: 15 orders scans / 5 customer scans; 3 + 1 after —
    # one per irreducible aggregate).
    combined = rowchecks.crossJoin(F.broadcast(dup)).crossJoin(
        F.broadcast(orphan)
    )
    rules = F.array(
        *[
            F.struct(F.lit(name).alias("rule"), viol.alias("n_violations"))
            for name, viol in [
                ("not_null:o_custkey", F.col("null_cust")),
                ("range:o_totalprice", F.col("bad_price")),
                ("accepted_values:o_orderpriority", F.col("bad_priority")),
                ("unique:o_orderkey", F.col("extra")),
                ("fk:o_custkey->customer", F.col("n_orphans")),
            ]
        ]
    )
    return combined.select(
        F.col("n").alias("n_checked"), F.explode(rules).alias("r")
    ).select(
        F.col("r.rule").alias("rule"),
        "n_checked",
        F.col("r.n_violations").alias("n_violations"),
        (F.col("r.n_violations") == 0).alias("pass"),
    )


@query(
    "rel_scd2_pointlookup",
    oracle="""
    WITH dim AS (
      SELECT c_custkey AS k, c_mktsegment AS seg,
             DATE '1990-01-01' AS valid_from,
             CAST(NULL AS DATE) AS valid_to
      FROM customer WHERE c_custkey % 3 <> 0
      UNION ALL
      SELECT c_custkey, c_mktsegment, DATE '1990-01-01', DATE '1996-06-01'
      FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey, 'MOVED', DATE '1996-06-01', CAST(NULL AS DATE)
      FROM customer WHERE c_custkey % 3 = 0
    )
    SELECT d.seg, CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders o
    JOIN dim d ON d.k = o.o_custkey
              AND d.valid_from <= o.o_orderdate
              AND (d.valid_to IS NULL OR o.o_orderdate < d.valid_to)
    GROUP BY 1, 2
    """,
)
def rel_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against a versioned dimension
    (operators.joins.effective_dated_join): revenue by segment AND
    order year where each order sees the segment AS OF its order date —
    every 3rd customer "moves" segment mid-1996, so pre-move orders
    aggregate under the old segment and post-move orders under MOVED;
    joining only the current version would rewrite history. Equi hash
    join on the customer key with the interval predicate as a match
    filter (plan-guarded: no nested loop); the versioned dim broadcasts."""
    cust = load_table(spark, sf_dir, "customer")
    moved = F.col("c_custkey") % 3 == 0
    dim = (
        cust.filter(~moved)
        .select(
            F.col("c_custkey").alias("k"),
            F.col("c_mktsegment").alias("seg"),
            F.to_date(F.lit("1990-01-01")).alias("valid_from"),
            F.lit(None).cast("date").alias("valid_to"),
        )
        .unionByName(
            cust.filter(moved).select(
                F.col("c_custkey").alias("k"),
                F.col("c_mktsegment").alias("seg"),
                F.to_date(F.lit("1990-01-01")).alias("valid_from"),
                F.to_date(F.lit("1996-06-01")).alias("valid_to"),
            )
        )
        .unionByName(
            cust.filter(moved).select(
                F.col("c_custkey").alias("k"),
                F.lit("MOVED").alias("seg"),
                F.to_date(F.lit("1996-06-01")).alias("valid_from"),
                F.lit(None).cast("date").alias("valid_to"),
            )
        )
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.to_date("o_orderdate").alias("od"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    joined = J.effective_dated_join(
        orders, F.broadcast(dim), keys=["k"], ts_col="od"
    )
    return (
        joined.groupBy(
            "seg", F.year("od").cast("int").alias("order_year")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
        )
    )


@query(
    "rel_winsorized_stats",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), cuts AS (
      SELECT o_orderpriority,
             quantile_disc(cents, 0.01) AS p01,
             quantile_disc(cents, 0.99) AS p99
      FROM c GROUP BY 1
    )
    SELECT c.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           any_value(t.p01) AS p01_cents,
           any_value(t.p99) AS p99_cents,
           CAST(sum(least(greatest(c.cents, t.p01), t.p99)) AS BIGINT)
             // CAST(count(*) AS BIGINT) AS winsor_mean_cents,
           CAST(sum(c.cents) AS BIGINT) // CAST(count(*) AS BIGINT)
             AS raw_mean_cents
    FROM c JOIN cuts t ON t.o_orderpriority = c.o_orderpriority
    GROUP BY 1
    """,
)
def rel_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized means per priority: clip prices to the group's exact
    discrete [P1, P99] before averaging — the robust-mean treatment for
    heavy tails (MAD flags outliers, winsorization BOUNDS their
    influence while keeping the rows). Discrete percentiles via the
    rank-selection rewrite (rel_percentile_disc idiom), clipping with
    least/greatest, truncating integer means — exact on both engines.
    The cut table is group-cardinality-sized and broadcasts back."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    w = Window.partitionBy("o_orderpriority").orderBy(F.col("cents").asc())
    wp = Window.partitionBy("o_orderpriority")
    ranked = orders.select("o_orderpriority", cents.alias("cents")).select(
        "o_orderpriority",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wp).alias("n"),
    )
    pick = lambda p: F.max(  # noqa: E731
        F.when(F.col("rn") == F.ceil(F.lit(p) * F.col("n")), F.col("cents"))
    )
    cuts = ranked.groupBy("o_orderpriority").agg(
        pick(0.01).alias("p01"), pick(0.99).alias("p99")
    )
    clipped = F.least(F.greatest(F.col("cents"), F.col("p01")), F.col("p99"))
    return (
        orders.select("o_orderpriority", cents.alias("cents"))
        .join(F.broadcast(cuts), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.first("p01").alias("p01_cents"),
            F.first("p99").alias("p99_cents"),
            F.expr(
                "sum(least(greatest(cents, p01), p99)) div count(*)"
            ).alias("winsor_mean_cents"),
            F.expr("sum(cents) div count(*)").alias("raw_mean_cents"),
        )
    )


@query(
    "ts_top_paths",
    oracle="""
    WITH g AS (
      SELECT event_id, user_id, ts, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess
      FROM g
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY user_id, sess
                                   ORDER BY ts, event_id) AS rn
      FROM s
    ),
    p AS (
      SELECT user_id, sess, string_agg(event_type, '>' ORDER BY rn) AS path
      FROM r WHERE rn <= 3 GROUP BY 1, 2
    ),
    c AS (SELECT path, count(*) AS n_sessions FROM p GROUP BY 1)
    SELECT CAST(row_number() OVER (ORDER BY n_sessions DESC, path ASC)
                AS INTEGER) AS rank,
           path, n_sessions
    FROM c
    QUALIFY rank <= 20
    """,
)
def ts_top_paths_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session-opening paths (operators.timeseries.
    top_session_paths, 30-min gap, first 3 event types): the 'what do
    users do first' readout — sessionization's window passes share one
    user-key exchange, sessions collapse to single path rows before any
    counting, and the final ranking runs over the path vocabulary. The
    oracle replays the gap rule, the ordered string_agg, and the
    (count DESC, path ASC) ranking."""
    return TS.top_session_paths(
        load_table(spark, sf_dir, "events"),
        "user_id", "ts", "event_id", "event_type",
        gap_minutes=30, path_len=3, top_k=20,
    )


@query(
    "rel_key_skew_profile",
    oracle="""
    WITH c AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1
    ),
    s AS (
      SELECT n, row_number() OVER (ORDER BY n ASC) AS rn,
             count(*) OVER () AS nk
      FROM c
    )
    SELECT CAST(max(nk) AS BIGINT) AS n_keys,
           max(n) AS max_cnt,
           max(CASE WHEN rn = CAST(ceil(0.50 * nk) AS BIGINT) THEN n END) AS p50_cnt,
           max(CASE WHEN rn = CAST(ceil(0.90 * nk) AS BIGINT) THEN n END) AS p90_cnt,
           max(CASE WHEN rn = CAST(ceil(0.99 * nk) AS BIGINT) THEN n END) AS p99_cnt,
           round(max(n) * 1.0
                 / max(CASE WHEN rn = CAST(ceil(0.50 * nk) AS BIGINT) THEN n END),
                 4) AS skew_ratio,
           (SELECT min(l_orderkey) FROM c
            WHERE n = (SELECT max(n) FROM c)) AS hot_key
    FROM s
    """,
)
def rel_key_skew_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key SKEW diagnostics — the pre-flight a 100 TB join
    runs before choosing salting vs AQE skew handling: per-key count
    distribution (discrete p50/p90/p99 via the rank-selection idiom —
    value-deterministic under ties), the max, the max/median skew
    ratio, and the hottest key's identity (min key among ties). One
    map-side-combinable count per key, then everything is
    key-cardinality-sized; the percentile pass ranks the COUNT table
    via the two-pass range-exchange form (the key axis is data-sized,
    so the r8 global sort was a funnel — r9 audit; the oracle's
    arbitrary tie order is value-equivalent because rank positions
    inside a tie run all read the same n)."""
    from ..operators.window import distributed_row_number, register_hub

    li = load_table(spark, sf_dir, "lineitem")
    # key-cardinality hub read by the rank pass AND the hot-key probe —
    # persist() so the fact table scans once (round-5 hub policy);
    # registered so release_hubs() drains it (r9 review)
    counts = register_hub(
        li.groupBy("l_orderkey").agg(F.count("*").alias("n")).persist()
    )
    ranked = distributed_row_number(
        counts,
        [F.col("n").asc(), F.col("l_orderkey").asc()],
        out_col="rn",
        count_col="nk",
    )
    pick = lambda p: F.max(  # noqa: E731
        F.when(F.col("rn") == F.ceil(F.lit(p) * F.col("nk")), F.col("n"))
    )
    hot = counts.orderBy(F.col("n").desc(), F.col("l_orderkey").asc()).limit(1)
    stats = ranked.agg(
        F.max("nk").alias("n_keys"),
        F.max("n").alias("max_cnt"),
        pick(0.50).alias("p50_cnt"),
        pick(0.90).alias("p90_cnt"),
        pick(0.99).alias("p99_cnt"),
    )
    return (
        stats.crossJoin(
            F.broadcast(hot.select(F.col("l_orderkey").alias("hot_key")))
        )
        .select(
            "n_keys",
            "max_cnt",
            "p50_cnt",
            "p90_cnt",
            "p99_cnt",
            F.round(F.col("max_cnt") / F.col("p50_cnt"), 4).alias("skew_ratio"),
            "hot_key",
        )
    )


@query(
    "rel_variant_json",
    oracle="""
    SELECT event_type,
           CAST(count(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS n_with_k,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4)
             AS avg_k
    FROM events
    GROUP BY 1
    """,
)
def rel_variant_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT surface: semi-structured props parsed ONCE into
    the binary variant encoding (parse_json), fields extracted with
    typed try_variant_get — the modern engine path for JSON columns
    (O(1) repeated field access vs re-parsing per get_json_object
    call; Parquet variant shredding at rest). try_ keeps malformed
    rows NULL instead of failing the 100 TB job; aggregation is one
    map-side-combinable pass."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.try_variant_get(F.parse_json("props"), "$.k", "bigint").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count("k").alias("n_with_k"),
        F.sum("k").alias("sum_k"),
        F.round(F.avg("k"), 4).alias("avg_k"),
    )


@query(
    "ts_stream_sessionize",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts, event_id,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sess
      FROM g
    ),
    agg AS (
      SELECT user_id, CAST(sess AS BIGINT) AS session_seq,
             min(ts) AS session_start, max(ts) AS session_end,
             CAST(count(*) AS BIGINT) AS n_events
      FROM s GROUP BY 1, 2
    )
    SELECT user_id, session_seq, session_start, session_end, n_events
    FROM (SELECT *, max(session_seq) OVER (PARTITION BY user_id) AS mx
          FROM agg)
    WHERE session_seq < mx
    """,
)
def ts_stream_sessionize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sessionization under the hash oracle
    (streaming.stateful.streaming_sessionize, applyInPandasWithState):
    the events table streams as three time-range micro-batches
    (maxFilesPerTrigger=1, the multibatch harness), per-user session
    state (4 scalars) folds across batches, and a session row is
    emitted only when a later event CLOSES it — so the final table is
    exactly the batch gap-rule sessions minus each user's last
    still-open one, whatever the batch boundaries, which is what the
    oracle replays. Sessions genuinely span micro-batches here (the
    range split cuts mid-session); the >=3-batch assertion keeps the
    entry honest about exercising cross-batch state.

    Source-ordering lesson (round 5): three range files written by ONE
    job share an mtime, and the file source then orders same-mtime files
    NONDETERMINISTICALLY (observed: the middle time-range arriving
    first). An aggregation is arrival-order-insensitive; a session FOLD
    is not. The shared multibatch source therefore carries STRICTLY
    ASCENDING mtimes (``write_replay_source`` stamps part-0000k, the k-th
    ascending ts range, after the one write job) — the same contract a
    Kafka source gives per partition (in-order delivery), replayed
    faithfully by the file source's mtime sort."""
    from ..streaming.events import read_event_stream
    from ..streaming.stateful import streaming_sessionize

    src = _multibatch_events_dir(spark, sf_dir)
    sink = "ts_stream_sessionize_sink"
    sessions = streaming_sessionize(
        read_event_stream(spark, src, glob="*.parquet", max_files_per_trigger=1)
    )
    # floor=8 (r13, r12 verdict #1): the applyInPandasWithState session
    # fold is per-batch COMPUTE-heavy (pandas groupby fold per partition),
    # unlike the state-commit-bound entries the byte rule's floor of 4 was
    # measured on — min 5.6 s at 8 partitions vs 8.7 s at 4 (r12
    # interleaved fresh-JVM A/B, re-verified r13).
    q = run_stream(sessions, sink, floor=8)
    n_batches = len(q.recentProgress)
    assert n_batches >= 3, f"expected >=3 micro-batches, got {n_batches}"
    return spark.table(sink)


_GEO_COORDS_CTE = """
    coords AS (
      SELECT c_custkey,
             -60.0 + 120.0 * ((CAST('0x' || substr(md5('geo-lat:' ||
                CAST(c_custkey AS VARCHAR)), 1, 8) AS BIGINT) + 0.5)
                / 4294967296.0) AS lat,
             -180.0 + 360.0 * ((CAST('0x' || substr(md5('geo-lon:' ||
                CAST(c_custkey AS VARCHAR)), 1, 8) AS BIGINT) + 0.5)
                / 4294967296.0) AS lon
      FROM customer
    )
"""


@query(
    "rel_geo_grid_density",
    oracle=f"""
    WITH {_GEO_COORDS_CTE},
    cells AS (
      -- longitude column wraps modulo 360 (antimeridian-consistent ids,
      -- matching operators.geo.grid_cell's pmod)
      SELECT CAST(floor(lat / 1.0) AS BIGINT) * 721
             + ((CAST(floor(lon / 1.0) AS BIGINT) % 360) + 360) % 360 AS cell,
             count(*) AS n_points
      FROM coords GROUP BY 1
    )
    SELECT CAST(row_number() OVER (ORDER BY n_points DESC, cell ASC)
                AS INTEGER) AS rank,
           cell, n_points
    FROM cells
    QUALIFY rank <= 20
    """,
)
def rel_geo_density_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 densest 1-degree grid cells over md5-synthesized customer
    coordinates (operators.geo.grid_density; the md5-uniform source is
    the rel_dp_noisy_counts determinism idiom — the entry certifies the
    GRID machinery, not a data source). One map-side-combinable count;
    nothing point-sized survives the first aggregate."""
    from ..operators.geo import grid_density, synth_coords

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    return grid_density(synth_coords(cust, "c_custkey"), deg=1.0, top_k=20)


_GEO_QUERIES = [
    (1, 40.7, -74.0),
    (2, 51.5, -0.1),
    (3, -33.9, 151.2),
    (4, 35.7, 139.7),
    (5, 0.0, 0.0),
]


@query(
    "rel_geo_radius_join",
    oracle=f"""
    WITH {_GEO_COORDS_CTE},
    q(query_id, qlat, qlon) AS (VALUES
      (1, 40.7, -74.0), (2, 51.5, -0.1), (3, -33.9, 151.2),
      (4, 35.7, 139.7), (5, 0.0, 0.0)
    ),
    d AS (
      SELECT query_id,
             2 * 6371.0 * asin(sqrt(
               sin(radians(lat - qlat) / 2) * sin(radians(lat - qlat) / 2)
               + cos(radians(qlat)) * cos(radians(lat))
                 * sin(radians(lon - qlon) / 2) * sin(radians(lon - qlon) / 2)
             )) AS km
      FROM coords CROSS JOIN q
    )
    SELECT query_id, CAST(count(*) AS BIGINT) AS n_within,
           round(avg(km), 4) AS avg_km
    FROM d WHERE km <= 500.0
    GROUP BY 1
    """,
)
def rel_geo_radius_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-pruned radius join (operators.geo.radius_join): customers
    within 500 km of five reference points — candidate cells expand
    driver-side and BROADCAST (a few hundred rows per query, widened by
    1/cos(lat) in longitude), the point side joins on its single grid
    cell and only candidates pay the exact haversine. The oracle is the
    BRUTE-FORCE cross join with the identical IEEE distance expression
    — certifying that the grid prune loses nothing (cell coverage is
    complete) while the engine's plan never shuffles the point table.
    The prune-then-verify shape of the LSH/IVF tiers, on geography."""
    from ..operators.geo import radius_join, synth_coords

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    return radius_join(
        synth_coords(cust, "c_custkey"), _GEO_QUERIES, radius_km=500.0
    )


@query(
    "ts_bootstrap_ci",
    oracle="""
    WITH vals AS (
      SELECT event_type AS key,
             CAST(round(value * 100) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY event_type ORDER BY event_id)
               AS rn
      FROM events
    ),
    sizes AS (
      SELECT key, CAST(count(*) AS BIGINT) AS m,
             CAST(sum(cents) AS BIGINT) AS total_cents
      FROM vals GROUP BY 1
    ),
    bs AS (SELECT unnest(generate_series(0, 49)) AS b),
    draws AS (
      SELECT key, m, b, unnest(generate_series(1, m)) AS i
      FROM sizes CROSS JOIN bs
    ),
    picked AS (
      SELECT key, b,
             1 + CAST(floor(
               ((CAST('0x' || substr(md5('bs:' || key || ':'
                  || CAST(b AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 8)
                  AS BIGINT) + 0.5) / 4294967296.0) * m) AS BIGINT) AS rn
      FROM draws
    ),
    rep AS (
      SELECT p.key, p.b, CAST(sum(v.cents) AS BIGINT) AS rep_cents
      FROM picked p JOIN vals v ON v.key = p.key AND v.rn = p.rn
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT key, rep_cents,
             row_number() OVER (PARTITION BY key ORDER BY rep_cents ASC)
               AS rk
      FROM rep
    ),
    picks AS (
      SELECT key,
             max(CASE WHEN rk = 2 THEN rep_cents END) AS lo,
             max(CASE WHEN rk = 49 THEN rep_cents END) AS hi
      FROM ranked GROUP BY 1
    )
    SELECT s.key AS event_type, s.m AS n,
           round(s.total_cents / s.m / 100.0, 4) AS mean_value,
           round(p.lo / s.m / 100.0, 4) AS ci_lo,
           round(p.hi / s.m / 100.0, 4) AS ci_hi
    FROM sizes s JOIN picks p ON p.key = s.key
    """,
)
def ts_bootstrap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap 95% CI of the mean value per event type
    (operators.timeseries.bootstrap_ci_cents, B=50): md5-seeded
    resample indices + integer-cents replicate sums make the whole
    resampling mechanism bit-exact, so the oracle replays bootstrap
    END-TO-END — rank-selected percentile bounds included — rather
    than settling for a rows-only check. The rank selection is
    value-deterministic under replicate-sum ties (the percentile_disc
    argument)."""
    return TS.bootstrap_ci_cents(
        load_table(spark, sf_dir, "events"),
        "event_type", "event_id", "value", n_replicates=50,
    )


@query(
    "ts_sprt_decision",
    oracle="""
    WITH base AS (
      SELECT user_id % 2 AS variant, ts, event_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
      FROM events
    ),
    walked AS (
      SELECT variant,
             row_number() OVER w AS rn,
             sum(x) OVER (PARTITION BY variant ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS s
      FROM base
      WINDOW w AS (PARTITION BY variant ORDER BY ts, event_id)
    ),
    llr AS (
      SELECT variant, rn,
             s * ln(0.22 / 0.18) + (rn - s) * ln(0.78 / 0.82) AS llr
      FROM walked
    ),
    crossings AS (
      SELECT variant,
             min(CASE WHEN llr >= ln(0.95 / 0.05) THEN rn END) AS up_rn,
             min(CASE WHEN llr <= ln(0.05 / 0.95) THEN rn END) AS dn_rn,
             max(rn) AS n_total
      FROM llr GROUP BY 1
    ),
    decided AS (
      SELECT variant,
             CASE WHEN least(coalesce(up_rn, n_total + 1),
                             coalesce(dn_rn, n_total + 1)) > n_total
                  THEN 'continue'
                  WHEN coalesce(up_rn, n_total + 1)
                       <= coalesce(dn_rn, n_total + 1)
                  THEN 'accept_h1'
                  ELSE 'accept_h0' END AS decision,
             least(coalesce(up_rn, n_total + 1),
                   coalesce(dn_rn, n_total + 1), n_total) AS n_at_decision
      FROM crossings
    )
    SELECT d.variant, d.decision, d.n_at_decision, round(l.llr, 6) AS llr
    FROM decided d
    JOIN llr l ON l.variant = d.variant AND l.rn = d.n_at_decision
    """,
)
def ts_sprt_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT over the purchase-rate stream per variant (user_id
    parity split; H0 p=0.18 vs H1 p=0.22, alpha=beta=0.05): the
    sequential-testing complement to the fixed-horizon readouts
    (ts_two_proportion_test, ts_ab_cuped). Each row's LLR comes from
    integer prefix counts in ONE expression — no float accumulation —
    so the first boundary-crossing row is drift-proof; the oracle
    replays the walk, both boundaries, and the decision rule."""
    return TS.sprt_first_decision(
        load_table(spark, sf_dir, "events"),
        (F.col("user_id") % 2),
        F.col("event_type") == "purchase",
        "ts", "event_id",
    )


@query(
    "rel_label_propagation",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM items a
      JOIN items b ON a.l_orderkey = b.l_orderkey
                  AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    sym AS (
      SELECT pa AS a, pb AS b FROM pairs
      UNION SELECT pb AS a, pa AS b FROM pairs
    ),
    l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM sym),
    n1 AS (SELECT s.a AS node, l.lbl, count(*) AS c
           FROM sym s JOIN l0 l ON l.node = s.b GROUP BY 1, 2),
    l1 AS (SELECT node, lbl FROM (
             SELECT node, lbl,
                    row_number() OVER (PARTITION BY node
                                       ORDER BY c DESC, lbl ASC) AS rk
             FROM n1) WHERE rk = 1),
    n2 AS (SELECT s.a AS node, l.lbl, count(*) AS c
           FROM sym s JOIN l1 l ON l.node = s.b GROUP BY 1, 2),
    l2 AS (SELECT node, lbl FROM (
             SELECT node, lbl,
                    row_number() OVER (PARTITION BY node
                                       ORDER BY c DESC, lbl ASC) AS rk
             FROM n2) WHERE rk = 1),
    n3 AS (SELECT s.a AS node, l.lbl, count(*) AS c
           FROM sym s JOIN l2 l ON l.node = s.b GROUP BY 1, 2),
    l3 AS (SELECT node, lbl FROM (
             SELECT node, lbl,
                    row_number() OVER (PARTITION BY node
                                       ORDER BY c DESC, lbl ASC) AS rk
             FROM n3) WHERE rk = 1)
    SELECT node, lbl AS label FROM l3
    """,
)
def rel_lpa_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the co-purchase graph
    (operators.graph.label_propagation_unrolled, 3 synchronous rounds,
    min-label tie-break): the deterministic LPA variant — a pure
    function of the edge set, so the oracle replays all three rounds
    (count-mode + tie-break per node) exactly. Completes the graph
    family: connected components (dedup clusters), PageRank
    (influence), LPA (communities), triangle stats (density)."""
    from ..operators.graph import label_propagation_unrolled

    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = items.select(
        F.col("l_orderkey").alias("__ok"), F.col("l_partkey").alias("pb")
    )
    edges = (
        a.join(b, (a.l_orderkey == b.__ok) & (F.col("pa") < F.col("pb")))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
    )
    return label_propagation_unrolled(edges, "pa", "pb", iterations=3)


@query(
    "ts_funnel_windowed",
    oracle="""
    WITH u AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t0
      FROM events GROUP BY 1
    ),
    s1 AS (
      SELECT e.user_id, min(e.ts) AS t1
      FROM events e JOIN u ON u.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts >= u.t0
        AND e.ts <= u.t0 + INTERVAL 24 HOUR
      GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s1.t1
        AND e.ts <= s1.t1 + INTERVAL 24 HOUR
      GROUP BY 1
    )
    SELECT * FROM (
      SELECT CAST(0 AS BIGINT) AS stage_idx, 'view' AS stage,
             (SELECT CAST(count(t0) AS BIGINT) FROM u) AS n_users
      UNION ALL
      SELECT 1, 'click', (SELECT CAST(count(*) AS BIGINT) FROM s1)
      UNION ALL
      SELECT 2, 'purchase', (SELECT CAST(count(*) AS BIGINT) FROM s2)
    )
    """,
)
def ts_funnel_windowed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded view->click->purchase funnel (24h per hop;
    operators.timeseries.funnel_stages_windowed): each stage must land
    within a day of the previous qualifying event — the conversion-
    window semantics product analytics actually reports. Same one-scan
    one-shuffle plan as the order-only funnel."""
    return TS.funnel_stages_windowed(
        load_table(spark, sf_dir, "events"),
        "user_id", "event_type", "ts", ["view", "click", "purchase"],
        within="24 hours",
    )


@query(
    "rel_fifo_cost_basis",
    oracle="""
    WITH b AS (
      SELECT l_partkey AS k,
             CAST(round(l_quantity) AS BIGINT) AS q,
             CAST(round(l_extendedprice * 100
                        / CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
               AS unit,
             sum(CAST(round(l_quantity) AS BIGINT))
               OVER (PARTITION BY l_partkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber
                     ROWS UNBOUNDED PRECEDING) AS e
      FROM lineitem WHERE l_returnflag = 'N'
    ),
    b2 AS (SELECT k, q, unit, e, e - q AS s FROM b),
    r AS (
      SELECT l_partkey AS k,
             CAST(round(l_quantity) AS BIGINT) AS q,
             CAST(round(l_extendedprice * 100
                        / CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
               AS unit,
             sum(CAST(round(l_quantity) AS BIGINT))
               OVER (PARTITION BY l_partkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber
                     ROWS UNBOUNDED PRECEDING) AS e
      FROM lineitem WHERE l_returnflag = 'R'
    ),
    r2 AS (SELECT k, q, unit, e, e - q AS s FROM r),
    m AS (
      SELECT b2.k,
             least(b2.e, r2.e) - greatest(b2.s, r2.s) AS mq,
             b2.unit AS bu, r2.unit AS su
      FROM b2 JOIN r2 ON r2.k = b2.k AND b2.s < r2.e AND r2.s < b2.e
      WHERE least(b2.e, r2.e) - greatest(b2.s, r2.s) > 0
    )
    SELECT k AS l_partkey,
           CAST(sum(mq) AS BIGINT) AS matched_qty,
           CAST(sum(mq * bu) AS BIGINT) AS cost_cents,
           CAST(sum(mq * su) AS BIGINT) AS proceeds_cents
    FROM m GROUP BY 1
    """,
)
def rel_fifo_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO lot matching per part (operators.joins.fifo_match): returned
    units ('R' lines) consume the oldest kept inflows ('N' lines) in
    ship order — realized cost basis and proceeds in exact integer
    cents. The procedural per-key walk becomes a cumulative-interval
    overlap join: two window cumsums + one per-key range join whose
    fanout is lots-per-key; everything integer, hash-exact. The
    inventory/cost-basis pattern warehouses usually punt to UDFs."""
    from ..operators.joins import fifo_match

    li = load_table(spark, sf_dir, "lineitem")
    qty = F.round(F.col("l_quantity")).cast("bigint")
    unit = F.round(
        F.col("l_extendedprice") * 100 / F.round(F.col("l_quantity")).cast("bigint")
    ).cast("bigint")
    base = li.select(
        "l_partkey", "l_shipdate", "l_orderkey", "l_linenumber",
        "l_returnflag", qty.alias("qty"), unit.alias("unit_cents"),
    )
    buys = base.filter(F.col("l_returnflag") == "N").drop("l_returnflag")
    sells = base.filter(F.col("l_returnflag") == "R").drop("l_returnflag")
    m = fifo_match(
        buys, sells, "l_partkey", "qty",
        ["l_shipdate", "l_orderkey", "l_linenumber"],
    )
    return m.groupBy("l_partkey").agg(
        F.sum("matched_qty").alias("matched_qty"),
        F.sum(F.col("matched_qty") * F.col("b_unit_cents")).alias("cost_cents"),
        F.sum(F.col("matched_qty") * F.col("s_unit_cents")).alias(
            "proceeds_cents"
        ),
    )


@query(
    "rel_histogram_quantiles",
    oracle="""
    WITH c AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 10000 AS bin
      FROM orders
    ),
    h AS (SELECT bin, count(*) AS n FROM c GROUP BY 1),
    cum AS (
      SELECT bin, n,
             sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cn,
             sum(n) OVER () AS total
      FROM h
    )
    SELECT p,
           CAST(min(CASE WHEN cn >= ceil(p * total) THEN (bin + 1) * 10000 END)
                AS BIGINT) AS est_upper_cents,
           CAST(max(total) AS BIGINT) AS n
    FROM cum CROSS JOIN (SELECT unnest(CAST([0.5, 0.9, 0.99] AS DOUBLE[])) AS p)
    GROUP BY p
    """,
)
def rel_hist_quantiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE equi-width histogram quantile sketch — the fourth
    sketch tier next to KMV (distinct), HLL (distinct rollup), and CMS
    (frequency): fixed $100 bins over order totals, one combinable
    count per bin; any two shards' sketches merge by adding bin counts,
    and quantile estimates read off the cumulative histogram with error
    bounded by ONE BIN WIDTH (pytest-pinned vs the exact percentile).
    Unlike percentile_approx's opaque internal buffer this sketch is a
    plain table — persistable, mergeable across days, oracle-exact.
    Estimates are the bin's UPPER edge: a deterministic integer, and a
    guaranteed overestimate within +width."""
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    width = 10000
    hist = (
        load_table(spark, sf_dir, "orders")
        .select((F.floor(cents / width)).cast("bigint").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bin",
        F.sum("n").over(w).alias("cn"),
        F.sum("n").over(Window.partitionBy()).alias("total"),
    )
    ps = F.explode(F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))).alias("p")
    return (
        cum.crossJoin(spark.range(1).select(ps).select("p"))
        .groupBy("p")
        .agg(
            F.min(
                F.when(
                    F.col("cn") >= F.ceil(F.col("p") * F.col("total")),
                    (F.col("bin") + 1) * width,
                )
            ).alias("est_upper_cents"),
            F.max("total").alias("n"),
        )
    )


@query(
    "rel_asof_nearest",
    oracle="""
    WITH c AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, ts AS pts FROM events WHERE event_type = 'purchase'
    ),
    bk AS (
      SELECT c.event_id, max(p.pts) AS bts
      FROM c JOIN p ON p.user_id = c.user_id AND p.pts <= c.ts
      GROUP BY 1
    ),
    fw AS (
      SELECT c.event_id, min(p.pts) AS fts
      FROM c JOIN p ON p.user_id = c.user_id AND p.pts > c.ts
      GROUP BY 1
    ),
    m AS (
      SELECT c.user_id, c.event_id, c.ts, bk.bts, fw.fts
      FROM c LEFT JOIN bk ON bk.event_id = c.event_id
             LEFT JOIN fw ON fw.event_id = c.event_id
    )
    SELECT user_id, event_id, ts,
           CASE WHEN fts IS NULL THEN bts
                WHEN bts IS NULL THEN fts
                WHEN epoch_us(ts) - epoch_us(bts)
                     <= epoch_us(fts) - epoch_us(ts) THEN bts
                ELSE fts END AS ts_near,
           CASE WHEN bts IS NULL AND fts IS NULL THEN NULL
                WHEN fts IS NULL THEN 'backward'
                WHEN bts IS NULL THEN 'forward'
                WHEN epoch_us(ts) - epoch_us(bts)
                     <= epoch_us(fts) - epoch_us(ts) THEN 'backward'
                ELSE 'forward' END AS direction,
           abs(epoch_us(CASE WHEN fts IS NULL THEN bts
                WHEN bts IS NULL THEN fts
                WHEN epoch_us(ts) - epoch_us(bts)
                     <= epoch_us(fts) - epoch_us(ts) THEN bts
                ELSE fts END) - epoch_us(ts)) AS delta_us
    FROM m
    """,
)
def rel_asof_nearest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (operators.joins.nearest_asof_join): each
    click matched to its temporally closest purchase by the same user,
    either direction, backward on ties — pandas merge_asof
    direction='nearest' semantics, which the backward-only rel_asof_join
    can't express. Both directional candidates come out of ONE shuffle
    and one sort (backward = last-ignorenulls over the preceding frame,
    forward = first-ignorenulls over the following frame in the same
    window ordering); the oracle replays both candidates and the
    tie rule."""
    from ..operators.joins import nearest_asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    out = nearest_asof_join(
        clicks, purchases, ["user_id"], "ts", "ts", [], suffix="_near"
    )
    return out.select(
        "user_id",
        "event_id",
        "ts",
        "ts_near",
        "direction",
        F.abs(
            F.unix_micros("ts_near") - F.unix_micros("ts")
        ).alias("delta_us"),
    )


@query("rows_stream_late_drops")
def rows_stream_late_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA contract audit, driver-visible: the events
    table replays as three micro-batches arranged so batch 3 is
    entirely late — batch 1 is the first half by time, batch 2 jumps to
    the final quarter (advancing the watermark ~a week past batch 3's
    range), batch 3 delivers the skipped quarter, far older than
    watermark − delay.

    MEASURED Spark 4.1 contract (this entry pins it): those late rows
    are NOT dropped — numRowsDroppedByWatermark stays 0 and the
    late-range windows are aggregated and emitted when they arrive
    (their state was never created, so nothing contradicts append
    mode's emit-once rule). The watermark bounds STATE EVICTION, not
    input admission: a window finalized and evicted earlier would
    reject updates, but a never-seen old window is accepted late. The
    practical consequence for a 100 TB pipeline is the point of the
    audit: do not treat the watermark as a correctness filter on
    late data — a downstream consumer can still receive very old
    windows, and exactly-late-row accounting needs an explicit
    ts-vs-watermark filter if the pipeline requires it. Rows-only by
    nature (runtime metrics); the contract is pytest-pinned so a Spark
    upgrade that changes admission semantics fails loudly here.

    Output: one row (n_batches, planted_late_rows,
    dropped_by_watermark_metric, late_range_windows_emitted,
    total_emitted)."""
    import json

    from ..streaming.events import read_event_stream, windowed_counts

    events = load_table(spark, sf_dir, "events")
    lo, hi = events.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).first()
    span = (hi - lo) / 4
    cuts = [lo + 2 * span, lo + 3 * span]
    late = (F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])
    order = [F.col("ts") < cuts[0], F.col("ts") >= cuts[1], late]  # 3rd: LATE
    src = write_replay_source(
        scratch_dir(spark, sf_dir, "stream_late"),
        [events.filter(pred).coalesce(1) for pred in order],
    )
    planted = events.filter(late).count()
    sink = "rows_stream_late_sink"
    stream = windowed_counts(
        read_event_stream(spark, src, glob="*.parquet", max_files_per_trigger=1),
        watermark="1 hour",
    )
    q = run_stream(stream, sink)
    dropped = 0
    for p in q.recentProgress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        for op in d.get("stateOperators", []):
            dropped += op.get("numRowsDroppedByWatermark", 0)
    out = spark.table(sink)
    late_emitted = out.filter(
        (F.col("window_start") >= cuts[0]) & (F.col("window_start") < cuts[1])
    ).count()
    return spark.createDataFrame(
        [(len(q.recentProgress), planted, dropped, late_emitted, out.count())],
        "n_batches long, planted_late_rows long, "
        "dropped_by_watermark_metric long, late_range_windows_emitted long, "
        "total_emitted long",
    )


@query(
    "ts_power_sample_size",
    oracle="""
    WITH v AS (
      SELECT user_id % 2 AS variant,
             CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
                                      THEN user_id END) AS BIGINT) AS conv,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT max(CASE WHEN variant = 0 THEN conv * 1.0 / n END) AS pa,
             max(CASE WHEN variant = 0 THEN n END) AS na,
             max(CASE WHEN variant = 1 THEN conv * 1.0 / n END) AS pb,
             max(CASE WHEN variant = 1 THEN n END) AS nb
      FROM v
    )
    SELECT round(pa, 6) AS p_a, round(pb, 6) AS p_b,
           round(pb - pa, 6) AS delta,
           CAST(CASE WHEN pb = pa THEN NULL ELSE
             ceil(power(1.959963985 + 0.8416212336, 2)
                  * (pa * (1 - pa) + pb * (1 - pb))
                  / power(pb - pa, 2)) END AS BIGINT) AS n_required_per_arm,
           least(na, nb) AS n_available_per_arm,
           CASE WHEN pb = pa THEN FALSE ELSE
             least(na, nb) >= ceil(power(1.959963985 + 0.8416212336, 2)
                  * (pa * (1 - pa) + pb * (1 - pb))
                  / power(pb - pa, 2)) END AS adequately_powered
    FROM w
    """,
)
def ts_power_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B sample-size / power check: given the observed per-variant
    user-level conversion rates, the two-proportion formula
    n = (z_{alpha/2} + z_beta)^2 (p_a q_a + p_b q_b) / (p_b - p_a)^2
    (alpha=0.05 two-sided, power=0.80; z constants as literals so both
    engines evaluate the identical expression) says how many users per
    arm a FUTURE test needs to detect the observed delta — and whether
    the current sample already clears it. Completes the experiment-
    design family (Wilson intervals, z-test, CUPED, SPRT): this is the
    pre-registration readout. One distinct-user aggregate per variant;
    everything downstream is a 1-row projection. NULL-safe on a zero
    delta (infinite n has no finite answer — NULL, not overflow)."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.groupBy((F.col("user_id") % 2).alias("variant")).agg(
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("conv"),
        F.countDistinct("user_id").alias("n"),
    )
    w = v.agg(
        F.max(F.when(F.col("variant") == 0, F.col("conv") / F.col("n"))).alias("pa"),
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("na"),
        F.max(F.when(F.col("variant") == 1, F.col("conv") / F.col("n"))).alias("pb"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("nb"),
    )
    z = 1.959963985 + 0.8416212336
    n_req = F.ceil(
        F.pow(F.lit(z), 2)
        * (F.col("pa") * (1 - F.col("pa")) + F.col("pb") * (1 - F.col("pb")))
        / F.pow(F.col("pb") - F.col("pa"), 2)
    )
    avail = F.least("na", "nb")
    return w.select(
        F.round("pa", 6).alias("p_a"),
        F.round("pb", 6).alias("p_b"),
        F.round(F.col("pb") - F.col("pa"), 6).alias("delta"),
        F.when(F.col("pb") == F.col("pa"), F.lit(None))
        .otherwise(n_req)
        .cast("bigint")
        .alias("n_required_per_arm"),
        avail.alias("n_available_per_arm"),
        F.when(F.col("pb") == F.col("pa"), F.lit(False))
        .otherwise(avail >= n_req)
        .alias("adequately_powered"),
    )


@query(
    "ts_seasonal_anomalies",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket_start,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS actual_fp
      FROM events GROUP BY 1, 2
    ), base AS (
      SELECT event_type, CAST(hour(bucket_start) AS INTEGER) AS hod,
             CAST(SUM(actual_fp) AS BIGINT) AS tot,
             CAST(count(*) AS BIGINT) AS n
      FROM hourly GROUP BY 1, 2
    ), resid AS (
      SELECT h.event_type, h.bucket_start,
             h.actual_fp - b.tot // b.n AS resid_fp
      FROM hourly h
      JOIN base b ON b.event_type = h.event_type
                 AND b.hod = CAST(hour(h.bucket_start) AS INTEGER)
    ), med AS (
      SELECT event_type, quantile_disc(resid_fp, 0.5) AS med_fp
      FROM resid GROUP BY 1
    ), mad AS (
      SELECT r.event_type,
             quantile_disc(abs(r.resid_fp - m.med_fp), 0.5) AS mad_fp
      FROM resid r JOIN med m ON m.event_type = r.event_type
      GROUP BY 1
    )
    SELECT r.event_type, r.bucket_start, r.resid_fp, m.med_fp, d.mad_fp
    FROM resid r
    JOIN med m ON m.event_type = r.event_type
    JOIN mad d ON d.event_type = r.event_type
    WHERE d.mad_fp > 0
      AND abs(r.resid_fp - m.med_fp) > 3 * d.mad_fp
    """,
)
def ts_seasonal_anom_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deseasonalized robust anomaly gate — the composition the seasonal
    baseline exists for: hour-of-day-adjusted residuals (integer fixed-
    point, ts_seasonal_baseline's exact form) gated by a per-type
    median ± 3×MAD rule (rank-selection discrete medians — value-
    deterministic under ties, the percentile_disc idiom). A raw z-score
    flags every midnight; a MAD on raw values flags every peak hour;
    this flags hours that are anomalous FOR their hour-of-day, robustly.
    Residual/median/MAD tables are all type- or type×24-cardinality;
    the stream shuffles once into the hourly aggregate."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.window("ts", "1 hour")["start"].alias("bucket_start")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("actual_fp"))
    base = hourly.groupBy(
        "event_type", F.hour("bucket_start").alias("hod")
    ).agg(F.expr("sum(actual_fp) div count(*)").alias("baseline_fp"))
    resid = hourly.join(
        F.broadcast(
            base.select(
                F.col("event_type").alias("__et"), "hod", "baseline_fp"
            )
        ),
        (F.col("event_type") == F.col("__et"))
        & (F.hour("bucket_start") == F.col("hod")),
    ).select(
        "event_type",
        "bucket_start",
        (F.col("actual_fp") - F.col("baseline_fp")).alias("resid_fp"),
    )
    # Materialize the residual table ONCE: it is calendar-grid-bounded
    # (event types × hours in the time range — grows with elapsed time,
    # never with row volume) but its lineage is the full corpus hourly
    # aggregate, and the median, MAD, and final gate each re-derived it —
    # EIGHT events scans in the executed plan (r11 scan audit, the
    # largest genuine rescanner left after the hub pins).
    resid = resid.localCheckpoint(eager=True)

    def disc_median(df, col, out):
        w = Window.partitionBy("event_type").orderBy(F.col(col).asc())
        wp = Window.partitionBy("event_type")
        ranked = df.select(
            "event_type",
            F.col(col),
            F.row_number().over(w).alias("rn"),
            F.count("*").over(wp).alias("n"),
        )
        return ranked.groupBy("event_type").agg(
            F.max(
                F.when(
                    F.col("rn") == F.ceil(0.5 * F.col("n")), F.col(col)
                )
            ).alias(out)
        )

    med = disc_median(resid, "resid_fp", "med_fp")
    absdev = resid.join(med, "event_type").select(
        "event_type", F.abs(F.col("resid_fp") - F.col("med_fp")).alias("ad")
    )
    mad = disc_median(absdev, "ad", "mad_fp")
    return (
        resid.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .filter(
            (F.col("mad_fp") > 0)
            & (F.abs(F.col("resid_fp") - F.col("med_fp")) > 3 * F.col("mad_fp"))
        )
        .select("event_type", "bucket_start", "resid_fp", "med_fp", "mad_fp")
    )


# ---------------------------------------------------------------------------
# §2 tests-only rows promoted to hash-certified driver entries (r10, VERDICT
# r9 task 5): S1/S2 CSV round-trip + PERMISSIVE parity, P1-P3/P14 projection
# pipeline, R3 seeded-split invariants, S3/S4 collection→table, S6 driver
# fetch. Each was previously covered only by pytest; these entries convert
# the last "tests-only" cells of the §2 coverage table into oracle rows.
# ---------------------------------------------------------------------------


@query(
    "rel_csv_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def rel_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S2 CSV round-trip (read_csv explicit schema / write_csv,
    data-understanding.py:42-43 + performance_py sink shape): write nation
    as headered CSV, read it back with an EXPLICIT schema (no inferSchema
    pass), certify value-identity against the parquet-derived oracle.
    Comment column excluded so the payload is delimiter-clean — quoting
    parity has its own entry (rel_csv_permissive)."""
    from pyspark.sql import types as T

    from ..sources import io as IO

    out = scratch_dir(spark, sf_dir, "csv_rt")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    IO.write_csv(nation, out)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return IO.read_csv(spark, out, schema=schema)


@query(
    "rel_csv_permissive",
    oracle="""
    SELECT CAST(count(*) + 1 AS BIGINT) AS n_rows,
           CAST(1 AS BIGINT) AS n_bad,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum
    FROM nation
    """,
)
def rel_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 PERMISSIVE-mode parity (read_csv error tolerance, the reference's
    messy-CSV posture, data-understanding.py:42-43): serialize nation as
    headerless CSV lines PLUS one planted malformed record, read back with
    an explicit schema in PERMISSIVE mode, and certify that (a) every line
    lands as a row, (b) exactly the malformed record parses to NULL, and
    (c) the parsed values are undamaged (key checksum). DROPMALFORMED /
    FAILFAST variants are pytest-covered (test_io)."""
    from pyspark.sql import types as T

    from ..sources import io as IO

    out = scratch_dir(spark, sf_dir, "csv_perm")
    nation = load_table(spark, sf_dir, "nation")
    lines = nation.select(
        F.concat_ws(",", F.col("n_name"), F.col("n_nationkey")).alias("value")
    ).unionAll(spark.createDataFrame([("BADROW,not_an_int",)], "value string"))
    lines.write.mode("overwrite").text(out)
    schema = T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("key", T.IntegerType()),
        ]
    )
    parsed = IO.read_csv(spark, out, schema=schema, header=False)
    return parsed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("key").isNull().cast("long")).alias("n_bad"),
        F.sum("key").alias("key_sum"),
    )


@query(
    "rel_projection_pipeline",
    oracle="""
    SELECT c_custkey, c_mktsegment AS segment, c_nationkey
    FROM customer
    ORDER BY c_custkey
    LIMIT 10
    """,
)
def rel_projection_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2 prune-by-exclusion + P3 explicit reorder + P14 rename
    (data-viz&cleaning.py:69-71, data-understanding.py:78-79), certified
    end-to-end: drop the wide columns, reorder the survivors, rename, and
    take a keyed top-10 (O3) so the projected VALUES are hash-checked,
    not just the schema. Scan-level column pruning for this shape is
    pinned in tests/test_plan_shapes.py."""
    customer = load_table(spark, sf_dir, "customer")
    pruned = C.drop_columns(customer, ["c_name", "c_acctbal"])  # P1/P2
    reordered = C.select_columns(pruned, ["c_custkey", "c_mktsegment", "c_nationkey"])
    renamed = C.rename(reordered, {"c_mktsegment": "segment"})  # P14
    return O.top_k(renamed, [F.col("c_custkey").asc()], 10)


@query(
    "rel_seeded_split_invariants",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_total,
           true AS conserved,
           true AS deterministic,
           true AS disjoint
    FROM orders
    """,
)
def rel_seeded_split_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3 always-seeded randomSplit (sample.random_split; the reference's
    UNSEEDED 80/20 split at price-prediction.py:195 is unreproducible by
    construction — our engine requires the seed). Spark's per-partition
    Bernoulli assignment is not replayable in DuckDB, so the oracle
    certifies the INVARIANTS that make a seeded split trustworthy:
    row conservation (|train|+|test| = |input|), determinism (re-running
    the same seeded split selects the identical row set), and disjointness
    (no key lands in both sides). The scalar probes are four bounded
    counts; the result re-enters Spark as an explicit-schema collection
    table (S4 shape)."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    train, test = R.random_split(orders, [0.8, 0.2], seed=42)
    train = train.persist()
    test = test.persist()
    try:
        n_total = orders.count()
        n_train, n_test = train.count(), test.count()
        train2, _ = R.random_split(orders, [0.8, 0.2], seed=42)
        n_replay = train.join(train2, "o_orderkey", "left_semi").count()
        n_overlap = train.join(test, "o_orderkey", "left_semi").count()
    finally:
        train.unpersist()
        test.unpersist()
    return spark.createDataFrame(
        [
            (
                n_total,
                n_train + n_test == n_total,
                n_replay == n_train,
                n_overlap == 0,
            )
        ],
        "n_total long, conserved boolean, deterministic boolean, disjoint boolean",
    )


@query(
    "rel_collection_dim_join",
    oracle="""
    WITH dim AS (
        SELECT * FROM (VALUES (0, 'alpha'), (1, 'beta'), (2, 'alpha'),
                              (3, 'gamma'), (4, 'beta')) AS t(r_key, zone)
    )
    SELECT zone,
           count(*) AS n_nations,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum
    FROM nation JOIN dim ON n_regionkey = r_key
    GROUP BY zone
    """,
)
def rel_collection_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S4 collection→table with an EXPLICIT StructType (the reference's
    metrics-table shape, price-prediction.py:518-527) used the way a real
    pipeline uses one — as a broadcast dimension: a 5-row driver-side
    zone map joins against nation with an explicit broadcast hint (no
    shuffle on the fact side; plan shape pinned in tests)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("r_key", T.IntegerType(), False),
            T.StructField("zone", T.StringType(), False),
        ]
    )
    dim = spark.createDataFrame(
        [(0, "alpha"), (1, "beta"), (2, "alpha"), (3, "gamma"), (4, "beta")],
        schema,
    )
    nation = load_table(spark, sf_dir, "nation")
    return (
        nation.join(F.broadcast(dim), nation["n_regionkey"] == dim["r_key"])
        .groupBy("zone")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.sum("n_nationkey").alias("key_sum"),
        )
    )


@query(
    "rel_driver_fetch_topk",
    oracle="""
    SELECT n_nationkey, n_name FROM nation
    ORDER BY n_nationkey
    LIMIT 5
    """,
)
def rel_driver_fetch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 driver fetch (sources.io.fetch_rows = take/collect;
    data-understanding.py:92,229) certified round-trip: a bounded take(5)
    over a keyed sort leaves the cluster, then re-enters as a
    collection-backed DataFrame (S3, schema inherited from the fetched
    Rows) whose values the oracle hash-checks. The limit-less collect()
    form stays test-only by design — certifying it would reward the
    anti-pattern."""
    from ..sources import io as IO

    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rows = IO.fetch_rows(nation.orderBy(F.col("n_nationkey").asc()), limit=5)
    return spark.createDataFrame(rows, schema="n_nationkey int, n_name string")


@query(
    "rel_grouped_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                 OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / 100.0, 2) AS running_spend
    FROM orders
    """,
)
def rel_grouped_running_sum_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running spend via operators.window.
    grouped_running_sums — the HOT-KEY-NEUTRAL grouped prefix sum (r12):
    one range exchange on (custkey, orderdate, orderkey); a customer
    holding half the fact table would span many contiguous buckets
    instead of funneling through one hash partition, with only the
    (bucket, key)-grain combinable aggregate feeding the per-key offset
    window. Bit-identical to the plain
    ``sum() OVER (PARTITION BY ... ROWS UNBOUNDED PRECEDING)`` the
    oracle replays. Integer-cents accumulation (the rel_textfile_logparse
    idiom): bigint prefix sums are exactly associative, so the two-pass
    partial + offset addition cannot drift from DuckDB's sequential
    window sum at any scale."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("__cents"),
    )
    out = W.grouped_running_sums(
        o,
        ["o_custkey"],
        [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
        ["__cents"],
        ["__rs"],
    )
    return out.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("__rs") / 100.0, 2).alias("running_spend"),
    )


@query(
    "ts_stream_anomaly_scalable",
    oracle="""
    WITH c AS (
      SELECT user_id, event_id, round(value * 100) AS value_cents FROM events
    ),
    m AS (
      SELECT user_id, event_id, value_cents,
             avg(value_cents) OVER (PARTITION BY user_id ORDER BY event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING)
               AS running_mean_cents
      FROM c
    )
    SELECT user_id, event_id, value_cents,
           round(running_mean_cents, 4) AS running_mean_cents,
           coalesce(value_cents > 3.0 * running_mean_cents, false) AS flagged
    FROM m
    """,
)
def ts_stream_anomaly_scalable_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ts_stream_stateful_anomaly semantics WITHOUT the per-key
    Python fold (streaming.stateful.running_anomaly_flags_scalable,
    r12): foreachBatch computes each event's mean-before as
    (carried per-user state + within-batch exclusive prefix from
    grouped_running_sums), appends flags to parquet, and merges the
    combinable (n, total) state via the atomic-marker merge_upsert —
    the shape the r11 100× hot-key probe prescribed (27.9s vs 119.4s
    at a 50% hot key; docs/SCALING.md r12). Same integer-cents contract
    and the SAME oracle as the fold entry: one certified semantics, two
    engine strategies — per-key recurrence when state does not merge,
    combinable decomposition when it does."""
    import os

    from ..streaming.events import read_event_stream
    from ..streaming.stateful import running_anomaly_flags_scalable

    base = scratch_dir(spark, sf_dir, "anom_scal", fresh=("state", "out", "ck"))
    cents = read_event_stream(spark, sf_dir).withColumn(
        "value", F.round(F.col("value") * 100)
    )
    running_anomaly_flags_scalable(
        cents,
        state_dir=os.path.join(base, "state"),
        out_dir=os.path.join(base, "out"),
        checkpoint=os.path.join(base, "ck"),
        query_name="ts_anom_scal",
    )
    return spark.read.parquet(os.path.join(base, "out")).select(
        "user_id",
        "event_id",
        F.col("value").alias("value_cents"),
        F.round("running_mean", 4).alias("running_mean_cents"),
        "flagged",
    )


@query(
    "ts_sessionize_scalable",
    oracle="""
    WITH g AS (
      SELECT event_id, user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id, ts,
           CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS session_seq
    FROM g
    """,
)
def ts_sessionize_scalable_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ts_sessionize through the HOT-KEY-NEUTRAL decomposition
    (operators.timeseries.sessionize_scalable, r12): per-user lag via
    grouped_lag, session numbering via grouped_running_sums — no
    partitionBy(user) window anywhere, so a user holding half the
    stream spans many range buckets instead of one task. Same oracle as
    ts_sessionize: one certified semantics, two engine strategies (the
    window form stays the default below the skew cliff)."""
    return TS.sessionize_scalable(
        load_table(spark, sf_dir, "events"), "user_id", "ts", "event_id",
        gap_minutes=30,
    )
