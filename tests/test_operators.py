"""Unit tests for operator modules on tiny in-memory DataFrames
(SURVEY.md §5.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from usedcars_bigdata_spark.operators import agg as A
from usedcars_bigdata_spark.operators import clean as C
from usedcars_bigdata_spark.operators import derive as D
from usedcars_bigdata_spark.operators import sample as R
from usedcars_bigdata_spark.operators import setops as S
from usedcars_bigdata_spark.operators import window as W
from usedcars_bigdata_spark.sources import load_table


@pytest.fixture(scope="module")
def tiny(spark):
    return spark.createDataFrame(
        [
            (1, "a", 10.0, "x"),
            (2, "a", 20.0, None),
            (3, "b", 30.0, "y"),
            (4, "b", 40.0, "y"),
            (5, "c", None, "z"),
        ],
        "id long, k string, v double, tag string",
    )


def test_clean_family(tiny):
    assert C.drop_columns(tiny, ["tag"]).columns == ["id", "k", "v"]
    assert C.filter_range(tiny, "v", lo=15, hi=35).count() == 2
    assert C.filter_range(tiny, "v", lo=20, lo_open=True).count() == 2
    assert C.filter_isin(tiny, "k", ["a"]).count() == 2
    assert C.filter_isin(tiny, "k", ["a"], negate=True).count() == 3
    assert C.filter_not_null(tiny, "v", "tag").count() == 3
    assert C.drop_nulls(tiny).count() == 3
    assert C.rename(tiny, {"v": "value"}).columns == ["id", "k", "value", "tag"]
    casted = C.cast_columns(tiny, {"v": "int"})
    assert dict(casted.dtypes)["v"] == "int"


def test_dedupe_deterministic_keeps_first(spark):
    df = spark.createDataFrame(
        [(9, "a"), (1, "a"), (5, "a"), (2, "b")], "id long, k string"
    )
    got = {r["k"]: r["id"] for r in C.dedupe_deterministic(df, ["k"], ["id"]).collect()}
    assert got == {"a": 1, "b": 2}


def test_like_any(tiny):
    pred = C.like_any(F.col("k"), ["%a%", "%c%"])
    assert tiny.filter(pred).count() == 3
    assert tiny.filter(~pred).count() == 2


def test_percent_of_total_forms_agree(tiny):
    counts = A.grouped_counts(tiny, ["k"])
    w = {r["k"]: r["percentage"] for r in A.percent_of_total(counts, "count").collect()}
    c = {
        r["k"]: r["percentage"]
        for r in A.percent_of_total_collected(counts, "count").collect()
    }
    assert w == c == {"a": 40.0, "b": 40.0, "c": 20.0}


def test_median_exact_vs_approx(spark):
    df = spark.createDataFrame([(float(i),) for i in range(1, 101)], "x double")
    exact = df.agg(A.median_exact("x").alias("m")).first()["m"]
    assert exact == 50.5
    approx = df.agg(A.median_approx("x").alias("m")).first()["m"]
    assert 49 <= approx <= 52


def test_window_family(tiny):
    ranked = W.with_rank_ops(tiny, ["k"], [F.col("v").desc_nulls_last()], value_col="v")
    a_rows = {r["id"]: r for r in ranked.filter(F.col("k") == "a").collect()}
    assert a_rows[2]["row_num"] == 1 and a_rows[1]["row_num"] == 2
    assert a_rows[2]["prev_value"] is None and a_rows[2]["next_value"] == 10.0

    run = W.running_agg(tiny.filter(F.col("v").isNotNull()), ["k"], [F.col("id")], "v")
    b = {r["id"]: r["running_sum"] for r in run.filter(F.col("k") == "b").collect()}
    assert b == {3: 30.0, 4: 70.0}

    topk = W.top_k_per_group(tiny, ["k"], [F.col("v").desc_nulls_last()], 1)
    assert sorted(r["id"] for r in topk.collect()) == [2, 4, 5]


def test_distributed_global_window_forms_match(spark):
    """distributed_row_number / global_ntile / global_running_sum must be
    bit-identical to their single-partition window forms on a fixture
    with heavy ties, across pathological bucket counts."""
    from pyspark.sql import Window

    from usedcars_bigdata_spark.operators.window import (
        distributed_row_number,
        global_ntile,
        global_running_sum,
    )

    rows = [(i, (i * 37) % 13, (i * 53) % 5 + 1) for i in range(1, 501)]
    df = spark.createDataFrame(rows, "id long, a long, v long")
    order = [F.col("a").desc(), F.col("id").asc()]
    w = Window.orderBy(*order)
    wanted = {
        r.id: (r.rn, r.t, r.cs)
        for r in df.select(
            "id",
            F.row_number().over(w).alias("rn"),
            F.ntile(7).over(w).alias("t"),
            F.sum("v")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("cs"),
        ).collect()
    }
    for nb in (2, 32):
        rn = {
            r.id: r.rn
            for r in distributed_row_number(df, order, "rn", nb).collect()
        }
        t = {r.id: r.t for r in global_ntile(df, order, 7, "t", nb).collect()}
        cs = {
            r.id: r.cs
            for r in global_running_sum(
                df, order, "v", out_col="cs", n_buckets=nb
            ).collect()
        }
        for i, (wrn, wt, wcs) in wanted.items():
            assert rn[i] == wrn and t[i] == wt and cs[i] == wcs, (nb, i)
    # total_col equals the grand sum
    tot = (
        global_running_sum(df, order, "v", out_col="cs", total_col="tot")
        .select("tot")
        .first()
        .tot
    )
    assert tot == sum(r[2] for r in rows)


def test_two_pass_null_order_keys_match_window_form(spark):
    """NULLs in the ORDER columns: the range partitioner and the
    in-bucket window must agree on NULL placement for the two-pass
    forms to stay bit-identical (the value-column NULL case was the r9
    rankstats ADVICE fix; this pins the order-key side, in both the
    default asc-nulls-first and explicit desc_nulls_last orderings)."""
    from pyspark.sql import Window

    from usedcars_bigdata_spark.operators.window import (
        distributed_row_number,
        global_running_sum,
        release_hubs,
    )

    rows = [
        (i, None if i % 7 == 0 else (i * 37) % 13, i % 5 + 1)
        for i in range(1, 201)
    ]
    df = spark.createDataFrame(rows, "id long, a int, v long")
    for order in (
        [F.col("a").desc_nulls_last(), F.col("id").asc()],
        [F.col("a").asc(), F.col("id").asc()],  # default: nulls first
    ):
        w = Window.orderBy(*order)
        want = {
            r.id: (r.rn, r.cs)
            for r in df.select(
                "id",
                F.row_number().over(w).alias("rn"),
                F.sum("v")
                .over(w.rowsBetween(Window.unboundedPreceding, 0))
                .alias("cs"),
            ).collect()
        }
        for nb in (2, 32):
            rn = {
                r.id: r.rn
                for r in distributed_row_number(df, order, "rn", nb).collect()
            }
            cs = {
                r.id: r.cs
                for r in global_running_sum(
                    df, order, "v", out_col="cs", n_buckets=nb
                ).collect()
            }
            assert {i: (rn[i], cs[i]) for i in rn} == want, nb
    release_hubs()


def test_global_running_sums_arity_contract(spark):
    import pytest

    from usedcars_bigdata_spark.operators.window import global_running_sums

    df = spark.createDataFrame([(1, 2, 3)], "id long, a long, b long")
    with pytest.raises(ValueError, match="one output per value column"):
        global_running_sums(df, [F.col("id")], ["a", "b"], ["ca"])
    with pytest.raises(ValueError, match="totals must align"):
        global_running_sums(
            df, [F.col("id")], ["a"], ["ca"], totals=["ta", "tb"]
        )


def test_two_pass_reserved_name_collisions_raise(spark):
    """A caller column named like a two-pass internal would make the
    offset join ambiguous; a requested output named like one would be
    silently swallowed by the final drop(). Both must fail loudly
    (r9 review finding)."""
    import pytest

    from usedcars_bigdata_spark.operators.window import (
        distributed_row_number,
        global_ntile,
        global_running_sums,
    )

    clean = spark.createDataFrame([(1, 2)], "id long, v long")
    tainted = spark.createDataFrame([(1, 2)], "id long, __n_total long")
    with pytest.raises(ValueError, match="input columns collide"):
        distributed_row_number(tainted, [F.col("id")], "rn")
    with pytest.raises(ValueError, match="output names collide"):
        distributed_row_number(clean, [F.col("id")], "rn", count_col="__n_total")
    with pytest.raises(ValueError, match="output names collide"):
        global_ntile(clean, [F.col("id")], 4, "__grn")
    with pytest.raises(ValueError, match="input columns collide"):
        global_running_sums(
            spark.createDataFrame([(1, 2)], "id long, __off_0 long"),
            [F.col("id")],
            ["id"],
            ["cs"],
        )


def test_two_pass_hubs_register_and_release(spark):
    """The two-pass operators persist bucket hubs through the
    CacheManager (never GC-released); every call must register its hub
    so release_hubs() can return the storage memory (r9 ADVICE fix).
    count_col must carry the global N from the bucket-count side."""
    from usedcars_bigdata_spark.operators import window as W2

    W2.release_hubs()  # drain anything earlier tests left behind
    df = spark.createDataFrame([(i, i % 3) for i in range(40)], "id long, v long")
    order = [F.col("id").asc()]
    out = W2.distributed_row_number(df, order, "rn", count_col="n_total")
    rows = out.collect()
    assert all(r.n_total == 40 for r in rows)
    assert len(W2._PERSISTED_HUBS) == 1
    cs = W2.global_running_sum(df, order, "v", out_col="cs").collect()
    assert len(cs) == 40
    assert len(W2._PERSISTED_HUBS) == 2
    assert W2.release_hubs() == 2
    assert not W2._PERSISTED_HUBS
    # global_ntile derives N via count_col — exactly ONE hub per call,
    # not the r8 two-pass-per-call shape
    W2.global_ntile(df, order, 4, "q").collect()
    assert len(W2._PERSISTED_HUBS) == 1
    assert W2.release_hubs() == 1


def test_entry_scope_cleans_up_after_a_raising_body(spark):
    """entry_scope restores the shuffle conf, drains the hub registry and
    empties the CacheManager on exit, also when the body raises, and the
    body's own exception is the one that propagates."""
    from usedcars_bigdata_spark.operators import window as W2

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError, match="entry failed"):
        with W2.entry_scope(spark):
            spark.conf.set("spark.sql.shuffle.partitions", "3")
            W2.register_hub(spark.range(10).persist()).count()
            assert not spark._jsparkSession.sharedState().cacheManager().isEmpty()
            raise RuntimeError("entry failed")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert not W2._PERSISTED_HUBS
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_entry_scope_keeps_the_body_error_when_cleanup_fails():
    """With a dead session every cleanup step raises: each is still
    tried, in order, and the body's exception is the one that
    propagates, not a secondary one from cleanup."""
    from types import SimpleNamespace

    from usedcars_bigdata_spark.operators import window as W2

    tried = []

    def dead(step):
        def call(*_):
            tried.append(step)
            raise RuntimeError("session stopped")

        return call

    spark = SimpleNamespace(
        conf=SimpleNamespace(get=lambda _key: "8", set=dead("conf")),
        catalog=SimpleNamespace(clearCache=dead("clearCache")),
    )
    W2.register_hub(SimpleNamespace(unpersist=dead("unpersist")))
    with pytest.raises(ValueError, match="entry failed"):
        with W2.entry_scope(spark):
            raise ValueError("entry failed")
    assert tried == ["conf", "unpersist", "clearCache"]
    assert not W2._PERSISTED_HUBS


def test_global_row_number_and_zip_index(tiny):
    g = W.global_row_number(tiny, [F.col("id").desc()])
    assert [r["id"] for r in g.orderBy("row_num").collect()] == [5, 4, 3, 2, 1]
    z = W.zip_index(tiny)
    idx = sorted(r["index"] for r in z.collect())
    assert idx == [0, 1, 2, 3, 4]  # contiguous, unlike monotonically_increasing_id


def test_monotonic_index_properties(tiny):
    out = D.add_monotonic_index(tiny).collect()
    ids = [r["index"] for r in out]
    assert len(set(ids)) == len(ids)


def test_setops(spark):
    a = spark.createDataFrame([(1,), (1,), (2,), (3,)], "x long")
    b = spark.createDataFrame([(1,), (4,)], "x long")
    assert S.union_all(a, b).count() == 6
    assert sorted(r["x"] for r in S.union_distinct(a, b).collect()) == [1, 2, 3, 4]
    assert sorted(r["x"] for r in S.intersect(a, b).collect()) == [1]
    assert sorted(r["x"] for r in S.except_distinct(a, b).collect()) == [2, 3]
    assert sorted(r["x"] for r in S.except_all(a, b).collect()) == [1, 2, 3]


def test_when_chain_order_matters(spark):
    df = spark.createDataFrame([("ab",), ("a",), ("c",)], "s string")
    col = D.when_chain(
        [(F.col("s").contains("a"), "has_a"), (F.col("s").contains("b"), "has_b")],
        "none",
    )
    got = {r["s"]: r["g"] for r in df.withColumn("g", col).collect()}
    assert got == {"ab": "has_a", "a": "has_a", "c": "none"}


def test_categorize_by_keywords_null_default(spark):
    df = spark.createDataFrame([("has kw",), (None,)], "t string")
    col = D.categorize_by_keywords("t", [("hit", ["kw"])], "default")
    got = [r["c"] for r in df.withColumn("c", col).collect()]
    assert got == ["hit", "default"]


def test_sample_bounds_and_determinism(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    n = events.count()
    s1 = R.bernoulli_sample(events, 0.2, seed=42)
    s2 = R.bernoulli_sample(events, 0.2, seed=42)
    c1 = s1.count()
    assert c1 == s2.count()  # seeded → deterministic
    assert 0.1 * n < c1 < 0.3 * n
    splits = R.random_split(events, [0.5, 0.5], seed=1)
    assert sum(s.count() for s in splits) == n


def test_estimate_size_forms(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    fast = R.estimate_size_mb(docs)
    exact = R.estimate_size_mb_exact(docs)
    assert fast > 0 and exact > 0
    assert 0.3 < fast / exact < 3.0


def test_grouped_agg_and_distinct(tiny):
    out = A.grouped_agg(
        tiny, ["k"], [F.count("*").alias("n"), F.max("v").alias("mx")]
    )
    got = {r["k"]: (r["n"], r["mx"]) for r in out.collect()}
    assert got == {"a": (2, 20.0), "b": (2, 40.0), "c": (1, None)}
    cd = A.count_distinct_agg(tiny, [], ["k", "tag"]).first()
    assert cd["n_k"] == 3 and cd["n_tag"] == 3
    ad = A.approx_distinct_agg(tiny, [], ["k"]).first()
    assert ad["approx_n_k"] == 3


def test_partitioning_ops(spark, sf_dir, tmp_path):
    from usedcars_bigdata_spark.operators import partitioning as P

    orders = load_table(spark, sf_dir, "orders")
    s = P.salted(orders, "o_custkey", 16)
    vals = [r["__salt"] for r in s.select("__salt").distinct().collect()]
    assert all(0 <= v < 16 for v in vals)

    spark.sql(f"CREATE DATABASE IF NOT EXISTS tdb LOCATION '{tmp_path}/wh'")
    spark.catalog.setCurrentDatabase("tdb")
    P.bucketed_write(
        orders, "orders_bkt", 4, ["o_custkey"], sort_cols=["o_orderdate"],
        path=str(tmp_path / "orders_bkt"),
    )
    back = spark.table("orders_bkt")
    assert back.count() == orders.count()
    # bucketed self-join on the bucket key plans no exchange on either side
    j = back.alias("a").join(back.alias("b"), "o_custkey")
    j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(o_custkey" not in plan
    spark.catalog.setCurrentDatabase("default")


def test_zip_index_does_not_mutate_input_schema(tiny):
    before = [f.name for f in tiny.schema.fields]
    W.zip_index(tiny)
    after = [f.name for f in tiny.schema.fields]
    assert before == after  # regression: StructType.add() mutated df.schema
    # and a second call must still work
    z2 = W.zip_index(tiny)
    assert sorted(r["index"] for r in z2.collect()) == [0, 1, 2, 3, 4]


def test_asof_join_matches_pandas_merge_asof(spark):
    """asof_join vs pandas merge_asof on randomized keyed time series."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(7)
    left = pd.DataFrame({
        "key": rng.randint(0, 5, 80),
        "lts": rng.randint(0, 1000, 80).astype("int64"),
        "lval": np.arange(80, dtype="int64"),
    }).sort_values("lts").reset_index(drop=True)
    right = pd.DataFrame({
        "key": rng.randint(0, 5, 40),
        "rts": rng.randint(0, 1000, 40).astype("int64"),
        "rval": np.arange(40, dtype="int64") * 10,
    }).sort_values("rts").reset_index(drop=True)

    from usedcars_bigdata_spark.operators.joins import asof_join

    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)
    got = {
        (r["key"], r["lts"], r["lval"]): r["rval_asof"]
        for r in asof_join(
            ldf, rdf, keys=["key"], left_ts="lts", right_ts="rts",
            value_cols=["rval"],
        ).collect()
    }
    want_df = pd.merge_asof(
        left, right, left_on="lts", right_on="rts", by="key",
        direction="backward", allow_exact_matches=True,
    )
    for _, row in want_df.iterrows():
        w = None if pd.isna(row["rval"]) else int(row["rval"])
        g = got[(row["key"], row["lts"], row["lval"])]
        # duplicate right timestamps per key make the match ambiguous in
        # both engines; skip those (none with this seed, guarded anyway)
        assert g == w, (row["key"], row["lts"], g, w)


def test_interval_join_matches_naive_nonequi(spark, sf_dir):
    """Banded interval_join vs the naive non-equi join, row-for-row —
    including overlapping intervals (one value in several bands) and
    values outside every band (dropped)."""
    from usedcars_bigdata_spark.operators import joins as J

    vals = spark.createDataFrame(
        [(float(v),) for v in [0, 50, 100, 149, 150, 151, 300, 999, 1000, 5000]],
        "v DOUBLE",
    )
    bands = spark.createDataFrame(
        [(1, 0, 150), (2, 100, 300), (3, 280, 900)], "band_id INT, lo INT, hi INT"
    )
    banded = J.interval_join(vals, "v", bands, "lo", "hi", bucket_width=100)
    naive = vals.join(
        bands, (F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi"))
    )
    key = lambda r: (r["v"], r["band_id"])
    assert sorted(map(key, banded.collect())) == sorted(map(key, naive.collect()))
    # overlap: v=149 matches bands 1 and 2; out-of-range: 999/1000/5000 drop
    got = sorted(r["band_id"] for r in banded.filter(F.col("v") == 149).collect())
    assert got == [1, 2]
    assert banded.filter(F.col("v") >= 999).count() == 0


def test_merge_upsert_semantics(spark):
    """Update-wins, insert-new, pass-through, and NULL-setting updates (the
    case coalesce-based merges get wrong)."""
    from usedcars_bigdata_spark.operators import joins as J

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k INT, s STRING, x DOUBLE"
    )
    updates = spark.createDataFrame(
        [(2, "B", None), (9, "new", 90.0)], "k INT, s STRING, x DOUBLE"
    )
    out = {r["k"]: (r["s"], r["x"]) for r in J.merge_upsert(base, updates, ["k"]).collect()}
    assert out == {
        1: ("a", 10.0),       # pass-through
        2: ("B", None),       # update wins, NULL honored (not coalesced away)
        3: ("c", 30.0),       # pass-through
        9: ("new", 90.0),     # insert
    }


def test_geomean_udaf_matches_native(spark, sf_dir):
    """GROUPED_AGG pandas UDAF vs the native exp(avg(ln)) rewrite — same
    values to float tolerance on the real orders table."""
    from usedcars_bigdata_spark.functions.grouped import geomean, geomean_native

    orders = load_table(spark, sf_dir, "orders")
    udaf = {
        r["o_orderpriority"]: r["g"]
        for r in orders.groupBy("o_orderpriority").agg(geomean("o_totalprice").alias("g")).collect()
    }
    native = {
        r["o_orderpriority"]: r["g"]
        for r in orders.groupBy("o_orderpriority").agg(geomean_native("o_totalprice").alias("g")).collect()
    }
    assert udaf.keys() == native.keys()
    for k in udaf:
        assert abs(udaf[k] - native[k]) / native[k] < 1e-9


def test_resample_gap_fill_dense_and_conserving(spark, sf_dir):
    from usedcars_bigdata_spark.operators.timeseries import resample_gap_fill
    from usedcars_bigdata_spark.sources import load_table
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events")
    out = resample_gap_fill(events, "ts", "event_type", "value")
    n_keys = events.select("event_type").distinct().count()
    span = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    ).first()
    n_buckets = int((span["hi"] - span["lo"]).total_seconds() // 3600) + 1
    assert out.count() == n_keys * n_buckets  # dense by construction
    # aggregate conservation: every event lands in exactly one bucket
    assert out.agg(F.sum("n_events")).first()[0] == events.count()
    # gap rows are genuinely zero-filled, not null
    gaps = out.filter(F.col("n_events") == 0)
    assert gaps.filter(F.col("sum_value").isNull()).count() == 0


def test_resample_gap_fill_non_default_steps(spark, sf_dir):
    # the round-3 ADVICE defect: the grid axis was hour-truncated while
    # buckets honored `step`, so non-hour steps misaligned and silently
    # DROPPED real buckets through the left join. Conservation (every
    # event counted exactly once) now must hold for every step.
    from usedcars_bigdata_spark.operators.timeseries import resample_gap_fill
    from usedcars_bigdata_spark.sources import load_table
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events")
    n_total = events.count()
    for step in ("1 day", "30 minutes", "6 hours"):
        out = resample_gap_fill(events, "ts", "event_type", "value", step=step)
        assert out.agg(F.sum("n_events")).first()[0] == n_total, step
        # grid points coincide with the aggregate's window starts: every
        # non-empty bucket in the output matches a direct window aggregate
        direct = (
            events.groupBy(
                F.col("event_type").alias("k"),
                F.window("ts", step)["start"].alias("b"),
            )
            .agg(F.count("*").alias("n"))
        )
        joined = out.filter(F.col("n_events") > 0).join(
            direct,
            (F.col("event_type") == F.col("k"))
            & (F.col("bucket_start") == F.col("b"))
            & (F.col("n_events") == F.col("n")),
        )
        assert joined.count() == direct.count(), step


def test_sessionize_fractional_second_boundary(spark):
    # ADVICE r3: gaps within 1s of the boundary must compare at full
    # microsecond precision, not second-truncated longs
    from usedcars_bigdata_spark.operators.timeseries import sessionize
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0, 500_000)
    rows = [
        (1, "u", t0),
        # gap = 1800.3s > 1800s -> NEW session (truncation would say 1800)
        (2, "u", t0 + dt.timedelta(seconds=1800, microseconds=300_000)),
        # gap exactly 1800.0s -> same session (not strictly greater)
        (3, "u", t0 + dt.timedelta(seconds=3600, microseconds=300_000)),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id string, ts timestamp")
    got = {
        r["event_id"]: r["session_seq"]
        for r in sessionize(df, "user_id", "ts", "event_id", gap_minutes=30).collect()
    }
    assert got == {1: 1, 2: 2, 3: 2}


def test_zscore_outliers_matches_manual(spark):
    from usedcars_bigdata_spark.operators.timeseries import zscore_outliers

    import statistics

    vals = [1.0, 1.1, 0.9, 1.05, 0.95, 50.0]  # one wild outlier
    rows = [(i, "a", v) for i, v in enumerate(vals)] + [(99, "b", 7.0)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    got = zscore_outliers(df, "event_type", "value", "event_id", threshold=2.0).collect()
    # group b is constant-free but single-valued: stddev_samp undefined -> no rows
    assert all(r["event_type"] == "a" for r in got)
    m, sd = statistics.mean(vals), statistics.stdev(vals)
    expect = {i for i, v in enumerate(vals) if abs((v - m) / sd) >= 2.0}
    assert {r["event_id"] for r in got} == expect


def test_approx_count_distinct_error_bound(spark, sf_dir):
    from usedcars_bigdata_spark.plans import QUERIES

    approx = {
        r["l_returnflag"]: r
        for r in QUERIES["rel_approx_count_distinct"](spark, sf_dir).collect()
    }
    exact = {
        r["l_returnflag"]: r
        for r in QUERIES["rel_count_distinct"](spark, sf_dir).collect()
    }
    assert set(approx) == set(exact)
    for flag, e in exact.items():
        for c in ["n_l_orderkey", "n_l_partkey", "n_l_suppkey"]:
            rel = abs(approx[flag][c] - e[c]) / max(e[c], 1)
            assert rel <= 0.08, (flag, c, approx[flag][c], e[c])


def test_funnel_stages_golden(spark):
    from usedcars_bigdata_spark.operators.timeseries import funnel_stages

    # u1 completes the funnel in order; u2 clicked BEFORE viewing (click
    # must not count); u3 only views.
    rows = [
        (1, "view", "2024-01-01 10:00:00"),
        (1, "click", "2024-01-01 11:00:00"),
        (1, "purchase", "2024-01-02 09:00:00"),
        (2, "click", "2024-01-01 08:00:00"),
        (2, "view", "2024-01-01 09:00:00"),
        (3, "view", "2024-01-01 12:00:00"),
    ]
    df = spark.createDataFrame(
        [(u, t, ts) for u, t, ts in rows],
        "user_id long, event_type string, ts_s string",
    ).selectExpr("user_id", "event_type", "CAST(ts_s AS TIMESTAMP) AS ts")
    got = {
        r["stage"]: r["n_users"]
        for r in funnel_stages(df, "user_id", "event_type", "ts",
                               ["view", "click", "purchase"]).collect()
    }
    assert got == {"view": 3, "click": 1, "purchase": 1}


def test_cohort_retention_conserves_users(spark, sf_dir):
    from usedcars_bigdata_spark.operators.timeseries import cohort_retention
    from usedcars_bigdata_spark.sources import load_table
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events")
    ret = cohort_retention(events, "user_id", "ts")
    # offset-0 row of each cohort counts exactly the cohort's members
    week0 = {
        r["cohort_week"]: r["n_users"]
        for r in ret.filter(F.col("week_offset") == 0).collect()
    }
    cohort_sizes = {
        r["cohort_week"]: r["n"]
        for r in events.groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
        .groupBy("cohort_week")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert week0 == cohort_sizes
    assert ret.filter(F.col("week_offset") < 0).count() == 0


def test_sessionize_golden(spark):
    from usedcars_bigdata_spark.operators.timeseries import sessionize

    rows = [
        (1, 7, "2024-01-01 10:00:00"),
        (2, 7, "2024-01-01 10:10:00"),  # 10 min -> same session
        (3, 7, "2024-01-01 11:00:00"),  # 50 min -> new session
        (4, 7, "2024-01-01 11:29:00"),  # 29 min -> same session
        (5, 8, "2024-01-01 10:00:00"),  # other user starts at 1
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_s string"
    ).selectExpr("event_id", "user_id", "CAST(ts_s AS TIMESTAMP) AS ts")
    got = {
        r["event_id"]: r["session_seq"]
        for r in sessionize(df, "user_id", "ts", "event_id", gap_minutes=30).collect()
    }
    assert got == {1: 1, 2: 1, 3: 2, 4: 2, 5: 1}


def test_freq_items_no_false_negatives(spark, sf_dir):
    from usedcars_bigdata_spark.plans import QUERIES
    from usedcars_bigdata_spark.sources import load_table
    from pyspark.sql import functions as F

    row = QUERIES["rel_freq_items"](spark, sf_dir).first()
    orders = load_table(spark, sf_dir, "orders")
    n = orders.count()
    # every status with true frequency > 30% must be present
    truly_heavy = {
        r["o_orderstatus"]
        for r in orders.groupBy("o_orderstatus").count().collect()
        if r["count"] / n > 0.3
    }
    assert truly_heavy <= set(row["status_heavy"])


def test_ohlc_resample_golden(spark):
    from usedcars_bigdata_spark.operators.timeseries import ohlc_resample
    import datetime as dt

    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)
    rows = [
        (1, "a", t0 + dt.timedelta(minutes=5), 10.0),
        (2, "a", t0 + dt.timedelta(minutes=20), 50.0),
        (3, "a", t0 + dt.timedelta(minutes=40), 2.0),
        (4, "a", t0 + dt.timedelta(minutes=55), 30.0),
        (5, "a", t0 + dt.timedelta(minutes=70), 7.0),  # next hour
        (6, "b", t0 + dt.timedelta(minutes=10), 4.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double"
    )
    got = {
        (r["event_type"], r["bucket_start"].hour): r
        for r in ohlc_resample(df, "ts", "event_type", "value", "event_id").collect()
    }
    bar = got[("a", 10)]
    assert (bar["open"], bar["high"], bar["low"], bar["close"]) == (10.0, 50.0, 2.0, 30.0)
    assert bar["n_events"] == 4
    assert got[("a", 11)]["open"] == got[("a", 11)]["close"] == 7.0
    assert got[("b", 10)]["n_events"] == 1


def test_ohlc_tie_break_deterministic(spark):
    # two events at the SAME timestamp: the lower event_id is "first"
    from usedcars_bigdata_spark.operators.timeseries import ohlc_resample
    import datetime as dt

    t = dt.datetime(2024, 3, 1, 10, 30, 0)
    df = spark.createDataFrame(
        [(2, "a", t, 99.0), (1, "a", t, 11.0)],
        "event_id long, event_type string, ts timestamp, value double",
    )
    bar = ohlc_resample(df, "ts", "event_type", "value", "event_id").first()
    assert bar["open"] == 11.0 and bar["close"] == 99.0


def test_ewma_smooth_matches_recurrence(spark):
    from usedcars_bigdata_spark.operators.timeseries import ewma_smooth
    import datetime as dt

    t0 = dt.datetime(2024, 3, 1)
    vals = [10.0, 20.0, 5.0, 40.0]
    rows = [(i, 7, t0 + dt.timedelta(minutes=i), v) for i, v in enumerate(vals)]
    rows.append((99, 8, t0, 3.0))  # second key: single point -> ewma = value
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    out = {
        r["event_id"]: r["ewma"]
        for r in ewma_smooth(df, "user_id", "ts", "event_id", "value", alpha=0.3).collect()
    }
    # manual adjust=False recurrence: y0 = x0; y_i = 0.3 x_i + 0.7 y_{i-1}
    y = vals[0]
    expect = [y]
    for v in vals[1:]:
        y = 0.3 * v + 0.7 * y
        expect.append(y)
    for i, e in enumerate(expect):
        assert abs(out[i] - round(e, 6)) < 1e-9
    assert out[99] == 3.0


def test_ewma_smooth_carry_across_arrow_batches(spark):
    """The sorted-partition mapInPandas form carries per-key state across
    Arrow batch boundaries. Force 10-row batches over a 64-row series so a
    single key's series straddles several batches, and pin the output to
    the sequential recurrence — if the carry seeding were wrong, every
    batch after the first would restart at y_0 = x_0."""
    from usedcars_bigdata_spark.operators.timeseries import ewma_smooth
    import datetime as dt

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10")
    try:
        t0 = dt.datetime(2024, 3, 1)
        vals = [float((i * 37) % 101) for i in range(64)]
        rows = [
            (i, 7, t0 + dt.timedelta(minutes=i), v) for i, v in enumerate(vals)
        ]
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, value double"
        ).coalesce(1)
        out = {
            r["event_id"]: r["ewma"]
            for r in ewma_smooth(
                df, "user_id", "ts", "event_id", "value", alpha=0.3
            ).collect()
        }
        y = vals[0]
        for i, v in enumerate(vals):
            if i:
                y = 0.3 * v + 0.7 * y
            assert abs(out[i] - round(y, 6)) < 1e-9, f"diverged at {i}"
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_holt_trend_matches_recurrence(spark):
    from usedcars_bigdata_spark.operators.timeseries import holt_trend
    import datetime as dt

    t0 = dt.datetime(2024, 3, 1)
    vals = [10.0, 20.0, 5.0, 40.0, 12.5]
    rows = [(i, 7, t0 + dt.timedelta(minutes=i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    got = {
        r["event_id"]: (r["level"], r["trend"], r["rn"])
        for r in holt_trend(
            df, "user_id", "ts", "event_id", "value", alpha=0.5, beta=0.5
        ).collect()
    }
    lv, tr = vals[0], 0.0
    assert got[0] == (lv, tr, 1)
    for i, x in enumerate(vals[1:], start=1):
        new_lv = 0.5 * x + 0.5 * (lv + tr)
        tr = 0.5 * (new_lv - lv) + 0.5 * tr
        lv = new_lv
        assert got[i] == (lv, tr, i + 1), f"diverged at {i}"


def test_scd2_merge_semantics(spark):
    from usedcars_bigdata_spark.operators.joins import scd2_merge
    import datetime as dt

    d0 = dt.date(2020, 1, 1)
    eff = dt.date(2023, 6, 1)
    dim = spark.createDataFrame(
        [
            # key 1: history + current (current seg 'b')
            (1, "a", d0, dt.date(2021, 1, 1), False),
            (1, "b", dt.date(2021, 1, 1), None, True),
            # key 2: current only
            (2, "x", d0, None, True),
            # key 3: current only, will be untouched (no update row)
            (3, "z", d0, None, True),
        ],
        "k long, seg string, valid_from date, valid_to date, is_current boolean",
    )
    upd = spark.createDataFrame(
        [
            (1, "c", eff),   # changed -> close 'b', open 'c'
            (2, "x", eff),   # identical -> no-op
            (9, "n", eff),   # new key -> insert
        ],
        "k long, seg string, eff date",
    )
    out = scd2_merge(dim, upd, ["k"], ["seg"], "eff")
    rows = {(r["k"], r["seg"]): r for r in out.collect()}
    assert len(rows) == 6
    assert rows[(1, "a")]["is_current"] is False          # history untouched
    closed = rows[(1, "b")]
    assert closed["is_current"] is False and closed["valid_to"] == eff
    opened = rows[(1, "c")]
    assert opened["is_current"] is True and opened["valid_from"] == eff
    assert opened["valid_to"] is None
    assert rows[(2, "x")]["is_current"] is True           # no spurious version
    assert rows[(2, "x")]["valid_from"] == d0
    assert rows[(3, "z")]["is_current"] is True           # untouched key
    assert rows[(9, "n")]["valid_from"] == eff            # brand-new key


def test_scd2_merge_null_safe_attr_change(spark):
    from usedcars_bigdata_spark.operators.joins import scd2_merge
    import datetime as dt

    d0, eff = dt.date(2020, 1, 1), dt.date(2023, 6, 1)
    dim = spark.createDataFrame(
        [(1, None, d0, None, True), (2, "v", d0, None, True)],
        "k long, seg string, valid_from date, valid_to date, is_current boolean",
    )
    upd = spark.createDataFrame(
        [(1, "now_set", eff), (2, None, eff)],
        "k long, seg string, eff date",
    )
    out = scd2_merge(dim, upd, ["k"], ["seg"], "eff").collect()
    # NULL->value and value->NULL must BOTH version (eqNullSafe comparison)
    assert len(out) == 4
    currents = {(r["k"], r["seg"]) for r in out if r["is_current"]}
    assert currents == {(1, "now_set"), (2, None)}


def test_zorder_layout_improves_multi_column_pruning(spark, tmp_path):
    from usedcars_bigdata_spark.operators.partitioning import zorder_layout

    # two independent uniform dimensions; a layout sorted by x alone gives
    # ~full-span files on y, Z-order gives compact spans on BOTH
    df = spark.range(40_000).select(
        F.col("id"),
        (F.xxhash64("id", F.lit(1)) % 10_000).alias("x"),
        (F.xxhash64("id", F.lit(2)) % 10_000).alias("y"),
    )
    n_files = 16

    def avg_span(path: str, col: str) -> float:
        part = spark.read.parquet(path).withColumn(
            "__f", F.input_file_name()
        )
        spans = (
            part.groupBy("__f")
            .agg((F.max(col) - F.min(col)).alias("span"))
            .agg(F.avg("span"))
            .first()[0]
        )
        full = 2 * 10_000  # x/y range is (-10000, 10000)
        return float(spans) / full

    single = str(tmp_path / "single")
    df.repartitionByRange(n_files, "x").sortWithinPartitions("x").write.parquet(single)
    zpath = str(tmp_path / "zorder")
    zorder_layout(df, ["x", "y"], n_partitions=n_files).write.parquet(zpath)

    # single-column layout: x files are tight, y files span ~everything
    assert avg_span(single, "x") < 0.2
    assert avg_span(single, "y") > 0.8
    # z-order: BOTH dimensions get compact per-file spans
    zx, zy = avg_span(zpath, "x"), avg_span(zpath, "y")
    assert zx < 0.5 and zy < 0.5, (zx, zy)
    # and the row set is unchanged
    assert spark.read.parquet(zpath).count() == 40_000


def test_zorder_key_deterministic_and_null_safe(spark):
    from usedcars_bigdata_spark.operators.partitioning import zorder_key

    df = spark.createDataFrame(
        [(1, 10.0, 5.0), (2, None, 5.0), (3, 10.0, None)],
        "id long, x double, y double",
    )
    keyed, col = zorder_key(df, ["x", "y"], bits=4)
    a = {r["id"]: r[col] for r in keyed.collect()}
    b = {r["id"]: r[col] for r in zorder_key(df, ["x", "y"], bits=4)[0].collect()}
    assert a == b
    assert all(v is not None and v >= 0 for v in a.values())


def test_zorder_bucket_exprs_contract(spark):
    """bucket_exprs must be one Column per keyed column (ValueError
    otherwise), and out-of-range ids are masked onto [0, 2^bits) instead
    of bleeding into other columns' bit slots (r9 ADVICE fix)."""
    import pytest

    from usedcars_bigdata_spark.operators.partitioning import zorder_key

    df = spark.createDataFrame([(1, 3, 5)], "id long, a long, b long")
    with pytest.raises(ValueError, match="one Column per keyed column"):
        zorder_key(df, ["a", "b"], bits=4, bucket_exprs=[F.col("a")])
    # 2^4 grid: bucket 19 must interleave exactly like 19 & 15 == 3
    in_range = zorder_key(
        df, ["a", "b"], bits=4, bucket_exprs=[F.lit(3), F.col("b")]
    )[0].collect()[0]["__zorder"]
    wrapped = zorder_key(
        df, ["a", "b"], bits=4, bucket_exprs=[F.lit(19), F.col("b")]
    )[0].collect()[0]["__zorder"]
    assert wrapped == in_range


def test_profile_table_one_scan_semantics(tiny):
    from usedcars_bigdata_spark.operators.agg import profile_table

    got = {r["col_name"]: r for r in profile_table(tiny, ["k", "v", "tag"]).collect()}
    assert set(got) == {"k", "v", "tag"}
    assert all(r["n_rows"] == 5 for r in got.values())
    assert got["v"]["n_nulls"] == 1 and got["tag"]["n_nulls"] == 1
    assert got["k"]["n_distinct"] == 3
    assert got["k"]["min_str"] == "a" and got["k"]["max_str"] == "c"
    # one scan: a single aggregate, no per-column jobs
    plan = profile_table(tiny, ["k", "v", "tag"])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan") <= 2  # expand-based distinct may rescan once


def test_pseudonymize_integrity_and_nulls(spark):
    from usedcars_bigdata_spark.operators.clean import pseudonymize
    import hashlib

    df = spark.createDataFrame(
        [(1, "alice", "x"), (2, "bob", "y"), (3, "alice", "z"), (4, None, "w")],
        "id long, name string, other string",
    )
    got = {r["id"]: r for r in pseudonymize(df, ["name"], salt="s").collect()}
    # deterministic + referential integrity: same value -> same token
    assert got[1]["name"] == got[3]["name"]
    assert got[1]["name"] == hashlib.sha256(b"s:alice").hexdigest()
    assert got[1]["name"] != got[2]["name"]
    assert got[4]["name"] is None          # NULL stays NULL
    assert got[1]["other"] == "x"          # untouched columns pass through


def test_hll_sketch_rollup_merges_without_rescan(spark, sf_dir):
    from usedcars_bigdata_spark.operators.agg import hll_sketch_rollup
    from usedcars_bigdata_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    got = {
        r["o_orderpriority"]: r["n_distinct_est"]
        for r in hll_sketch_rollup(orders, ["o_orderpriority"], "o_custkey").collect()
    }
    exact_per = {
        r["o_orderpriority"]: r["n"]
        for r in orders.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    exact_all = orders.agg(F.countDistinct("o_custkey").alias("n")).first()["n"]
    for k, exact in exact_per.items():
        assert abs(got[k] - exact) <= max(2, 0.05 * exact), (k, got[k], exact)
    # the ALL row comes from sketch UNION, not a second scan — estimate
    # must still track the true global distinct
    assert abs(got["ALL"] - exact_all) <= max(2, 0.05 * exact_all)


def test_profile_table_numeric_min_max_not_lexicographic(spark):
    from usedcars_bigdata_spark.operators.agg import profile_table

    df = spark.createDataFrame([(9,), (10,), (200,)], "price long")
    r = profile_table(df, ["price"]).first()
    assert r["min_str"] == "9" and r["max_str"] == "200"


def test_scd2_merge_preserves_timestamp_validity_type(spark):
    from usedcars_bigdata_spark.operators.joins import scd2_merge
    import datetime as dt

    t0 = dt.datetime(2020, 1, 1, 12, 0, 0)
    eff = dt.datetime(2023, 6, 1, 9, 30, 0)
    dim = spark.createDataFrame(
        [(1, "a", t0, None, True)],
        "k long, seg string, valid_from timestamp, valid_to timestamp, is_current boolean",
    )
    upd = spark.createDataFrame([(1, "b", eff)], "k long, seg string, eff timestamp")
    out = scd2_merge(dim, upd, ["k"], ["seg"], "eff")
    assert dict(out.dtypes)["valid_to"] == "timestamp"
    rows = {r["seg"]: r for r in out.collect()}
    assert rows["a"]["valid_to"] == eff and rows["b"]["valid_to"] is None


def test_zorder_key_empty_and_all_null_inputs(spark):
    from usedcars_bigdata_spark.operators.partitioning import zorder_key

    empty = spark.createDataFrame([], "id long, x double, y double")
    keyed, col = zorder_key(empty, ["x", "y"], bits=4)
    assert keyed.count() == 0  # degenerate layout, no crash
    nulls = spark.createDataFrame(
        [(1, None, None), (2, None, None)], "id long, x double, y double"
    )
    keyed2, col2 = zorder_key(nulls, ["x", "y"], bits=4)
    vals = [r[col2] for r in keyed2.collect()]
    assert vals == [0, 0]  # all-NULL columns land in bucket 0


def test_snapshot_diff_classification(spark):
    from usedcars_bigdata_spark.operators.joins import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, None, 40.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0),          # unchanged
         (2, "b", 99.0),          # updated (value)
         (4, "now", 40.0),        # updated (NULL -> value, null-safe)
         (5, "e", 50.0)],         # inserted; key 3 deleted
        "k long, s string, v double",
    )
    got = {r["k"]: r for r in snapshot_diff(old, new, ["k"]).collect()}
    assert set(got) == {2, 3, 4, 5}  # unchanged excluded
    assert got[2]["change_type"] == "updated" and got[2]["v"] == 99.0
    assert got[3]["change_type"] == "deleted" and got[3]["v"] == 30.0
    assert got[4]["change_type"] == "updated" and got[4]["s"] == "now"
    assert got[5]["change_type"] == "inserted"
    # include_unchanged mode reports everything
    full = snapshot_diff(old, new, ["k"], include_unchanged=True)
    assert full.count() == 5
    # round-trip: applying the changeset via merge reproduces `new`
    from usedcars_bigdata_spark.operators.joins import merge_upsert

    changes = snapshot_diff(old, new, ["k"])
    upserts = changes.filter("change_type != 'deleted'").drop("change_type")
    deletes = changes.filter("change_type = 'deleted'").select("k")
    rebuilt = merge_upsert(old, upserts, ["k"]).join(deletes, "k", "left_anti")
    assert sorted(map(tuple, rebuilt.collect())) == sorted(map(tuple, new.collect()))


class TestCumulativeDistinct:
    def test_growth_curve(self, spark):
        from usedcars_bigdata_spark.operators.timeseries import cumulative_distinct

        df = spark.createDataFrame(
            [
                (1, "2024-01-01 10:00:00"),
                (1, "2024-01-03 10:00:00"),  # repeat user: not new on day 3
                (2, "2024-01-01 12:00:00"),
                (3, "2024-01-02 09:00:00"),
            ],
            "user_id long, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        rows = {
            str(r["d"])[:10]: (r["new_keys"], r["cum_keys"])
            for r in cumulative_distinct(df, "user_id", "ts").collect()
        }
        assert rows["2024-01-01"] == (2, 2)
        assert rows["2024-01-02"] == (1, 3)
        assert "2024-01-03" not in rows  # no NEW users that day


class TestEventTransitions:
    def test_pair_counts_with_tiebreak(self, spark):
        from usedcars_bigdata_spark.operators.timeseries import event_transitions

        df = spark.createDataFrame(
            [
                (1, "2024-01-01 10:00:00", "view", 1),
                (1, "2024-01-01 10:01:00", "click", 2),
                (1, "2024-01-01 10:02:00", "click", 3),
                (2, "2024-01-01 10:00:00", "view", 4),
                # same timestamp as id 4: order pinned by id
                (2, "2024-01-01 10:00:00", "purchase", 5),
            ],
            "user_id long, ts string, event_type string, event_id long",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        out = {
            (r["from_type"], r["to_type"]): r["n_transitions"]
            for r in event_transitions(
                df, "user_id", "ts", "event_type", "event_id"
            ).collect()
        }
        assert out == {
            ("view", "click"): 1,
            ("click", "click"): 1,
            ("view", "purchase"): 1,
        }


class TestMaxConcurrency:
    def test_overlap_and_touching(self, spark):
        from usedcars_bigdata_spark.operators.timeseries import max_concurrency

        df = spark.createDataFrame(
            [
                # type a: [0,10], [5,15], [12,20] → peak 2
                ("a", "2024-01-01 00:00:00", 10.0),
                ("a", "2024-01-01 00:00:05", 10.0),
                ("a", "2024-01-01 00:00:12", 8.0),
                # type b: [0,10] and [10,20] touch → NOT concurrent
                ("b", "2024-01-01 00:00:00", 10.0),
                ("b", "2024-01-01 00:00:10", 10.0),
            ],
            "event_type string, ts string, value double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        out = {
            r["event_type"]: r["max_concurrent"]
            for r in max_concurrency(df, "ts", "value", "event_type").collect()
        }
        assert out == {"a": 2, "b": 1}


class TestGapsIslands:
    def test_streaks(self, spark):
        from usedcars_bigdata_spark.operators.timeseries import gaps_islands

        rows = []
        for d in ["01", "02", "03", "07", "08", "15"]:
            rows.append((1, f"2024-01-{d} 09:00:00"))
            rows.append((1, f"2024-01-{d} 17:00:00"))  # two events same day
        rows.append((2, "2024-01-05 09:00:00"))
        df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        out = {
            r["user_id"]: (r["n_islands"], r["longest_run"], r["active_days"])
            for r in gaps_islands(df, "user_id", "ts").collect()
        }
        assert out[1] == (3, 3, 6)  # [1-3], [7-8], [15]
        assert out[2] == (1, 1, 1)


class TestPagerankUnrolled:
    def test_symmetric_triangle_is_uniform(self, spark):
        from usedcars_bigdata_spark.operators.graph import pagerank_unrolled

        # K3: symmetry forces the uniform distribution at every iteration
        edges = spark.createDataFrame(
            [(a, b) for a in (1, 2, 3) for b in (1, 2, 3) if a != b],
            "src long, dst long",
        )
        out = {r["node"]: r["pr"] for r in pagerank_unrolled(edges, "src", "dst").collect()}
        assert all(abs(v - 1 / 3) < 5e-8 for v in out.values())  # 8-decimal grid

    def test_star_center_dominates_and_mass_conserved(self, spark):
        from usedcars_bigdata_spark.operators.graph import pagerank_unrolled

        pairs = [(0, i) for i in (1, 2, 3)] + [(i, 0) for i in (1, 2, 3)]
        edges = spark.createDataFrame(pairs, "src long, dst long")
        out = {r["node"]: r["pr"] for r in pagerank_unrolled(edges, "src", "dst").collect()}
        # hand-unrolled 3 iterations, d=0.85, N=4
        assert abs(out[0] - 0.6208125) < 1e-7
        assert abs(out[1] - 0.1263958333) < 1e-7
        assert abs(sum(out.values()) - 1.0) < 5e-8  # no dangling mass lost (8-dec grid)


class TestRollingActiveKeys:
    def test_window_semantics(self, spark):
        from usedcars_bigdata_spark.operators.timeseries import rolling_active_keys

        # user 1 active hour 0; user 2 active hour 1; window=2h
        df = spark.createDataFrame(
            [
                (1, "2024-01-01 00:10:00"),
                (1, "2024-01-01 00:50:00"),  # same hour: distinct collapses
                (2, "2024-01-01 01:10:00"),
                (3, "2024-01-01 03:10:00"),
            ],
            "user_id long, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        out = {
            str(r["bucket_start"]): r["n_active"]
            for r in rolling_active_keys(
                df, "user_id", "ts", window_buckets=2, bucket="hour"
            ).collect()
        }
        assert out["2024-01-01 00:00:00"] == 1  # u1
        assert out["2024-01-01 01:00:00"] == 2  # u1 (carry) + u2
        assert out["2024-01-01 02:00:00"] == 1  # u2 carry
        assert out["2024-01-01 03:00:00"] == 1  # u3


def test_holt_trend_carry_across_arrow_batches(spark):
    from usedcars_bigdata_spark.operators.timeseries import holt_trend
    import datetime as dt

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        t0 = dt.datetime(2024, 3, 1)
        vals = [float((i * 31) % 97) for i in range(40)]
        rows = [(i, 5, t0 + dt.timedelta(minutes=i), v) for i, v in enumerate(vals)]
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, value double"
        ).coalesce(1)
        got = {
            r["event_id"]: (r["level"], r["trend"], r["rn"])
            for r in holt_trend(
                df, "user_id", "ts", "event_id", "value"
            ).collect()
        }
        lv, tr = vals[0], 0.0
        assert got[0] == (lv, tr, 1)
        for i, x in enumerate(vals[1:], start=1):
            new_lv = 0.5 * x + 0.5 * (lv + tr)
            tr = 0.5 * (new_lv - lv) + 0.5 * tr
            lv = new_lv
            assert got[i] == (lv, tr, i + 1), f"diverged at {i}"
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_holt_winters_matches_recurrence_with_wraparound(spark):
    """Manual replay with season m=2 over a 9-point series (the seasonal
    state wraps four times), forced across 3-row Arrow batches."""
    from usedcars_bigdata_spark.operators.timeseries import (
        holt_winters_additive,
    )

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        xs = [10.0, 14.0, 9.0, 15.0, 11.0, 16.0, 8.0, 13.0, 12.0]
        df = spark.createDataFrame(
            [("k", i, x) for i, x in enumerate(xs)],
            "key string, t int, x double",
        ).coalesce(1)
        got = {
            r.rn: (r.level, r.trend, r.seasonal)
            for r in holt_winters_additive(
                df, "key", "t", "x", season=2
            ).collect()
        }
        m, a = 2, 0.5
        lv, tr = xs[0], 0.0
        hist = []
        for i, x in enumerate(xs, start=1):
            s_used = hist[i - m - 1] if i > m else 0.0
            if i > 1:
                new_lv = a * (x - s_used) + (1 - a) * (lv + tr)
                tr = a * (new_lv - lv) + (1 - a) * tr
                lv = new_lv
            s_new = a * (x - lv) + (1 - a) * s_used
            hist.append(s_new)
            assert got[i] == (lv, tr, s_new), (i, got[i], (lv, tr, s_new))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_nearest_asof_join_directions_and_ties(spark):
    """Nearest as-of: picks the closer of backward/forward, backward on
    exact ties; equality matches backward; keys without right rows get
    NULL direction."""
    import datetime as dt

    from usedcars_bigdata_spark.operators.joins import nearest_asof_join

    t0 = dt.datetime(2024, 1, 1, 12, 0)
    m = dt.timedelta(minutes=1)
    left = spark.createDataFrame(
        [
            (1, 100, t0),            # purchase 2min before and 1min after -> forward
            (1, 101, t0 + 10 * m),   # nearest is backward (t0+1) vs none after until +30
            (1, 102, t0 + 20 * m),   # equidistant 19 back (t0+1) vs 10 fwd (t0+30) -> forward
            (2, 200, t0),            # no purchases for user 2 -> NULL
            (3, 300, t0),            # purchase exactly AT t0 -> backward, delta 0
        ],
        "user_id long, event_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, t0 - 2 * m),
            (1, t0 + 1 * m),
            (1, t0 + 30 * m),
            (3, t0),
        ],
        "user_id long, ts timestamp",
    )
    out = {
        r.event_id: (r.ts_near, r.direction)
        for r in nearest_asof_join(
            left, right, ["user_id"], "ts", "ts", [], suffix="_near"
        ).collect()
    }
    assert out[100] == (t0 + 1 * m, "forward")
    assert out[101] == (t0 + 1 * m, "backward")
    assert out[102] == (t0 + 30 * m, "forward")
    assert out[200] == (None, None)
    assert out[300] == (t0, "backward")


# ------------------------------------------------------- bloom join pruning


def test_bloom_members_always_pass_and_huge_filter_exact(spark):
    from usedcars_bigdata_spark.operators.joins import bloom_filter_audit

    build = spark.createDataFrame([(i,) for i in range(20)], ["key"])
    probe = spark.createDataFrame([(i,) for i in range(200)], ["key"])
    r = bloom_filter_audit(build, probe, "key", m_bits=1 << 20, k_hashes=4)
    row = r.collect()[0]
    # 2^20 bits for 20 keys: astronomically unlikely any of the 180
    # non-members collides on all 4 positions -> exact semi-join.
    assert row.n_build_keys == 20
    assert row.n_probe_keys == 200
    assert row.n_pass == 20
    assert row.n_false_pos == 0
    assert row.fp_rate == 0.0


def test_bloom_tiny_filter_saturates_all_pass(spark):
    from usedcars_bigdata_spark.operators.joins import bloom_filter_audit

    build = spark.createDataFrame([(i,) for i in range(500)], ["key"])
    probe = spark.createDataFrame([(i,) for i in range(600)], ["key"])
    # m=8 bits with 500 keys: every bit set -> every probe passes.
    row = bloom_filter_audit(build, probe, "key", m_bits=8, k_hashes=2).collect()[0]
    assert row.n_pass == 600
    assert row.n_false_pos == 100
    assert row.fp_rate == 1.0


# --------------------------------------------------------------- bitemporal


def test_bitemporal_latest_system_time_axis(spark):
    from usedcars_bigdata_spark.operators.joins import bitemporal_latest

    # key 1: v1 (valid 10, sys 11, amt 100), v2 correction (sys 18, 150)
    rows = [
        (1, 10, 11, 100, 1),
        (1, 10, 18, 150, 2),
        (2, 12, 13, 200, 1),
    ]
    v = spark.createDataFrame(
        rows, ["k", "valid_d", "sys_d", "amt", "version"]
    )
    # system as-of 15: correction not yet believed -> v1 visible
    early = bitemporal_latest(v, "k", "valid_d", "sys_d", 20, 15).collect()
    got = {(r.k): (r.version, r.amt) for r in early}
    assert got == {1: (1, 100), 2: (1, 200)}
    # system as-of 19: correction visible
    late = bitemporal_latest(v, "k", "valid_d", "sys_d", 20, 19).collect()
    got = {(r.k): (r.version, r.amt) for r in late}
    assert got == {1: (2, 150), 2: (1, 200)}
    # valid as-of 11: key 2 (valid 12) out of scope entirely
    narrow = bitemporal_latest(v, "k", "valid_d", "sys_d", 11, 19).collect()
    assert {r.k for r in narrow} == {1}


# -------------------------------------------------------------- t-closeness


def test_t_closeness_identical_distribution_zero(spark):
    from usedcars_bigdata_spark.operators.clean import t_closeness

    # two groups with the SAME sensitive mix as global -> TV = 0
    rows = []
    for g in ("a", "b"):
        rows += [(g, "x")] * 6 + [(g, "y")] * 4
    df = spark.createDataFrame(rows, ["qi", "s"])
    out = t_closeness(df, ["qi"], "s", min_group=5).collect()
    assert all(r.tv_distance == 0.0 for r in out)


def test_t_closeness_skewed_group_hand_computed(spark):
    from usedcars_bigdata_spark.operators.clean import t_closeness

    # group a: all x (10); group b: all y (10). global: 50/50
    rows = [("a", "x")] * 10 + [("b", "y")] * 10
    df = spark.createDataFrame(rows, ["qi", "s"])
    out = {r.qi: r.tv_distance for r in t_closeness(df, ["qi"], "s").collect()}
    # TV(a) = 0.5*(|1-0.5| + |0-0.5|) = 0.5
    assert out == {"a": 0.5, "b": 0.5}


def test_t_closeness_missing_cell_counts(spark):
    from usedcars_bigdata_spark.operators.clean import t_closeness

    # group a never sees 'z': the zero cell must still contribute
    rows = [("a", "x")] * 10 + [("b", "z")] * 10 + [("b", "x")] * 10
    df = spark.createDataFrame(rows, ["qi", "s"])
    out = {r.qi: r.tv_distance for r in t_closeness(df, ["qi"], "s").collect()}
    # global: x=2/3, z=1/3. a: x=1 -> TV = .5*(1/3 + 1/3) = 1/3
    assert out["a"] == round(1 / 3, 6)
    # b: x=.5, z=.5 -> TV = .5*(|0.5-2/3| + |0.5-1/3|) = 1/6
    assert out["b"] == round(1 / 6, 6)


# ------------------------------------------------ join cardinality audit


def test_join_cardinality_exact_vs_estimate(spark):
    from usedcars_bigdata_spark.operators.joins import (
        join_cardinality_audit,
    )

    # left: key 1 x3, key 2 x1. right: key 1 x2, key 3 x5.
    l = spark.createDataFrame([(1,), (1,), (1,), (2,)], ["lk"])
    r = spark.createDataFrame([(1,), (1,), (3,), (3,), (3,), (3,), (3,)], ["rk"])
    out = join_cardinality_audit(l, r, "lk", "rk").collect()[0]
    assert out.exact_join_rows == 6  # 3*2 on key 1 only
    # independence: 4*7 / max(2,2) = 14
    assert out.independence_est == 14.0
    assert out.est_over_exact == round(14 / 6, 6)
    assert (out.n_left, out.n_right, out.d_left, out.d_right) == (4, 7, 2, 2)


# --- r9 review: join/partition/graph/sample contracts ---


def test_salted_join_rejects_right_and_full(spark):
    import pytest

    from usedcars_bigdata_spark.operators.partitioning import salted_join

    l = spark.createDataFrame([(1, "x")], ["k", "lv"])
    r = spark.createDataFrame([(1, "y"), (2, "z")], ["k", "rv"])
    # left family fine; an unmatched right row must not multiply
    assert salted_join(l, r, "k", buckets=4, how="left").count() == 1
    for bad in ("right", "full_outer", "full", "outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(l, r, "k", how=bad)


def test_bloom_audit_reports_true_build_count(spark):
    from usedcars_bigdata_spark.operators.joins import bloom_filter_audit

    build = spark.createDataFrame([(i,) for i in range(100)], ["key"])
    probe = spark.createDataFrame([(i,) for i in range(90, 150)], ["key"])
    row = bloom_filter_audit(build, probe, "key").first()
    assert row.n_build_keys == 100  # was |probe ∩ build| = 10
    assert row.n_probe_keys == 60


def test_join_cardinality_disjoint_keys_zero_not_null(spark):
    from usedcars_bigdata_spark.operators.joins import join_cardinality_audit

    l = spark.createDataFrame([(1,), (2,)], ["k"])
    r = spark.createDataFrame([(3,), (4,)], ["k"])
    row = join_cardinality_audit(l, r, "k", "k").first()
    assert row.exact_join_rows == 0 and row.est_over_exact is None


def test_scd2_merge_null_effective_ts_not_dropped(spark):
    from usedcars_bigdata_spark.operators.joins import scd2_merge

    dim = spark.createDataFrame(
        [(1, "A", 10, None, True)],
        "k long, seg string, valid_from long, valid_to long, is_current boolean",
    )
    upd = spark.createDataFrame(
        [(1, "B", None)], "k long, seg string, eff long"
    )
    out = scd2_merge(dim, upd, ["k"], ["seg"], "eff").collect()
    segs = sorted((r.seg, r.is_current) for r in out)
    # the changed update must be APPLIED (close A, open B) even though
    # its effective ts is NULL — presence is a literal marker now
    assert segs == [("A", False), ("B", True)]


def test_resource_allocation_ignores_reverse_edges_and_loops(spark):
    from usedcars_bigdata_spark.operators.graph import resource_allocation_topk

    edges = spark.createDataFrame(
        [(2, 5), (5, 2), (2, 2), (2, 3), (3, 5), (5, 7), (2, 7)],
        ["u", "v"],
    )
    out = resource_allocation_topk(edges, "u", "v", k=10).collect()
    pairs = {(r.node_a, r.node_b) for r in out}
    # 2-5 exists (in both orientations) -> must NOT be predicted
    assert (2, 5) not in pairs and (5, 2) not in pairs


def test_label_propagation_string_ids_deterministic(spark):
    from usedcars_bigdata_spark.operators.graph import (
        label_propagation_unrolled,
    )

    edges = spark.createDataFrame(
        [("u1", "u2"), ("u2", "u3"), ("u9", "u8")], ["a", "b"]
    )
    runs = [
        tuple(
            sorted(
                (r.node, r.label)
                for r in label_propagation_unrolled(
                    edges, "a", "b", iterations=3
                ).collect()
            )
        )
        for _ in range(2)
    ]
    assert runs[0] == runs[1]  # bit-stable across runs
    labels = dict(runs[0])
    # the r8 -lbl tie-break cast string labels to NULL doubles; every
    # label must now be a real node id (synchronous LPA legitimately
    # oscillates on the isolated u8-u9 pair, so equality of the pair's
    # labels is NOT the invariant — determinism and non-NULL are)
    assert all(v is not None for v in labels.values())
    # labels are real node ids from the graph, never cast artifacts
    assert set(labels.values()) <= {"u1", "u2", "u3", "u8", "u9"}


def test_graph_param_guards(spark):
    import pytest

    from usedcars_bigdata_spark.operators.graph import hits_unrolled
    from usedcars_bigdata_spark.operators.joins import interval_join
    from usedcars_bigdata_spark.operators.partitioning import zorder_key

    edges = spark.createDataFrame([(1, 2)], ["u", "v"])
    with pytest.raises(ValueError, match="iterations"):
        hits_unrolled(edges, "u", "v", iterations=0)
    df9 = spark.createDataFrame(
        [tuple(float(i) for i in range(9))], [f"c{i}" for i in range(9)]
    )
    with pytest.raises(ValueError, match="63 usable"):
        zorder_key(df9, [f"c{i}" for i in range(9)], bits=8)
    iv = spark.createDataFrame([(1, 0, 10)], ["iid", "lo", "hi"])
    pts = spark.createDataFrame([(5,)], ["v"])
    with pytest.raises(ValueError, match="bucket_width"):
        interval_join(pts, "v", iv, "lo", "hi", bucket_width=0)


def test_neyman_null_values_and_constant_strata(spark):
    from usedcars_bigdata_spark.operators.sample import neyman_allocation

    df = spark.createDataFrame(
        [("a", 10), ("a", 10), ("a", None), ("b", 1), ("b", 9)],
        ["s", "v"],
    )
    out = {r.stratum: r for r in neyman_allocation(df, "s", "v", 100).collect()}
    assert out["a"].n_stratum == 2 and out["a"].std == 0.0  # NULL excluded
    assert out["b"].alloc == 100  # all weight on the varying stratum
    const = spark.createDataFrame([("a", 5), ("b", 5)], ["s", "v"])
    crows = neyman_allocation(const, "s", "v", 100).collect()
    assert all(r.weight is None and r.alloc is None for r in crows)


def test_grouped_running_sums_matches_window_form(spark):
    """grouped_running_sums (r12, the hot-key-neutral grouped prefix sum)
    must be bit-identical to sum() OVER (PARTITION BY key ORDER BY ...)
    in both inclusive and exclusive frames, under an 80%-hot key and
    across bucket counts (bucket-invariance is the two-pass family's
    core contract)."""
    from pyspark.sql import Window

    from usedcars_bigdata_spark.operators.window import (
        grouped_running_sums,
        release_hubs,
    )

    rows = [
        (0 if i % 5 != 4 else 1 + i % 3, i, (i * 37) % 13)
        for i in range(1, 601)
    ]
    df = spark.createDataFrame(rows, "k long, id long, v long")
    order = [F.col("id").asc()]
    w = Window.partitionBy("k").orderBy("id")
    want_inc = {
        r.id: r.cs
        for r in df.select(
            "id",
            F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cs"),
        ).collect()
    }
    want_exc = {
        r.id: r.cs
        for r in df.select(
            "id",
            F.coalesce(
                F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).alias("cs"),
        ).collect()
    }
    for nb in (3, 32):
        got_inc = {
            r.id: r.cs
            for r in grouped_running_sums(
                df, ["k"], order, ["v"], ["cs"], n_buckets=nb
            ).collect()
        }
        got_exc = {
            r.id: r.cs
            for r in grouped_running_sums(
                df, ["k"], order, ["v"], ["cs"], n_buckets=nb, exclusive=True
            ).collect()
        }
        assert got_inc == want_inc, nb
        assert got_exc == want_exc, nb
    release_hubs()


def test_grouped_lag_matches_window_form(spark):
    """grouped_lag must be bit-identical to lag() OVER (PARTITION BY key
    ORDER BY ...), including NULL lag VALUES crossing bucket boundaries
    (the carry is positional — row_number == 1 — not a coalesce that
    would swallow a genuine NULL answer)."""
    from pyspark.sql import Window

    from usedcars_bigdata_spark.operators.window import (
        grouped_lag,
        release_hubs,
    )

    rows = [
        (
            0 if i % 5 != 4 else 1 + i % 3,
            i,
            None if i % 4 == 0 else float((i * 37) % 13),
        )
        for i in range(1, 601)
    ]
    df = spark.createDataFrame(rows, "k long, id long, v double")
    w = Window.partitionBy("k").orderBy("id")
    want = {r.id: r.lg for r in df.select("id", F.lag("v").over(w).alias("lg")).collect()}
    for nb in (3, 32):
        got = {
            r.id: r.lg
            for r in grouped_lag(df, ["k"], ["id"], "v", "lg", n_buckets=nb).collect()
        }
        assert got == want, nb
    release_hubs()


def test_sessionize_scalable_matches_window_form(spark, sf_dir):
    """The hot-key-neutral gaps-and-islands decomposition (r12:
    grouped_lag + grouped_running_sums) must label every event with the
    SAME session_seq as the window-form sessionize — including under a
    planted key holding half the stream (the shape whose
    partitionBy(user) plan the decomposition exists to avoid)."""
    from usedcars_bigdata_spark.operators.timeseries import (
        sessionize,
        sessionize_scalable,
    )
    from usedcars_bigdata_spark.operators.window import release_hubs
    from usedcars_bigdata_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    hot = ev.withColumn(
        "user_id",
        F.when(F.col("event_id") % 2 == 0, F.lit(0)).otherwise(
            F.col("user_id")
        ),
    )
    for frame in (ev, hot):
        want = {
            r["event_id"]: r["session_seq"]
            for r in sessionize(frame, "user_id", "ts", "event_id", 30).collect()
        }
        got = {
            r["event_id"]: r["session_seq"]
            for r in sessionize_scalable(
                frame, "user_id", "ts", "event_id", 30, n_buckets=8
            ).collect()
        }
        assert got == want
        release_hubs()
