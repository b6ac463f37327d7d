"""ML surface tests (SURVEY.md §2.11): pipelines fit, metrics are sane, the
adjusted-R² fix is correct, and the scalable cosine top-k matches a
driver-side computation on a small fixture."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from usedcars_bigdata_spark.ml import features as FT
from usedcars_bigdata_spark.ml import regress as RG
from usedcars_bigdata_spark.ml import textsim as TS
from usedcars_bigdata_spark.sources import load_table


@pytest.fixture(scope="module")
def feature_table(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("label"),
        F.year("o_orderdate").cast("double").alias("order_year"),
        "o_orderpriority",
        "o_orderstatus",
    )
    return FT.build_feature_table(
        orders, "label", ["order_year", "o_orderpriority", "o_orderstatus"]
    ).cache()


def test_featurization_shape(feature_table):
    row = feature_table.first()
    assert row["features"].size == 3
    # run_model_suite reads the feature count from this metadata, not a job
    assert feature_table.schema["features"].metadata["ml_attr"]["num_attrs"] == 3
    assert feature_table.count() > 0


@pytest.mark.parametrize("name", ["linear", "ridge", "decision_tree", "random_forest"])
def test_fit_and_evaluate(feature_table, name):
    train, test = feature_table.randomSplit([0.8, 0.2], seed=42)
    _, metrics = RG.fit_and_evaluate(train, test, name, n_features=3)
    assert metrics["n"] > 0
    assert metrics["rmse"] > 0 and math.isfinite(metrics["rmse"])
    assert math.isfinite(metrics["r2"])
    assert abs(metrics["rmse"] ** 2 - metrics["mse"]) < 1e-6 * metrics["mse"]


def test_adj_r2_correct_and_parity(spark):
    # y = 2x exactly → R² = 1 regardless; adj formula checked on noisy fit.
    df = spark.createDataFrame(
        [(float(i), float(2 * i + (i % 3))) for i in range(100)], "x double, label double"
    )
    data = FT.assemble_features(df, ["x"]).select("label", "features")
    train, test = data.randomSplit([0.8, 0.2], seed=7)
    _, m = RG.fit_and_evaluate(train, test, "linear", n_features=1)
    n, r2 = m["n"], m["r2"]
    expected_adj = 1 - (1 - r2) * (n - 1) / (n - 1 - 1)
    assert abs(m["adj_r2"] - expected_adj) < 1e-12
    _, m_parity = RG.fit_and_evaluate(
        train, test, "linear", n_features=1, parity_adj_r2=True
    )
    assert m_parity["adj_r2"] == m_parity["r2"]  # the reference's bug, preserved


def test_model_suite_table(feature_table):
    out = RG.run_model_suite(feature_table, ["linear", "decision_tree"])
    rows = {r["model"]: r for r in out.collect()}
    assert set(rows) == {"linear", "decision_tree"}
    assert all(math.isfinite(r["rmse"]) for r in rows.values())


def test_tfidf_recommend(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(200).cache()
    recs = TS.recommend(docs, query_id=0, k=5)
    got = recs.collect()
    assert len(got) == 5
    assert [r["rank"] for r in got] == [1, 2, 3, 4, 5]
    assert all(r["neighbor_id"] != 0 for r in got)


def test_cosine_topk_matches_manual(spark):
    import numpy as np

    vecs = [(i, [float(x) for x in np.random.RandomState(i).rand(8)]) for i in range(30)]
    df = spark.createDataFrame(vecs, "doc_id long, arr array<double>")
    from pyspark.ml.functions import array_to_vector
    feats = df.withColumn("tfidf", array_to_vector("arr"))
    normed = TS.normalize_l2(feats)
    qids = spark.createDataFrame([(3,)], "doc_id long")
    got = {
        r["neighbor_id"]: r["rank"]
        for r in TS.cosine_topk(normed, qids, "doc_id", k=3).collect()
    }
    # driver-side reference computation
    import numpy.linalg as la

    m = {i: np.array(v) / la.norm(v) for i, v in vecs}
    sims = sorted(
        ((float(m[3] @ m[i]), i) for i in m if i != 3), key=lambda t: (-t[0], t[1])
    )
    want = {i: rank + 1 for rank, (_, i) in enumerate(sims[:3])}
    assert got == want


def test_lsh_similarity_join_runs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(100)
    feats, _ = TS.fit_tfidf(docs)
    pairs = TS.lsh_similarity_join(feats, "doc_id", threshold=0.9)
    assert pairs.columns == ["id_a", "id_b", "jaccard_dist"]
    assert pairs.count() >= 0


def test_model_suite_applies_adj_r2_correction(feature_table):
    out = RG.run_model_suite(feature_table, ["linear"])
    r = out.first()
    n, r2 = r["n_test"], r["r2"]
    # run_model_suite must thread n_features through — adj != plain r2
    expected = 1 - (1 - r2) * (n - 1) / (n - 3 - 1)
    assert abs(r["adj_r2"] - expected) < 1e-9
    assert r["adj_r2"] != r2


def test_prep_dead_import_surface(spark, sf_dir):
    """The reference's dead imports (Imputer, OneHotEncoder, Bucketizer,
    KMeans, CrossValidator — SURVEY F12) are first-class here."""
    from pyspark.sql import functions as F

    from usedcars_bigdata_spark.ml import prep
    from usedcars_bigdata_spark.ml.features import build_feature_table
    from usedcars_bigdata_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("label"),
        F.year("o_orderdate").cast("double").alias("order_year"),
        "o_orderpriority",
        "o_orderstatus",
    ).limit(2000)

    # Imputer: plant nulls, verify they're filled with the median
    holey = orders.withColumn(
        "order_year", F.when(F.rand(7) < 0.1, None).otherwise(F.col("order_year"))
    )
    imputed, _ = prep.impute_numeric(holey, ["order_year"])
    assert imputed.filter(F.col("order_year__imp").isNull()).count() == 0

    # Bucketizer: explicit price bands
    banded = prep.bucketize(orders, "label", [0.0, 50000.0, 150000.0, float("inf")])
    n_buckets = banded.select("label__bucket").distinct().count()
    assert 2 <= n_buckets <= 3

    data = build_feature_table(
        orders, "label", ["order_year", "o_orderpriority", "o_orderstatus"]
    )

    # OneHotEncoder over the indexed categoricals inside build output
    # (re-index a copy to get explicit idx columns)
    from usedcars_bigdata_spark.ml.features import index_categoricals

    idx_df, _ = index_categoricals(
        orders, ["o_orderpriority", "o_orderstatus"], keep_original=True
    )
    oh_df, _ = prep.one_hot(
        idx_df, ["o_orderpriority__idx", "o_orderstatus__idx"]
    )
    assert "o_orderpriority__idx__oh" in oh_df.columns

    # KMeans + silhouette on the assembled features
    clustered, model, sil = prep.kmeans_cluster(data, k=4)
    assert clustered.select("prediction").distinct().count() <= 4
    assert -1.0 <= sil <= 1.0
    # seeded -> deterministic assignment counts
    again, _, _ = prep.kmeans_cluster(data, k=4)
    a = sorted(r["count"] for r in clustered.groupBy("prediction").count().collect())
    b = sorted(r["count"] for r in again.groupBy("prediction").count().collect())
    assert a == b

    # Seeded cross-validation over a small ridge grid
    from pyspark.ml.regression import LinearRegression

    best, metrics = prep.cross_validate_regressor(
        data,
        LinearRegression(maxIter=20),
        {"regParam": [0.1, 0.3]},
        n_folds=2,
    )
    assert len(metrics) == 2 and all(m > 0 for m in metrics)


class TestALS:
    def test_block_structure_recommendations(self, spark):
        """Planted preference blocks: users 0-9 interact only with items
        0-9, users 10-19 only with items 10-19. ALS must recommend
        within-block items — cross-block recommendations mean the
        factorization failed to learn an obvious structure."""
        from usedcars_bigdata_spark.ml.als import fit_als, top_recommendations

        rows = []
        for u in range(20):
            base = 0 if u < 10 else 10
            for j in range(10):
                if (u + j) % 3 != 0:  # leave holes so there IS something to predict
                    rows.append((u, base + j, 5.0))
        ratings = spark.createDataFrame(rows, "user int, item int, strength double")
        model = fit_als(ratings, rank=4, max_iter=8, seed=7)
        recs = top_recommendations(model, n=2).collect()
        assert len(recs) == 40  # 20 users x 2 ranks
        for r in recs:
            in_block = (r["user"] < 10) == (r["item"] < 10)
            assert in_block, f"cross-block rec: {r}"

    def test_implicit_ratings_rollup(self, spark, sf_dir):
        from usedcars_bigdata_spark.ml.als import implicit_ratings
        from usedcars_bigdata_spark.sources import load_table

        r = implicit_ratings(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "orders"),
        )
        assert r.columns == ["user", "item", "strength"]
        row = r.agg(F.min("strength").alias("lo")).collect()[0]
        assert row["lo"] >= 1.0  # quantities are >= 1


def test_word2vec_planted_cooccurrence(spark):
    """A word that always co-occurs with its partner must embed closer to
    it than to a word it never appears with — the recall-style quality
    pin for the seeded Word2Vec fit."""
    from usedcars_bigdata_spark.ml.textsim import fit_word2vec

    pair_docs = [("alpha beta " * 12).strip()] * 30
    other_docs = [("gamma delta " * 12).strip()] * 30
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(pair_docs + other_docs)], "id long, text string"
    )
    model = fit_word2vec(docs, vector_size=16, min_count=2, seed=7)
    syn = {r.word: r.similarity for r in model.findSynonyms("alpha", 3).collect()}
    assert "beta" in syn, syn
    # the co-occurring partner outranks the never-co-occurring words
    assert syn["beta"] >= max(
        (s for w, s in syn.items() if w in ("gamma", "delta")), default=-1.0
    ), syn


def test_word2vec_contract_entry_shape(spark, sf_dir):
    from usedcars_bigdata_spark.plans import QUERIES

    out = QUERIES["rows_word2vec_synonyms"](spark, sf_dir)
    rows = out.collect()
    assert out.columns == ["probe", "rank", "word", "similarity"]
    assert {r.probe for r in rows} == {"table", "query", "spark"}
    for r in rows:
        assert 1 <= r.rank <= 5
        assert -1.0 <= r.similarity <= 1.0001


def test_isotonic_calibration_invariants(spark, sf_dir):
    from usedcars_bigdata_spark.plans import QUERIES

    rows = QUERIES["rows_quality_calibration"](spark, sf_dir).collect()
    assert len(rows) >= 2
    zs = [r.z_boundary for r in rows]
    ps = [r.calibrated_p for r in rows]
    assert zs == sorted(zs)
    assert ps == sorted(ps)  # isotonic by construction
    assert all(0.0 <= p <= 1.0 for p in ps)
    # the curve must actually discriminate on this corpus
    assert ps[-1] > ps[0]


def test_string_indexer_frequency_desc_tie_semantics(spark):
    """Pin the exact semantics the ml_indexed_feature_hist oracle
    replays: most-frequent label -> index 0; frequency ties break
    alphabetically ASCENDING (Spark's frequencyDesc contract)."""
    from usedcars_bigdata_spark.ml.features import index_categoricals

    df = spark.createDataFrame(
        [("b",)] * 3 + [("c",)] * 2 + [("a",)] * 2 + [("d",)], ["v"]
    )
    indexed, _ = index_categoricals(df, ["v"], keep_original=True)
    mapping = {
        r.v: r.idx
        for r in indexed.select("v", indexed["v__idx"].alias("idx")).distinct().collect()
    }
    # b most frequent -> 0; a and c tie at 2 -> alphabetical: a=1, c=2; d last
    assert mapping == {"b": 0.0, "a": 1.0, "c": 2.0, "d": 3.0}


def test_evaluate_predictions_empty_split_nan_not_crash(spark):
    import math

    from usedcars_bigdata_spark.ml.regress import evaluate_predictions

    empty = spark.createDataFrame([], "prediction double, label double")
    m = evaluate_predictions(empty, n_features=2)
    assert m["n"] == 0.0 and math.isnan(m["rmse"]) and math.isnan(m["r2"])
    # n == p + 1: the adj-R2 denominator is 0 — NaN, not ZeroDivisionError
    tiny = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 2.5), (3.0, 2.9)], "prediction double, label double"
    )
    m2 = evaluate_predictions(tiny, n_features=2)
    assert math.isnan(m2["adj_r2"]) and not math.isnan(m2["r2"])


def test_cap_categories_null_is_its_own_value(spark):
    from usedcars_bigdata_spark.ml.features import cap_categories

    rows = [(None,)] * 4 + [("x",)] * 3 + [("y",)] * 2 + [("z",)]
    df = spark.createDataFrame(rows, ["cond"])
    out = cap_categories(df, ["cond"], top_n=2)
    counts = {r.cond: r.cnt for r in
              out.groupBy("cond").agg(__import__("pyspark.sql.functions",
              fromlist=["count"]).count("*").alias("cnt")).collect()}
    # NULL is the most frequent value: it stays NULL (top-2 = {NULL, x})
    assert counts.get(None) == 4 and counts.get("x") == 3
    assert counts.get("__other") == 3  # y + z capped


def _one_row_group_orders(spark, sf_dir, tmp_path):
    """Orders as one parquet file with one row group, which Spark scans
    with all its rows in one partition."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "orders_one_group.parquet")
    cols = ["o_totalprice", "o_orderdate", "o_orderpriority", "o_orderstatus"]
    table = pq.read_table(f"{sf_dir}/orders.parquet", columns=cols)
    pq.write_table(table, path, row_group_size=table.num_rows)
    assert pq.ParquetFile(path).num_row_groups == 1
    return spark.read.parquet(path).select(
        F.col("o_totalprice").alias("label"),
        F.year("o_orderdate").cast("double").alias("order_year"),
        "o_orderpriority",
        "o_orderstatus",
    )


def _features(df):
    return FT.build_feature_table(
        df, "label", ["order_year", "o_orderpriority", "o_orderstatus"]
    )


def _has_repartition(df) -> bool:
    return "Repartition" in df._jdf.queryExecution().optimizedPlan().toString()


def test_feature_table_spreads_one_row_group_source(spark, sf_dir, tmp_path):
    """A one-row-group source scans as one partition; the feature table
    every MLlib pass reads has one per core, and the round-robin spread
    deals the same rows to the same partitions on every build."""
    from pyspark.ml.functions import vector_to_array

    orders = _one_row_group_orders(spark, sf_dir, tmp_path)
    n = spark.sparkContext.defaultParallelism
    assert orders.rdd.getNumPartitions() < n

    def partition_hashes(df):
        row_hash = F.xxhash64("label", vector_to_array("features"))
        return sorted(
            (r[0], r[1], tuple(r[2]))
            for r in df.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count("*").alias("n"), F.sort_array(F.collect_list(row_hash)))
            .collect()
        )

    first, second = _features(orders), _features(orders)
    assert first.rdd.getNumPartitions() == n
    assert _has_repartition(first)
    hashes = partition_hashes(first)
    assert len(hashes) == n
    assert sum(r[1] for r in hashes) == orders.count()
    assert partition_hashes(second) == hashes


def test_feature_table_keeps_enough_partitions(spark):
    """An input with at least one partition per core, or an adaptive plan
    whose shuffle already sizes it, gets no new exchange."""
    n = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 200, numPartitions=n + 1).select(
        F.col("id").cast("double").alias("label"),
        (F.col("id") % 7).cast("double").alias("x"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("c"),
    )
    out = FT.build_feature_table(wide, "label", ["x", "c"])
    assert out.rdd.getNumPartitions() == n + 1
    assert not _has_repartition(out)
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()

    shuffled = wide.groupBy("x", "c").agg(F.sum("label").alias("label"))
    assert not _has_repartition(FT.build_feature_table(shuffled, "label", ["x", "c"]))


def test_spread_partition_count_runs_no_job(spark, sf_dir, tmp_path):
    """The partition check reads the count from the planned RDD and runs
    no job. The control: reading the count of an adaptive plan does run
    one, and the tracker sees it."""
    from usedcars_bigdata_spark.operators.partitioning import spread_over_cores

    sc = spark.sparkContext

    def job_ids():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(None))

    orders = _one_row_group_orders(spark, sf_dir, tmp_path)
    adaptive = orders.groupBy("o_orderstatus").count()
    before = job_ids()
    spread = spread_over_cores(orders)
    spread_over_cores(adaptive)
    assert job_ids() == before
    assert spread.rdd.getNumPartitions() == sc.defaultParallelism
    before = job_ids()
    adaptive.rdd.getNumPartitions()
    assert job_ids() != before
